"""Round-11 operator tests: the stdlib baseline-JPEG decoder (VERDICT
r10 item 4), the decode-route fallback hardening (ADVICE r10), and the
cache/harness fixes from ADVICE r10.

The JPEG vectors are the same exact-arithmetic construction the
`multimodal_decode_jpeg` oracle uses: per-block constant v plus one
F(4,4) ripple k·s(x)·s(y), flat-8 quant table — both coefficients
survive quantization exactly, so the decode must reproduce the planted
pixels byte-for-byte (no tolerance, no luck).
"""

from __future__ import annotations

import pandas as pd
import pytest

from mongo_to_clickhouse_spark.operators.multimodal import (
    PNG_SIG,
    _fake_decode,
    decode_jpeg_stdlib,
    decode_png_stdlib,
    encode_jpeg_stdlib,
    encode_png_stdlib,
    make_decode_kernel,
)

_S = (1, -1, -1, 1, 1, -1, -1, 1)  # sign pattern of the F(4,4) basis


def _planted(d: int) -> tuple[int, int, bytes]:
    wb, hb = 1 + d % 4, 1 + (d // 4) % 3
    w, h = wb * 8, hb * 8
    pix = bytearray(w * h)
    for by in range(hb):
        for bx in range(wb):
            v = 100 + (d + 7 * bx + 11 * by) % 56
            k = (d + 3 * bx + 5 * by) % 9 - 4
            for y in range(8):
                for x in range(8):
                    pix[(by * 8 + y) * w + bx * 8 + x] = v + k * _S[x] * _S[y]
    return w, h, bytes(pix)


@pytest.mark.parametrize("d", [0, 1, 2, 3, 5, 7, 12, 37, 100, 255, 99999])
def test_jpeg_roundtrip_byte_exact(d):
    w, h, pix = _planted(d)
    w2, h2, out = decode_jpeg_stdlib(encode_jpeg_stdlib(w, h, pix))
    assert (w2, h2) == (w, h)
    assert out == pix  # byte-for-byte: FDCT→quant→Huffman→IDCT closes


@pytest.mark.parametrize("interval", [1, 2, 3, 7])
def test_jpeg_restart_markers_roundtrip(interval):
    # DRI/RSTn path: DC predictor reset + byte realignment per interval
    w, h, pix = _planted(11)  # 4×3 blocks → several restart boundaries
    jpg = encode_jpeg_stdlib(w, h, pix, restart_interval=interval)
    assert decode_jpeg_stdlib(jpg) == (w, h, pix)


def test_jpeg_exercises_zrl_and_dc_diffs():
    # the construction must actually cover the Huffman paths the oracle
    # claims: nonzero F(4,4) (zigzag 39 → two ZRL symbols) and nonzero
    # DC differences between blocks
    w, h, pix = _planted(1)  # 2 blocks, k values differ from 0
    jpg = encode_jpeg_stdlib(w, h, pix)
    # byte-level sanity: entropy segment is non-trivial
    assert len(jpg) > 300
    assert decode_jpeg_stdlib(jpg)[2] == pix


@pytest.mark.parametrize("interval", [0, 1])
def test_jpeg_three_component_444_roundtrip(interval):
    # the color path: 3 components, per-component DC predictors, MCU
    # interleaving (and restart-marker predictor resets when interval=1)
    def plane(off):
        w = 16
        pix = bytearray(w * 8)
        for bx in range(2):
            v = 100 + (off + 7 * bx) % 56
            k = (off + 3 * bx) % 9 - 4
            for y in range(8):
                for x in range(8):
                    pix[y * w + bx * 8 + x] = v + k * _S[x] * _S[y]
        return bytes(pix)

    pix = plane(0) + plane(17) + plane(31)
    jpg = encode_jpeg_stdlib(16, 8, pix, planes=3,
                             restart_interval=interval)
    assert decode_jpeg_stdlib(jpg) == (16, 8, pix)


def test_jpeg_progressive_rejected_loudly():
    jpg = bytearray(encode_jpeg_stdlib(8, 8, bytes(range(64))))
    i = jpg.find(b"\xff\xc0")
    jpg[i + 1] = 0xC2  # SOF0 → SOF2 (progressive)
    with pytest.raises(NotImplementedError):
        decode_jpeg_stdlib(bytes(jpg))


def test_jpeg_subsampling_rejected_loudly():
    jpg = bytearray(encode_jpeg_stdlib(8, 8, bytes(range(64))))
    i = jpg.find(b"\xff\xc0")
    # SOF0 body: len(2) precision(1) h(2) w(2) ncomp(1) then comp triplets;
    # sampling byte is triplet[1]
    jpg[i + 2 + 2 + 5 + 1 + 1] = 0x22
    with pytest.raises(NotImplementedError):
        decode_jpeg_stdlib(bytes(jpg))


def test_jpeg_not_a_jpeg():
    with pytest.raises(ValueError):
        decode_jpeg_stdlib(b"plain text payload")


def test_png_palette_color_type_rejected_loudly():
    # ADVICE r10: color_type 3 must raise NotImplementedError (a typed,
    # documented rejection), not a bare KeyError
    pal = bytearray(encode_png_stdlib(2, 2, bytes(4), 0))
    pal[8 + 8 + 9] = 3  # IHDR color_type byte
    with pytest.raises(NotImplementedError):
        decode_png_stdlib(bytes(pal))


def _kernel_dims(payloads: list[bytes]) -> list[tuple[int, int, int]]:
    batch = pd.DataFrame(
        {
            "doc_id": list(range(len(payloads))),
            "media_format": ["png"] * len(payloads),
            "byte_len": [len(p) for p in payloads],
            "payload": payloads,
        }
    )
    out = pd.concat(list(make_decode_kernel(True)(iter([batch]))))
    return [
        (int(r.width), int(r.height), int(r.n_frames))
        for _, r in out.iterrows()
    ]


def test_route_falls_back_instead_of_failing_task():
    """ADVICE r10: a payload that LOOKS like a PNG/JPEG but can't be
    decoded (truncated, palette, progressive) must fall back to the
    deterministic stub — one bad thumbnail must not kill the whole
    mapInPandas task."""
    bad_png = PNG_SIG + b"garbage-after-signature"
    pal = bytearray(encode_png_stdlib(2, 2, bytes(4), 0))
    pal[8 + 8 + 9] = 3
    prog = bytearray(encode_jpeg_stdlib(8, 8, bytes(range(64))))
    prog[prog.find(b"\xff\xc0") + 1] = 0xC2
    payloads = [bad_png, bytes(pal), bytes(prog)]
    assert _kernel_dims(payloads) == [_fake_decode(p) for p in payloads]


def test_route_decodes_real_png_and_jpeg():
    """Well-formed planted payloads take the REAL decode branch: dims
    are the true ones (which the 64px-floor stub cannot produce)."""
    png = encode_png_stdlib(3, 2, bytes(6), 0)
    w, h, pix = _planted(5)
    jpg = encode_jpeg_stdlib(w, h, pix)
    dims = _kernel_dims([png, jpg])
    assert dims[0] == (3, 2, 1)
    assert dims[1] == (w, h, 1)
    assert dims[0] != _fake_decode(png) and dims[1] != _fake_decode(jpg)


def test_force_fake_pins_stub_for_opaque_payloads():
    """ADVICE r10: with force_fake=True, non-PNG/JPEG payloads use
    _fake_decode even if PIL were importable — the SQL oracle mirrors
    _fake_decode, so the MATCH must be a code contract."""
    payloads = [b"text-bytes-standin-1", b"text-bytes-standin-2"]
    assert _kernel_dims(payloads) == [_fake_decode(p) for p in payloads]


def test_pair_knob_lockstep_sweep():
    """Fifth knob-perturbed oracle-lockstep tier (round 11): the three
    new derived-bound knobs — pair_block_target (sub-block count),
    pair_ref_cap (reference cap), contam_bench_cap (bench pin) — are
    moved to values that CHANGE results at sf0.001 (target 32 → nb=2;
    cap 20 < max block 63; bench cap 2 < the 6 matching vec_ids), and
    the public driver contract must still hash-MATCH: proof the knobs
    feed both engines' arithmetic, not just Spark's."""
    import json
    import subprocess
    import sys

    env = dict(__import__("os").environ)
    env["SPARK_GRAFT_TUNING"] = json.dumps({
        "pair_block_target": 32,
        "pair_ref_cap": 20,
        "contam_bench_cap": 2,
    })
    import os

    ids = ["dedup_embedding_cosine", "decontaminate_embedding_cosine"]
    proc = subprocess.run(
        [sys.executable, "scripts/driver_sim.py",
         "/root/testdata/sf0.001", *ids],
        capture_output=True, text=True, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=420,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert proc.stdout.count("MATCH") >= len(ids)
    assert "MISMATCH" not in proc.stdout


def test_pair_blocks_derivation_steps():
    """nb must be 1 at every graded sf (hash preservation) and step up
    across the rehearsal decades."""
    from mongo_to_clickhouse_spark.queries.vectorops import pair_blocks

    assert pair_blocks(500, 10) == 1      # sf0.001 / sf0.01
    assert pair_blocks(2000, 10) == 1     # sf0.1
    assert pair_blocks(20000, 10) == 8    # sf1
    assert pair_blocks(200000, 10) == 79  # sf10emb
    assert pair_blocks(10**9, 10) == 4096  # clamp engages


def test_emb_dim_cache_cleared_by_clear(spark, tmp_path):
    """ADVICE r10: an in-place fixture rewrite with a different embedding
    dimension must not serve stale per-dim unrolled columns; ``clear()``
    drops the memoized width."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mongo_to_clickhouse_spark import cache
    from mongo_to_clickhouse_spark.queries.vectorops import _emb_dim

    pq.write_table(
        pa.table({"embedding": pa.array([[0.5] * 3], pa.list_(pa.float32()))}),
        os.path.join(str(tmp_path), "embeddings.parquet"),
    )
    cache.clear()
    assert _emb_dim(spark, str(tmp_path)) == 3
    assert cache.entries("emb_dim") == 1
    cache.clear()
    assert cache.entries("emb_dim") == 0
    assert _emb_dim(spark, str(tmp_path)) == 3
    assert cache.stats("emb_dim").builds == 1


def test_compare_detailed_short_circuit_reports_none():
    """ADVICE r10: when the column-set mismatch short-circuits before row
    counts are compared, rows_match must be None (unchecked), not True."""
    import duckdb

    import sys
    import os

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from oracle_harness import compare_detailed

    class _FakeField:
        def __init__(self, name):
            self.name = name
            self.dataType = type("T", (), {"simpleString": lambda s: "bigint"})()

    class _FakeDF:
        columns = ["a"]
        schema = type("S", (), {"fields": [_FakeField("a")]})()

        def collect(self):
            return [(1,)]

    con = duckdb.connect()
    verdict = compare_detailed(_FakeDF(), con, "SELECT 1 AS b, 2 AS c")
    assert verdict["schema_match"] is False
    assert verdict["rows_match"] is None
    assert verdict["oracle_rows"] is None
