"""Planted semantics for perceptual-hash media dedup."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from mongo_to_clickhouse_spark.queries.pipelineops import (
    multimodal_phash_dedup,
)


def test_identical_payloads_confirmed_first(spark, tmp_path):
    texts = [
        "an identical media payload used twice in the corpus",
        "a completely different document about streaming engines",
        "an identical media payload used twice in the corpus",
        "yet another unrelated piece of text with other words",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["src0"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    rows = multimodal_phash_dedup(spark, str(tmp_path)).collect()
    assert rows, "identical payloads produced no candidate pair"
    top = rows[0]
    assert (top["a_doc"], top["b_doc"]) == (0, 2)
    assert top["hamming"] == 0
    assert top["l1_micro"] == 0
    assert top["confirmed"]
    # no other pair may be confirmed: distinct digests give unrelated
    # features far beyond the L1 bound
    assert all(not r["confirmed"] for r in rows[1:])


def test_popcount64_counts_every_bit():
    # the phash Hamming verify must hold at every signature width the
    # phash_max_bits knob allows, not just the low 16 bits
    import numpy as np

    from mongo_to_clickhouse_spark.operators.multimodal import popcount64

    rng = np.random.RandomState(5)
    vals = np.concatenate([
        rng.randint(0, 2**62, size=200, dtype=np.int64),
        np.array([0, 1, 2**16, 2**16 + 1, 2**20 - 1, 2**31, 2**62 + 7,
                  2**63 - 1, -1, -(2**40)], dtype=np.int64),
    ])
    grid = vals.reshape(10, 21)
    got = popcount64(grid)
    assert got.shape == grid.shape
    want = [bin(int(v) & (2**64 - 1)).count("1") for v in vals]
    assert got.ravel().tolist() == want
    assert got[grid > 2**16].min() >= 1


def test_probe_flips_bits_past_31(spark):
    # every probe bit is a BIGINT: an INT shiftleft(1, k) wraps at k ≥ 31
    from mongo_to_clickhouse_spark.queries.pipelineops import _probe_expr

    probes = {
        r["probe"]
        for r in spark.range(1).selectExpr("CAST(0 AS BIGINT) AS sig")
        .selectExpr(_probe_expr(40)).collect()
    }
    assert {0, 1 << 31, 1 << 39} <= probes
    assert len(probes) == 41


def test_phash_max_bits_past_63_rejected():
    import pytest

    from mongo_to_clickhouse_spark.config import EngineTuning

    with pytest.raises(ValueError, match="phash_max_bits"):
        EngineTuning(phash_max_bits=64)
    assert EngineTuning(phash_max_bits=63).phash_max_bits == 63
