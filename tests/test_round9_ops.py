"""Round-9 operator tests: streaming IVF index maintenance and the
WordPiece kernel twin."""

from __future__ import annotations

import glob
import os
import tempfile

import pyspark.sql.functions as F

from mongo_to_clickhouse_spark import cache


# ---------------------------------------------------------------------------
# stream_ivf_index_upsert
# ---------------------------------------------------------------------------


def test_stream_ivf_upsert_consistent_with_oneshot_build(spark, sf_dir):
    """Cross-operator invariants vs the one-shot kernel build:
    assignment is batch-order-independent (fixed centroids), so the
    stream's final cumulative index must equal the one-shot
    kernel_assign_frame over the same vectors; the accounting must
    telescope; and the Σ|list|² audit must be non-decreasing (lists
    only grow)."""
    from mongo_to_clickhouse_spark.io import load_table
    from mongo_to_clickhouse_spark.queries.vectorops import (
        _cent_stride,
        kernel_assign_frame,
        stream_ivf_index_upsert,
    )

    acct = stream_ivf_index_upsert(spark, sf_dir).collect()
    assert [r.batch_id for r in acct] == [0, 1, 2]

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    cents = emb.filter(
        F.col("vec_id") % _cent_stride(spark, sf_dir) == 0
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cent_emb"),
    )
    oneshot = kernel_assign_frame(emb, cents)
    n_total = emb.count()
    n_new = emb.filter(F.col("vec_id") % 10 == 3).count()

    # telescoping: index totals advance exactly by each batch's inserts
    assert acct[-1].n_index_total == n_total
    assert sum(r.n_assigned for r in acct) == n_new
    for prev, cur in zip(acct, acct[1:]):
        assert cur.n_index_total == prev.n_index_total + cur.n_assigned
        assert cur.sum_list_sq >= prev.sum_list_sq  # lists only grow
        assert cur.max_list >= prev.max_list

    # final audit row equals the one-shot build's list profile
    per = (
        oneshot.groupBy("cent_id").count()
        .agg(
            F.sum("count").alias("n"),
            F.sum(F.col("count") * F.col("count")).alias("sq"),
            F.max("count").alias("mx"),
        )
        .collect()[0]
    )
    assert acct[-1].n_index_total == per.n
    assert acct[-1].sum_list_sq == per.sq
    assert acct[-1].max_list == per.mx


def test_stream_ivf_upsert_cleans_work_dir(spark, sf_dir):
    from mongo_to_clickhouse_spark.queries.vectorops import (
        stream_ivf_index_upsert,
    )

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "ivfup-*")))
    rows = stream_ivf_index_upsert(spark, sf_dir).collect()
    assert len(rows) == 3  # must survive the work-dir removal
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "ivfup-*")))
    assert after <= before


# ---------------------------------------------------------------------------
# tokenizer_wordpiece_apply — kernel twin edge cases
# ---------------------------------------------------------------------------


def test_wordpiece_kernel_trunc_and_parity(spark, tmp_path):
    """A word longer than WP_MAX_PIECES * WP_MAXLEN chars cannot finish
    in the round budget -> [TRUNC]; full oracle parity on the planted
    corpus (exercises sentinel rows, greedy longest-match, and the
    '##' continuation path in the mapInPandas kernel)."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mongo_to_clickhouse_spark.queries.tokenizerops import (
        TOKENIZER_WORDPIECE_APPLY_SQL,
        WP_MAXLEN,
        WP_MAX_PIECES,
        tokenizer_wordpiece_apply,
    )
    from tests.oracle_harness import compare

    long_word = "ab" * (WP_MAX_PIECES * WP_MAXLEN)  # 2x the budget
    texts = ["the cat sat on the mat", f"prefix {long_word} suffix",
             "the cat ran", "unrelated words here"]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["web"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    cache.clear()
    got = {r.piece: r.n_occurrences
           for r in tokenizer_wordpiece_apply(spark, str(tmp_path)).collect()}
    assert got.get("[TRUNC]", 0) >= 1
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(str(tmp_path), 'documents.parquet')}')"
    )
    problems = compare(
        tokenizer_wordpiece_apply(spark, str(tmp_path)),
        con,
        TOKENIZER_WORDPIECE_APPLY_SQL,
    )
    assert problems == [], problems
    cache.clear()


# ---------------------------------------------------------------------------
# integration smoke lane: gated, never silently green
# ---------------------------------------------------------------------------


def test_integration_smoke_exits_skipped_without_environment():
    """The live-connector lane must report SKIPPED (exit 77) — not
    green — when no servers are declared, so CI can distinguish
    'not run' from 'passed'."""
    import subprocess
    import sys

    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_MONGO_URI",
                        "SPARK_GRAFT_CLICKHOUSE_URL")}
    proc = subprocess.run(
        [sys.executable, "scripts/integration_smoke.py"],
        capture_output=True, text=True, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=60,
    )
    assert proc.returncode == 77, proc.stdout + proc.stderr
    assert "SKIPPED" in proc.stdout


# ---------------------------------------------------------------------------
# round-9 analytics additions — planted-fixture semantics
# ---------------------------------------------------------------------------

import datetime as _dt

import pyarrow as _pa
import pyarrow.parquet as _pq

_T0 = _dt.datetime(2024, 6, 1)


def _write_events9(tmp_path, rows):
    """rows: (event_id, user_id, event_type, value, minute_offset)."""
    tbl = _pa.table(
        {
            "event_id": _pa.array([r[0] for r in rows], _pa.int64()),
            "ts": _pa.array(
                [_T0 + _dt.timedelta(minutes=r[4]) for r in rows],
                _pa.timestamp("us"),
            ),
            "user_id": _pa.array([r[1] for r in rows], _pa.int64()),
            "event_type": _pa.array([r[2] for r in rows], _pa.string()),
            "value": _pa.array([r[3] for r in rows], _pa.float64()),
            "props": _pa.array(["{}"] * len(rows), _pa.string()),
        }
    )
    _pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    return str(tmp_path)


def _write_docs9(tmp_path, texts, sources=None):
    tbl = _pa.table(
        {
            "doc_id": _pa.array(range(len(texts)), _pa.int64()),
            "text": _pa.array(texts, _pa.string()),
            "lang": _pa.array(["en"] * len(texts)),
            "source": _pa.array(sources or ["web"] * len(texts)),
            "n_chars": _pa.array([len(t) for t in texts], _pa.int64()),
        }
    )
    _pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    return str(tmp_path)


def test_unordered_funnel_any_order_within_window(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.analytics import (
        events_funnel_unordered,
    )

    rows = [
        # user 1: purchase -> view -> click inside 30 min (ANY order) ✓
        (1, 1, "purchase", 1.0, 0),
        (2, 1, "view", 1.0, 10),
        (3, 1, "click", 1.0, 30),
        # user 2: view+click close, purchase 2h later — outside 1h ✗
        (4, 2, "view", 1.0, 0),
        (5, 2, "click", 1.0, 5),
        (6, 2, "purchase", 1.0, 125),
        # user 3: only two of the three steps ✗
        (7, 3, "view", 1.0, 0),
        (8, 3, "click", 1.0, 1),
    ]
    sf = _write_events9(tmp_path, rows)
    cache.clear()
    out = events_funnel_unordered(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_users, r.n_converted) == (3, 1)
    assert r.conv_ppm == 333_333
    assert r.fastest_span_us == 30 * 60 * 1_000_000  # user 1's sweep


def test_unordered_funnel_window_slides_not_anchored_first(
    spark, tmp_path
):
    # the completing window must NOT need to start at the user's FIRST
    # event: noise at t=0, then all three steps in minutes 120-140
    from mongo_to_clickhouse_spark.queries.analytics import (
        events_funnel_unordered,
    )

    rows = [
        (1, 1, "view", 1.0, 0),
        (2, 1, "click", 1.0, 120),
        (3, 1, "purchase", 1.0, 130),
        (4, 1, "view", 1.0, 140),
    ]
    sf = _write_events9(tmp_path, rows)
    cache.clear()
    r = events_funnel_unordered(spark, sf).collect()[0]
    assert r.n_converted == 1
    assert r.fastest_span_us == 20 * 60 * 1_000_000


def test_did_estimator_planted_cells(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.bizops import (
        events_did_estimator,
    )

    # 4 days (0,1 = pre; 2,3 = post), one event per (group, day):
    # control (uid 2): 10, 10 | 12, 12   -> +2
    # treated (uid 1): 20, 20 | 27, 27   -> +7   => DiD = +5 dollars
    day = 24 * 60
    rows = [
        (1, 2, "view", 10.0, 0), (2, 2, "view", 10.0, day),
        (3, 2, "view", 12.0, 2 * day), (4, 2, "view", 12.0, 3 * day),
        (5, 1, "view", 20.0, 0), (6, 1, "view", 20.0, day),
        (7, 1, "view", 27.0, 2 * day), (8, 1, "view", 27.0, 3 * day),
    ]
    sf = _write_events9(tmp_path, rows)
    cache.clear()
    r = events_did_estimator(spark, sf).collect()[0]
    # micro-CENTS means: value 10.0 -> 1000 cents -> 1e9 micro
    assert r.control_pre_micro == 1_000_000_000
    assert r.treated_post_micro == 2_700_000_000
    assert r.did_micro == 500_000_000  # +5 dollars in micro-cents
    # pre-trend: gap is 10 dollars in BOTH pre quarters -> drift 0
    assert r.pretrend_drift_micro == 0


def test_ess_importance_uniform_weights_are_full_ess(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.sampleops import (
        sample_ess_importance,
    )

    # 4 docs x 10 tokens each: uniform weights -> ESS/n = 1.0 exactly
    sf = _write_docs9(tmp_path, ["tok " * 10] * 4)
    cache.clear()
    rows = {r.source: r for r in
            sample_ess_importance(spark, sf).collect()}
    assert rows["__total__"].ess_frac_ppm == 1_000_000
    assert rows["__total__"].n_clipped == 0


def test_chunk_overlap_ragged_last_chunk(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.pipelineops import (
        CHUNK_STRIDE,
        CHUNK_TOKS,
        pipeline_chunk_overlap,
    )

    # 33 tokens with CHUNK_TOKS=32 / STRIDE=24: chunk0 = 32 toks,
    # chunk1 = toks 24..32 = 9 toks; plus a 5-token single-chunk doc
    sf = _write_docs9(
        tmp_path, [" ".join(f"w{i}" for i in range(33)),  # 33 tokens
                   "a b c d e"]
    )
    cache.clear()
    r = pipeline_chunk_overlap(spark, sf).collect()[0]
    assert (CHUNK_TOKS, CHUNK_STRIDE) == (32, 24)
    assert r.n_docs == 2
    assert r.n_chunks == 3
    assert r.chunk_toks_total == 32 + 9 + 5
    assert r.doc_toks_total == 33 + 5
    assert r.max_chunks_per_doc == 2


def test_ngram_sweep_monotone_and_planted_hit(spark, tmp_path):
    """Planted corpus: doc 0 (bench, doc_id % 97 == 0) shares an exact
    13-gram with train doc 5 -> contaminated at EVERY n <= 13; train
    doc 6 shares only a 5-gram run -> flagged at n=4 but not n=8/13.
    Contamination counts must be non-increasing in n."""
    from mongo_to_clickhouse_spark.queries.corpusops import (
        decontaminate_ngram_sweep,
    )

    bench_txt = " ".join(f"b{i}" for i in range(20))
    full_copy = "intro words " + " ".join(f"b{i}" for i in range(13))
    short_copy = "other prefix " + " ".join(f"b{i}" for i in range(5)) + \
        " unrelated tail words here"
    fillers = [f"filler {i} nothing shared at all {i} {i}" for i in
               range(4)]
    texts = [bench_txt, fillers[0], fillers[1], fillers[2], fillers[3],
             full_copy, short_copy]
    sf = _write_docs9(tmp_path, texts)
    cache.clear()
    rows = {r.n: r for r in
            decontaminate_ngram_sweep(spark, sf).collect()}
    assert set(rows) == {4, 8, 13}
    assert rows[4].n_contaminated >= 2    # both planted docs
    assert rows[8].n_contaminated == 1    # only the 13-gram copy
    assert rows[13].n_contaminated == 1
    assert (rows[4].n_contaminated >= rows[8].n_contaminated
            >= rows[13].n_contaminated)
    cache.clear()


def test_rag_manifest_geometry_and_cancellation(spark, tmp_path):
    """Chunk geometry matches pipeline_chunk_overlap's; a chunk whose
    signed weights fully cancel ('cw' and 'aq' hash to the same bucket
    with opposite signs) takes the all-ones signature (2^P - 1) instead
    of vanishing from the ledger."""
    from mongo_to_clickhouse_spark.queries.pipelineops import (
        RAG_PLANES,
        pipeline_rag_ingest_manifest,
    )

    # doc 0: exactly the cancelling pair -> 1 chunk, sig 255
    # doc 1: 5 ordinary tokens -> 1 chunk
    sf = _write_docs9(tmp_path, ["cw aq", "alpha beta gamma delta eps"])
    cache.clear()
    rows = pipeline_rag_ingest_manifest(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_docs, r.n_chunks) == (2, 2)
    # the cancelled chunk must still be IN the ledger (sum of bucket
    # sizes equals chunk count); with 2 chunks: either 2 singleton
    # buckets or one bucket of 2
    assert r.sum_bucket_sq in (2, 4)
    assert r.n_buckets in (1, 2)
    # and the all-ones signature exists iff the two chunks landed in
    # different buckets with the cancelled one at 2^P - 1 — verified
    # indirectly: total chunks conserved
    assert r.max_bucket <= 2
    assert RAG_PLANES == 8  # the 2^P - 1 = 255 sentinel rule above


def test_tuning_perturbed_oracles_stay_in_lockstep():
    """The SPARK_GRAFT_TUNING override must shift BOTH dialect builders
    together: run the public driver contract in a fresh process with
    non-default knobs (different threshold, banding, top-k, centroid
    modulus, gram size) on a fast dedup/ANN subset and require hash
    MATCH — a knob that leaks into only one engine's SQL diverges
    here long before a production retune would find it."""
    import json
    import subprocess
    import sys

    env = dict(os.environ)
    env["SPARK_GRAFT_TUNING"] = json.dumps({
        "jaccard_threshold": 0.4, "minhash_bands": 8, "ann_topk": 7,
        "ann_probes": 6, "ivf_max_centroids": 16, "decontam_n": 6,
        "lsh_target_occupancy": 16, "semdedup_target_cluster": 24,
        "phash_target_occupancy": 1, "bench_modulus": 53,
    })
    proc = subprocess.run(
        [sys.executable, "scripts/driver_sim.py",
         "/root/testdata/sf0.001",
         "dedup_minhash_lsh_pairs", "sim_ann_ivf_kernel",
         "decontaminate_ngram_overlap", "sim_cosine_topk",
         "sim_knn_graph_lsh", "dedup_semdedup", "multimodal_phash_dedup"],
        capture_output=True, text=True, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert proc.stdout.count("MATCH") >= 7
    assert "MISMATCH" not in proc.stdout
