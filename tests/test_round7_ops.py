"""Planted-fixture semantics for the round-7 wave-3 batch: ORC source
round-trip, topKWeighted ranking, LPA modularity, the daily correlation
matrix, and curriculum stage assignment."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq

from mongo_to_clickhouse_spark import cache
from mongo_to_clickhouse_spark.queries.bizops import agg_daily_corr_matrix
from mongo_to_clickhouse_spark.queries.clickhouseops import agg_topk_weighted
from mongo_to_clickhouse_spark.queries.core import source_orc_scan
from mongo_to_clickhouse_spark.queries.graphops import graph_modularity
from mongo_to_clickhouse_spark.queries.pipelineops import (
    pipeline_curriculum_order,
)

_T0 = dt.datetime(2024, 3, 1)


def _events(rows, path):
    """rows: (event_id, ts, user_id, event_type, value)."""
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
        }
    )
    pq.write_table(t, os.path.join(path, "events.parquet"))


def _docs(texts, path):
    t = pa.table(
        {
            "doc_id": pa.array(list(range(len(texts))), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["s0"] * len(texts)),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    pq.write_table(t, os.path.join(path, "documents.parquet"))


def test_orc_roundtrip_preserves_tricky_strings(spark, tmp_path):
    # embedded newline, quotes, commas, unicode — the characters that
    # break row formats must survive the ORC round-trip byte-for-byte
    # (signature equality against the parquet-side original)
    texts = [
        'line one\nline two',
        'quote " and , comma',
        'unicode éß中文',
        'plain',
    ]
    _docs(texts, str(tmp_path))
    cache.clear()
    got = source_orc_scan(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.source, r.n_docs) == ("s0", 4)
    assert r.sum_chars == sum(len(t) for t in texts)
    # cross-check the signature against a direct parquet-side compute
    direct = spark.read.parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    ).selectExpr(
        "SUM(CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)"
        " % 1000000000000) AS sig"
    ).collect()[0].sig
    assert r.text_sig == direct


def test_topk_weighted_rank_and_tiebreak(spark, tmp_path):
    # user 2 outweighs user 1 in clicks; users 3 and 4 TIE at 300 cents
    # -> rank order 2,(3,4 by user_id),1
    rows = [
        (0, _T0, 1, "click", 1.00),
        (1, _T0, 2, "click", 9.00),
        (2, _T0, 3, "click", 2.00),
        (3, _T0, 3, "click", 1.00),
        (4, _T0, 4, "click", 3.00),
    ]
    _events(rows, str(tmp_path))
    got = [
        (r.rk, r.user_id, r.weight_cents)
        for r in agg_topk_weighted(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 2, 900), (2, 3, 300), (3, 4, 300), (4, 1, 100)]


def test_modularity_two_triangles(spark, tmp_path):
    # two disconnected supplier triangles {1,2,3} and {4,5,6}: LPA
    # converges each to its min label; with m2 = 12 adjacency rows,
    # Q = 2 * (6*12 - 6^2)/12^2 = 0.5 exactly
    pairs = []
    oid = 0
    for clique in ([1, 2, 3], [4, 5, 6]):
        for s in clique:
            pairs.append((oid, s))
        oid += 1
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([o for o, _ in pairs], pa.int64()),
            "l_suppkey": pa.array([s for _, s in pairs], pa.int64()),
        }
    )
    pq.write_table(lineitem, os.path.join(str(tmp_path), "lineitem.parquet"))
    got = [
        (r.community_id, r.n_members, r.internal_rows, r.deg_sum, r.q_micro)
        for r in graph_modularity(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 3, 6, 6, 500000), (4, 3, 6, 6, 500000)]


def test_corr_matrix_perfect_and_anti(spark, tmp_path):
    # click and purchase rise together (corr 1); error moves opposite
    # (corr -1 vs both) over 3 days; dollars 1..3 per series
    rows = []
    eid = 0
    for d, (c, p, e) in enumerate([(1, 2, 3), (2, 4, 2), (3, 6, 1)]):
        for ty, v in (("click", c), ("purchase", p), ("error", e)):
            rows.append((eid, _T0 + dt.timedelta(days=d), 1, ty, float(v)))
            eid += 1
    _events(rows, str(tmp_path))
    got = {
        (r.type_a, r.type_b): r.corr_micro
        for r in agg_daily_corr_matrix(spark, str(tmp_path)).collect()
    }
    assert got[("click", "purchase")] == 1_000_000
    assert got[("click", "error")] == -1_000_000
    assert got[("error", "purchase")] == -1_000_000


def test_curriculum_stages_easy_to_hard(spark, tmp_path):
    # 8 docs whose mean token length strictly increases: stages are the
    # rank quartiles, 2 docs each, difficulty ranges non-overlapping
    texts = [" ".join(["a" * (k + 1)] * 3) for k in range(8)]
    _docs(texts, str(tmp_path))
    cache.clear()
    got = [
        (r.stage, r.n_docs, r.sum_tokens,
         r.min_difficulty_milli, r.max_difficulty_milli)
        for r in pipeline_curriculum_order(spark, str(tmp_path)).collect()
    ]
    assert [g[0] for g in got] == [1, 2, 3, 4]
    assert all(g[1] == 2 and g[2] == 6 for g in got)
    assert got == sorted(got)
    # doc k has mean token length exactly (k+1) -> milli = (k+1)*1000
    assert got[0][3] == 1000 and got[3][4] == 8000


def test_hdr_quantile_small_and_log_buckets(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.sketchops import (
        agg_hdr_histogram_quantile,
    )

    # cents 1..10 land in the exact small-value buckets (idx == value):
    # p50 -> first bucket with cum >= 5 -> est 5; p95/p99 -> 10
    li = pa.table(
        {"l_extendedprice": pa.array([d / 100 for d in range(1, 11)],
                                     pa.float64())}
    )
    pq.write_table(li, os.path.join(str(tmp_path), "lineitem.parquet"))
    cache.clear()
    got = {r.q_ppm: (r.bucket_idx, r.est_cents_lower, r.n_values)
           for r in agg_hdr_histogram_quantile(spark, str(tmp_path)).collect()}
    assert got == {500000: (5, 5, 10), 950000: (10, 10, 10),
                   990000: (10, 10, 10)}


def test_hdr_quantile_log_bucket_lower_bound(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.sketchops import (
        agg_hdr_histogram_quantile,
    )

    # single value 1000 cents: e=9, mantissa bits (1000>>5)=31 -> idx
    # 9*16+15=159, lower bound (16+15)<<5 = 992 — within the 1/16
    # relative-error contract of the true 1000
    li = pa.table({"l_extendedprice": pa.array([10.00], pa.float64())})
    pq.write_table(li, os.path.join(str(tmp_path), "lineitem.parquet"))
    cache.clear()
    rows = agg_hdr_histogram_quantile(spark, str(tmp_path)).collect()
    assert all((r.bucket_idx, r.est_cents_lower) == (159, 992)
               for r in rows)
    assert all(1000 - r.est_cents_lower <= 1000 / 16 for r in rows)


def test_attribution_window_and_multi_touch(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.bizops import (
        events_attribution_touch,
    )

    # u1: click then purchase 1h later -> attributed, latency 3600s
    # u2: click 8 DAYS before purchase -> outside the 7-day lookback
    # u3: two clicks then purchase -> attributed AND multi-touch
    rows = [
        (0, _T0, 1, "click", 1.0),
        (1, _T0 + dt.timedelta(hours=1), 1, "purchase", 1.0),
        (2, _T0, 2, "click", 1.0),
        (3, _T0 + dt.timedelta(days=8), 2, "purchase", 1.0),
        (4, _T0, 3, "click", 1.0),
        (5, _T0 + dt.timedelta(hours=1), 3, "click", 1.0),
        (6, _T0 + dt.timedelta(hours=2), 3, "purchase", 1.0),
    ]
    _events(rows, str(tmp_path))
    got = {r.day_idx: (r.n_purchases, r.n_attributed, r.n_multi_touch,
                       r.sum_latency_us)
           for r in events_attribution_touch(spark, str(tmp_path)).collect()}
    d0 = next(iter(sorted(got)))
    assert got[d0] == (2, 2, 1, 3_600_000_000 + 3_600_000_000)
    assert got[d0 + 8] == (1, 0, 0, 0)


def test_active_users_rolling_bitmap_merge(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.bizops import (
        events_active_users_rolling,
    )

    # day0 users {1,2}, day1 users {2,3}: DAU 2/2, WAU(7d) 2/3,
    # stickiness day1 = floor(2/3 * 1e6); user 63 on day1 exercises the
    # second bitmap word (63 % 62 wraps into word 1)
    rows = [
        (0, _T0, 1, "click", 1.0),
        (1, _T0, 2, "click", 1.0),
        (2, _T0 + dt.timedelta(days=1), 2, "click", 1.0),
        (3, _T0 + dt.timedelta(days=1), 3, "click", 1.0),
        (4, _T0 + dt.timedelta(days=1), 63, "click", 1.0),
    ]
    _events(rows, str(tmp_path))
    got = {r.day_idx: (r.dau, r.wau, r.mau, r.stickiness_ppm)
           for r in events_active_users_rolling(spark, str(tmp_path)).collect()}
    d0 = next(iter(sorted(got)))
    assert got[d0] == (2, 2, 2, 1_000_000)
    assert got[d0 + 1] == (3, 4, 4, 750_000)


def test_pretraining_manifest_funnel(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.pipelineops import (
        pipeline_pretraining_manifest,
    )

    # 5 raw docs: one too short (<5 tokens), one with mean word length
    # over 14 (quality kills 2), one exact duplicate pair (dedup kills
    # 1) -> funnel 5 / 3 / 2
    texts = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon zeta",   # exact dup
        "tiny",                                   # < 5 tokens
        "a " + "x" * 100 + " b c d e",            # mean word len > 14
        "one two three four five six seven",
    ]
    _docs(texts, str(tmp_path))
    cache.clear()
    rows = pipeline_pretraining_manifest(spark, str(tmp_path)).collect()
    assert rows, "manifest must emit at least one shard row"
    assert all((r.n_raw, r.n_quality, r.n_deduped) == (5, 3, 2)
               for r in rows)
    assert sum(r.n_docs for r in rows) == 2
    assert all(0 <= r.shard_id < 16 for r in rows)


def test_group_kfold_no_leakage(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.sampleops import (
        sample_group_kfold,
    )

    # 12 docs across 6 sources, 2 docs each: every source must land in
    # exactly ONE fold and doc counts must add up
    t = pa.table(
        {
            "doc_id": pa.array(list(range(12)), pa.int64()),
            "text": pa.array(["alpha beta gamma delta epsilon"] * 12),
            "lang": pa.array(["en"] * 12),
            "source": pa.array([f"s{i // 2}" for i in range(12)]),
            "n_chars": pa.array([30] * 12, pa.int64()),
        }
    )
    pq.write_table(t, os.path.join(str(tmp_path), "documents.parquet"))
    cache.clear()
    rows = sample_group_kfold(spark, str(tmp_path)).collect()
    assert all(r.max_folds_per_source == 1 for r in rows)
    assert sum(r.n_docs for r in rows) == 12
    assert sum(r.n_sources for r in rows) == 6
    assert all(r.n_docs == 2 * r.n_sources for r in rows)


def test_html_extract_roundtrip_hostile_text(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.textops import text_html_extract

    # text containing raw & < > AND the literal string '&amp;lt;' — a
    # decoder that decodes &amp; before &lt; turns it into '<' (the
    # double-decode bug); the round trip must restore every byte
    texts = [
        "a < b && c > d",
        "literal entity: &amp;lt; stays literal",
        "plain text",
    ]
    _docs(texts, str(tmp_path))
    cache.clear()
    rows = text_html_extract(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_docs, r.n_roundtrip_ok) == (3, 3)
    assert r.sum_page_chars > r.sum_clean_chars
    assert 0 < r.markup_overhead_ppm < 1_000_000


def test_betweenness_path_graph_exact(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.graphops import (
        graph_betweenness_sampled,
    )

    # path 1-2-3-4 with all 4 nodes as sources: ordered Brandes
    # dependencies sum to 4.0 on each inner node, 0 on the endpoints
    pairs = []
    oid = 0
    for a, b in [(1, 2), (2, 3), (3, 4)]:
        pairs.append((oid, a))
        pairs.append((oid, b))
        oid += 1
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([o for o, _ in pairs], pa.int64()),
            "l_suppkey": pa.array([s for _, s in pairs], pa.int64()),
        }
    )
    pq.write_table(lineitem, os.path.join(str(tmp_path), "lineitem.parquet"))
    got = {
        r.node_id: (r.n_sources_reached, r.betweenness_micro)
        for r in graph_betweenness_sampled(spark, str(tmp_path)).collect()
    }
    assert got[2] == (3, 4_000_000)
    assert got[3] == (3, 4_000_000)
    assert got[1] == (3, 0)
    assert got[4] == (3, 0)
