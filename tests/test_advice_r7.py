"""Planted-fixture tests for the round-7 ADVICE fixes: skyline
duplicate survival, Welch degenerate-half guards, Neyman cap
redistribution, and the length-bucketing truncation baseline."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq

from mongo_to_clickhouse_spark import cache
from mongo_to_clickhouse_spark.queries.pipelineops import (
    SEQ_PACK_LEN,
    pipeline_length_bucketing,
)
from mongo_to_clickhouse_spark.queries.relational_ext import (
    window_skyline_pareto,
)
from mongo_to_clickhouse_spark.queries.sampleops import (
    sample_neyman_allocation,
)
from mongo_to_clickhouse_spark.queries.statsops import agg_ttest_welch

_T0 = dt.datetime(2024, 6, 1)


def _write_orders(tmp_path, rows):
    """rows: list of (orderkey, totalprice, priority, day_offset)."""
    tbl = pa.table(
        {
            "o_orderkey": pa.array([k for k, _, _, _ in rows], pa.int64()),
            "o_totalprice": pa.array(
                [p for _, p, _, _ in rows], pa.float64()
            ),
            "o_orderpriority": pa.array(
                [s for _, _, s, _ in rows], pa.string()
            ),
            "o_orderdate": pa.array(
                [_T0 + dt.timedelta(days=d) for _, _, _, d in rows],
                pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "orders.parquet"))
    return str(tmp_path)


def _write_events(tmp_path, values):
    n = len(values)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([_T0] * n, pa.timestamp("us")),
            "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    return str(tmp_path)


def _write_docs(tmp_path, texts):
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["web"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    return str(tmp_path)


# ---------------------------------------------------------------------------
# window_skyline_pareto: identical points are mutually non-dominating
# ---------------------------------------------------------------------------


def test_skyline_identical_points_all_survive(spark, tmp_path):
    cache.clear()
    # orders 1 and 2 are IDENTICAL on (price, day): neither dominates
    # the other (Borzsonyi non-strict dominance needs a strict edge),
    # so both survive. 3 ties the price but is older -> dominated.
    # 4 is strictly dominated by 1/2 on both dims.
    rows = [(1, 100.0, "P", 5), (2, 100.0, "P", 5),
            (3, 100.0, "P", 4), (4, 90.0, "P", 2)]
    keys = [r["o_orderkey"]
            for r in window_skyline_pareto(
                spark, _write_orders(tmp_path, rows)
            ).collect()]
    assert sorted(keys) == [1, 2]


def test_skyline_equal_price_newest_survives(spark, tmp_path):
    cache.clear()
    # same price, distinct days: only the most recent survives; a
    # strictly cheaper but newer point also survives.
    rows = [(1, 100.0, "P", 3), (2, 100.0, "P", 7), (3, 80.0, "P", 9)]
    keys = [r["o_orderkey"]
            for r in window_skyline_pareto(
                spark, _write_orders(tmp_path, rows)
            ).collect()]
    assert sorted(keys) == [2, 3]


# ---------------------------------------------------------------------------
# agg_ttest_welch: degenerate halves yield explicit NULLs, not div-0
# ---------------------------------------------------------------------------


def test_welch_single_row_side_yields_null_stats(spark, tmp_path):
    cache.clear()
    # one even event_id (side a: n=1) + many odd (side b): the Bessel
    # denominator n_a*(n_a-1) vanishes -> t/df/significant must be
    # explicit NULLs while counts and means still report.
    values = [5.0] + [float(3 + (i % 4)) for i in range(9)]
    # event_ids 0..9 -> side a = {0,2,4,6,8}. Rebuild so only id 0 is
    # even-sided: use 1 even id and 9 odd ids.
    n = 10
    tbl = pa.table(
        {
            "event_id": pa.array([0] + [2 * i + 1 for i in range(n - 1)],
                                 pa.int64()),
            "ts": pa.array([_T0] * n, pa.timestamp("us")),
            "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    (r,) = agg_ttest_welch(spark, str(tmp_path)).collect()
    assert r["n_a"] == 1 and r["n_b"] == 9
    assert r["mean_a_micro"] == 5_000_000
    assert r["t_milli"] is None
    assert r["df_milli"] is None
    assert r["significant"] is None


def test_welch_healthy_sides_still_compute(spark, tmp_path):
    cache.clear()
    # balanced halves with a real mean gap: t is finite and non-NULL
    values = [1.0 + (i % 5) * 0.1 if i % 2 == 0
              else 2.0 + (i % 5) * 0.1 for i in range(200)]
    (r,) = agg_ttest_welch(
        spark, _write_events(tmp_path, values)
    ).collect()
    assert r["t_milli"] is not None and r["significant"]


# ---------------------------------------------------------------------------
# sample_neyman_allocation: capped surplus is redistributed exactly
# ---------------------------------------------------------------------------


def test_neyman_saturated_stratum_surplus_redistributed(spark, tmp_path):
    cache.clear()
    # TINY stratum: 10 orders with huge spread -> Neyman weight wants
    # far more than its 10 rows; the water-fill takes all 10 and pours
    # the surplus into BIG (400 modestly-varying orders).
    # budget = 10% of 410 = 41; naive proportional would strand most
    # of it on the capped TINY stratum.
    rows = [(i, 100.0 * (1 + 9000 * (i % 2)), "1-TINY")
            for i in range(10)]
    rows += [(1000 + i, 100.0 * (i % 10 + 1), "2-BIG")
             for i in range(400)]
    got = {
        r["stratum"]: r
        for r in sample_neyman_allocation(
            spark, _write_orders4(tmp_path, rows)
        ).collect()
    }
    assert got["1-TINY"]["n_alloc"] == 10          # saturated: whole
    assert got["2-BIG"]["n_alloc"] == 31           # 41 - 10, not less
    assert sum(r["n_alloc"] for r in got.values()) == 41
    assert all(r["n_drawn"] == r["n_alloc"] for r in got.values())


def _write_orders4(tmp_path, rows):
    """rows: (orderkey, totalprice, priority) — no date needed."""
    tbl = pa.table(
        {
            "o_orderkey": pa.array([k for k, _, _ in rows], pa.int64()),
            "o_totalprice": pa.array([p for _, p, _ in rows],
                                     pa.float64()),
            "o_orderpriority": pa.array([s for _, _, s in rows],
                                        pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "orders.parquet"))
    return str(tmp_path)


# ---------------------------------------------------------------------------
# pipeline_length_bucketing: overlong docs can't push the baseline
# (or the terminal bucket) negative
# ---------------------------------------------------------------------------


def test_length_bucketing_overlong_docs_nonnegative(spark, tmp_path):
    cache.clear()
    # 5 docs at 400 tokens (> SEQ_PACK_LEN=256) + 5 at 10 tokens: the
    # old baseline (n_docs*256 - SUM(real_tokens)) went negative; the
    # truncation model keeps every pad/waste figure >= 0.
    texts = [" ".join(["tok"] * 400)] * 5 + [" ".join(["w"] * 10)] * 5
    rows = pipeline_length_bucketing(
        spark, _write_docs(tmp_path, texts)
    ).collect()
    by_bucket = {r["bucket_top"]: r for r in rows}
    base = by_bucket[-1]
    assert base["n_docs"] == 10
    assert base["real_tokens"] == 5 * 400 + 5 * 10     # untruncated
    # truncated fit: 5*256 + 5*10 = 1330; padded mass 10*256 = 2560
    assert base["pad_tokens"] == 10 * SEQ_PACK_LEN - (5 * 256 + 5 * 10)
    assert base["pad_tokens"] >= 0 and base["waste_ppm"] >= 0
    top = by_bucket[SEQ_PACK_LEN]
    assert top["pad_tokens"] == 0 and top["waste_ppm"] == 0
    assert all(r["pad_tokens"] >= 0 and r["waste_ppm"] >= 0 for r in rows)
