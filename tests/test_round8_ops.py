"""Planted-fixture semantics for the round-8 batch: MinHash index
upsert (maintenance invariants + cross-operator consistency with the
probe report), sliding-window HDR quantiles (hand-checkable trailing
merges), and NDCG@k (perfect vs reversed rankings against a planted
graded truth)."""

from __future__ import annotations

import math

from mongo_to_clickhouse_spark import cache
from mongo_to_clickhouse_spark.queries.dedupops import (
    N_BANDS,
    dedup_incremental_minhash,
    dedup_minhash_index_upsert,
)
from mongo_to_clickhouse_spark.queries.evalops import _ndcg_body, _ndcg_weights
from mongo_to_clickhouse_spark.queries.sketchops import (
    agg_sliding_window_quantile,
)

SF_DIR = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# dedup_minhash_index_upsert
# ---------------------------------------------------------------------------


def test_upsert_accounting_invariants(spark):
    rows = dedup_minhash_index_upsert(spark, SF_DIR).collect()
    assert {r.band_idx for r in rows} == set(range(N_BANDS))
    for r in rows:
        # inserts are append-only: exact row accounting per band
        assert r.rows_after == r.rows_before + r.rows_inserted
        # buckets can only grow, and never past the row count
        assert r.buckets_before <= r.buckets_after <= r.rows_after
        # sum(c^2) >= sum(c) with equality iff all buckets singleton
        assert r.pair_work_after >= r.rows_after
        assert r.max_bucket_after >= 1


def test_upsert_agrees_with_probe_report(spark):
    """The docs the probe report calls novel are EXACTLY the docs the
    upsert inserts: every new doc contributes one band row per band, so
    per-band rows_inserted == count(is_novel)."""
    probe = dedup_incremental_minhash(spark, SF_DIR).collect()
    n_novel = sum(1 for r in probe if r.is_novel)
    n_dup = len(probe) - n_novel
    assert n_novel > 0 and n_dup > 0  # the planted corpus has both
    rows = dedup_minhash_index_upsert(spark, SF_DIR).collect()
    for r in rows:
        assert r.rows_inserted == n_novel


# ---------------------------------------------------------------------------
# agg_sliding_window_quantile
# ---------------------------------------------------------------------------


def test_sliding_quantile_trailing_merge(spark, tmp_path):
    """Two bursts 10 hours apart: hour h0 sees only burst A, h0+10 only
    burst B (outside the 6h window), so their quantiles must differ
    exactly as the bursts do, and every estimate must be a valid HDR
    lower bound of the true quantile (rel err <= 2^-4)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    # burst A: 100 events of value 10.00 at hour 0
    for i in range(100):
        rows.append((i, t0, 1, "view", 10.0))
    # burst B: 100 events of value 640.00 at hour 10
    for i in range(100):
        rows.append((1000 + i, t0 + dt.timedelta(hours=10), 1, "view", 640.0))
    t = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
    })
    pq.write_table(t, os.path.join(str(tmp_path), "events.parquet"))
    out = agg_sliding_window_quantile(spark, str(tmp_path)).collect()
    hours = sorted({r.hour_idx for r in out})
    assert len(hours) == 2  # only observed hours appear
    by_hour = {h: {r.q_ppm: r for r in out if r.hour_idx == h}
               for h in hours}
    for h, true_cents in ((hours[0], 1000), (hours[1], 64000)):
        for q in (500_000, 950_000, 990_000):
            r = by_hour[h][q]
            assert r.n_window == 100  # no cross-burst leakage
            # HDR bound: lower <= true <= lower * (1 + 2^-4)
            assert r.est_cents_lower <= true_cents
            assert true_cents <= r.est_cents_lower * (1 + 2 ** -4)


def test_sliding_quantile_window_accumulates(spark, tmp_path):
    """Events in consecutive hours: the LAST hour's window must count
    all events within the trailing 6, and an hour 6+ later none."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for h in range(6):  # hours 0..5: 10 events each
        for i in range(10):
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "view", 5.0))
            eid += 1
    rows.append((eid, t0 + dt.timedelta(hours=20), 1, "view", 5.0))
    t = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
    })
    pq.write_table(t, os.path.join(str(tmp_path), "events.parquet"))
    out = agg_sliding_window_quantile(spark, str(tmp_path)).collect()
    n_by_hour = {r.hour_idx: r.n_window for r in out}
    hours = sorted(n_by_hour)
    base = hours[0]
    assert n_by_hour[base + 5] == 60   # hour 5 sees hours 0..5
    assert n_by_hour[base + 20] == 1   # hour 20 sees only itself


# ---------------------------------------------------------------------------
# eval_retrieval_ndcg
# ---------------------------------------------------------------------------


def _plant_retrieval(spark, cand_rows):
    """truth: probe 0 with graded top-5 neighbors 1..5 (rank = id);
    cand_rows: (neighbor_id, sim) pairs the index surfaced."""
    spark.createDataFrame(
        [(0, n, 5, n) for n in range(1, 6)],
        "probe_id long, neighbor_id long, k long, rank long",
    ).createOrReplaceTempView("ndcg_truth")
    spark.createDataFrame(
        [(0, n, float(s)) for n, s in cand_rows],
        "probe_id long, neighbor_id long, sim double",
    ).createOrReplaceTempView("ndcg_cands")


def test_ndcg_perfect_ranking_is_million(spark):
    # index surfaces exactly the true top-5 in true order
    _plant_retrieval(spark, [(n, 1.0 - n / 10.0) for n in range(1, 6)])
    row = spark.sql(_ndcg_body("ndcg_truth", "ndcg_cands", "DIV", 5)).first()
    assert row.n_probes == 1
    assert row.mean_ndcg_ppm == 1_000_000
    assert row.n_perfect == 1


def test_ndcg_reversed_ranking_matches_hand_formula(spark):
    # index surfaces the top-5 in REVERSED order: rel at rank r is r
    _plant_retrieval(spark, [(n, n / 10.0) for n in range(1, 6)])
    row = spark.sql(_ndcg_body("ndcg_truth", "ndcg_cands", "DIV", 5)).first()
    wts = dict(_ndcg_weights(5))
    dcg = sum(r * wts[r] for r in range(1, 6))          # rel(rank r) = r
    idcg = sum((5 + 1 - r) * wts[r] for r in range(1, 6))
    assert row.mean_ndcg_ppm == dcg * 1_000_000 // idcg
    assert row.n_perfect == 0


def test_ndcg_empty_candidates_scores_zero(spark):
    _plant_retrieval(spark, [(99, 0.5)])  # only an irrelevant candidate
    row = spark.sql(_ndcg_body("ndcg_truth", "ndcg_cands", "DIV", 5)).first()
    assert row.mean_ndcg_ppm == 0
    assert row.min_ndcg_ppm == 0


def test_ndcg_weights_are_log2_discounts():
    for r, w in _ndcg_weights(5):
        assert w == round(1_000_000 / math.log2(r + 1))


# ---------------------------------------------------------------------------
# events_topk_sliding / events_anomaly_seasonal_residual / time-to-convert
# ---------------------------------------------------------------------------


def _plant_events(rows, path):
    """rows: (event_id, ts, user_id, event_type, value)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
    })
    pq.write_table(t, os.path.join(path, "events.parquet"))


def test_topk_sliding_leaderboard_and_window(spark, tmp_path):
    """user 7 dominates hour 0; user 8 dominates hour 3; at hour 3 the
    trailing-6h board still counts user 7's hour-0 burst; at hour 10
    (>=6h later) neither burst is visible."""
    import datetime as dt

    from mongo_to_clickhouse_spark.queries.bizops import events_topk_sliding

    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for _ in range(5):
        rows.append((eid, t0, 7, "view", 1.0)); eid += 1
    for _ in range(3):
        rows.append((eid, t0 + dt.timedelta(hours=3), 8, "view", 1.0)); eid += 1
    rows.append((eid, t0 + dt.timedelta(hours=10), 9, "view", 1.0)); eid += 1
    _plant_events(rows, str(tmp_path))
    cache.clear()
    out = events_topk_sliding(spark, str(tmp_path)).collect()
    by_hour = {}
    for r in out:
        by_hour.setdefault(r.hour_idx, []).append(
            (r.rnk, r.user_id, r.n_events_6h))
    hours = sorted(by_hour)
    assert len(hours) == 3
    h0, h3, h10 = hours
    assert h3 == h0 + 3 and h10 == h0 + 10
    assert by_hour[h0] == [(1, 7, 5)]
    assert by_hour[h3] == [(1, 7, 5), (2, 8, 3)]  # burst still in window
    assert by_hour[h10] == [(1, 9, 1)]            # both bursts expired


def test_seasonal_residual_flags_offpattern_spike_only(spark, tmp_path):
    """A perfectly weekly-periodic daily series (strong 'Friday' 5x the
    base) with ONE off-pattern mid-week spike: raw-series MAD would see
    every Friday as extreme; the seasonal-residual rule must flag the
    injected day and NOT the periodic peaks."""
    import datetime as dt

    from mongo_to_clickhouse_spark.queries.bizops import (
        events_anomaly_seasonal_residual,
    )

    t0 = dt.datetime(2024, 3, 4)  # Monday
    rows, eid = [], 0
    spike_day = 30  # mid-week, well inside the 7-day trend frames
    for d in range(56):
        dow = d % 7
        # periodic 'Friday' burst + small deterministic noise (without
        # noise every residual repeats exactly, MAD degenerates to 0,
        # and the GREATEST(mad,1) floor flags every off-median day)
        n = (50 if dow == 4 else 10) + (d * 7919) % 5
        if d == spike_day:
            n += 200                        # the genuine anomaly
        for _ in range(n):
            rows.append((eid, t0 + dt.timedelta(days=d), 1, "view", 1.0))
            eid += 1
    _plant_events(rows, str(tmp_path))
    cache.clear()
    out = events_anomaly_seasonal_residual(spark, str(tmp_path)).collect()
    # day_idx is absolute epoch days in both engines
    spike_abs = (t0 + dt.timedelta(days=spike_day)
                 - dt.datetime(1970, 1, 1)).days
    flagged = [r for r in out if r.flagged]
    assert any(r.day_idx == spike_abs for r in flagged)
    # the spike is the EXTREME flag by an order of magnitude
    top = max(flagged, key=lambda r: abs(r.residual_micro))
    assert top.day_idx == spike_abs
    # the strong periodic 'Friday' peaks are NOT anomalies once
    # deseasonalized: every flag is either in the spike's 7-day trend
    # neighborhood or on the spike's own day-of-week (classical
    # decomposition's seasonal mean is not outlier-robust, so the
    # spike drags its dow group's estimate — expected behavior, same
    # in both engines). No base or Friday day outside those flags.
    for r in flagged:
        d = r.day_idx - spike_abs
        assert abs(d) <= 3 or d % 7 == 0


def test_time_to_convert_exact_ranks(spark, tmp_path):
    """10 users with delays 1..10 hours: p50 = rank ceil(5) = 5h,
    p90 = 9h, p99 = 10h (lower-rank type-1 definition)."""
    import datetime as dt

    from mongo_to_clickhouse_spark.queries.analytics import (
        funnel_time_to_convert,
    )

    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for u in range(1, 11):
        rows.append((eid, t0, u, "signup", 0.0)); eid += 1
        rows.append((eid, t0 + dt.timedelta(hours=u), u, "purchase", 1.0))
        eid += 1
    rows.append((eid, t0, 99, "signup", 0.0))  # never converts
    _plant_events(rows, str(tmp_path))
    cache.clear()
    got = {r.p: r for r in funnel_time_to_convert(spark, str(tmp_path)).collect()}
    hour_us = 3_600_000_000
    assert got[50].delay_us == 5 * hour_us
    assert got[90].delay_us == 9 * hour_us
    assert got[99].delay_us == 10 * hour_us
    assert all(r.n_converted == 10 for r in got.values())


# ---------------------------------------------------------------------------
# agg_hll_sliding_distinct
# ---------------------------------------------------------------------------


def test_hll_sliding_window_semantics_and_accuracy(spark, tmp_path):
    """200 users active on day 0 only, 100 different users on day 10:
    day 6 still carries the day-0 cohort (trailing 7 incl. current),
    day 10 must NOT — and every estimate lands within the ~13% HLL
    envelope (1.04/sqrt(64)) of the exact trailing distinct."""
    import datetime as dt

    from mongo_to_clickhouse_spark.queries.sketchops import (
        agg_hll_sliding_distinct,
    )

    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for u in range(1, 201):
        rows.append((eid, t0, u, "view", 1.0)); eid += 1
    # keep days 1..6 observed so the day-0 cohort's trailing window is
    # actually reported on day 6 (only observed days emit rows)
    for d in range(1, 7):
        rows.append((eid, t0 + dt.timedelta(days=d), 9999, "view", 1.0))
        eid += 1
    for u in range(10001, 10101):
        rows.append((eid, t0 + dt.timedelta(days=10), u, "view", 1.0))
        eid += 1
    _plant_events(rows, str(tmp_path))
    cache.clear()
    out = {r.day_idx: r.hll_mau7_e4 / 10000.0
           for r in agg_hll_sliding_distinct(spark, str(tmp_path)).collect()}
    days = sorted(out)
    base = days[0]
    exact = {base: 200, base + 6: 201, base + 10: 100}
    for day, true in exact.items():
        est = out[day]
        assert abs(est - true) / true < 0.30, (day, est, true)
    # the day-0 cohort must be GONE from day 10's window: the estimate
    # must track 100, not 301
    assert out[base + 10] < 200
    # monotone merge sanity: day 6's union is at least day 1's
    assert out[base + 6] >= out[base + 1] * 0.8
