"""Planted-fixture semantics for the round-8 continuation batch:
OHLC bars (hand-pinned open/close under ties), Holt-Winters (constant
series must forecast the constant exactly), Fano burstiness (regular
vs maximally bursty arrivals), ridge regression (vs an independent
numpy solve), calibration ECE (perfectly calibrated bin contributes
zero gap), code detect (obvious code vs prose), and mutual information
(perfect dependence ⇒ NMI = 1)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mongo_to_clickhouse_spark.queries.bizops import (
    _HW_HORIZON,
    events_holt_winters,
)
from mongo_to_clickhouse_spark.queries.evalops import eval_calibration_ece
from mongo_to_clickhouse_spark.queries.sampleops import (
    profile_mutual_information,
)
from mongo_to_clickhouse_spark.queries.statsops import (
    agg_regr_ridge_normal,
    events_burstiness_fano,
    RIDGE_LAMBDA,
    window_ohlc_bars,
)
from mongo_to_clickhouse_spark.queries.textops import text_code_detect

_HOUR_US = 3_600_000_000


def _write_events(tmp_path, rows):
    """rows: list of (event_id, t_us, user_id, event_type, value)."""
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(table, os.path.join(str(tmp_path), "events.parquet"))
    return str(tmp_path)


def _write_documents(tmp_path, texts, langs=None, sources=None):
    n = len(texts)
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs or ["en"] * n),
            "source": pa.array(sources or ["src0"] * n),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(str(tmp_path), "documents.parquet"))
    return str(tmp_path)


# ---------------------------------------------------------------------------
# window_ohlc_bars
# ---------------------------------------------------------------------------


def test_ohlc_pins_open_close_on_tied_timestamps(spark, tmp_path):
    # one type, one hour; two events share the SAME timestamp — the
    # event_id tiebreak must pin open to id 1 and close to id 4
    t0 = 100 * _HOUR_US
    rows = [
        (1, t0 + 5, 1, "click", 10.00),   # open (tied ts, smaller id)
        (2, t0 + 5, 1, "click", 99.00),   # high
        (3, t0 + 9, 1, "click", 1.00),    # low
        (4, t0 + 9, 1, "click", 42.00),   # close (tied ts, larger id)
    ]
    sf = _write_events(tmp_path, rows)
    got = window_ohlc_bars(spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.open_cents, r.high_cents, r.low_cents, r.close_cents) == (
        1000, 9900, 100, 4200,
    )
    assert (r.n_events, r.sum_cents) == (4, 15200)


def test_ohlc_buckets_by_hour(spark, tmp_path):
    rows = [
        (1, 10 * _HOUR_US + 1, 1, "view", 5.0),
        (2, 11 * _HOUR_US + 1, 1, "view", 7.0),
    ]
    sf = _write_events(tmp_path, rows)
    got = {r.hour_idx: r for r in window_ohlc_bars(spark, sf).collect()}
    assert set(got) == {10, 11}
    assert got[10].open_cents == got[10].close_cents == 500
    assert got[11].open_cents == got[11].close_cents == 700


# ---------------------------------------------------------------------------
# events_holt_winters
# ---------------------------------------------------------------------------


def test_holt_winters_constant_series_forecasts_constant(spark, tmp_path):
    # 14 days, exactly 3 events/day for type A and 5/day for type B:
    # level locks to the constant, trend and season stay zero, so every
    # forecast horizon is exactly the constant (in micro units)
    day_us = 86_400_000_000
    rows = []
    eid = 0
    for d in range(14):
        for k in range(3):
            eid += 1
            rows.append((eid, d * day_us + k, 1, "aa", 1.0))
        for k in range(5):
            eid += 1
            rows.append((eid, d * day_us + 1000 + k, 1, "bb", 1.0))
    sf = _write_events(tmp_path, rows)
    got = events_holt_winters(spark, sf).collect()
    assert len(got) == 2 * _HW_HORIZON
    for r in got:
        want = 3_000_000 if r.event_type == "aa" else 5_000_000
        assert r.forecast_micro == want, r
    assert sorted({r.horizon for r in got}) == list(
        range(1, _HW_HORIZON + 1)
    )


# ---------------------------------------------------------------------------
# events_burstiness_fano
# ---------------------------------------------------------------------------


def test_fano_regular_vs_bursty(spark, tmp_path):
    # regular: 1 event every hour for 10 hours -> variance 0 -> fano 0,
    # burstiness (0-mu)/(0+mu) = -1. bursty: all 10 events in hour 0 of
    # the same global 10-hour span.
    rows = []
    eid = 0
    for h in range(10):
        eid += 1
        rows.append((eid, h * _HOUR_US + 1, 1, "regular", 1.0))
    for k in range(10):
        eid += 1
        rows.append((eid, k + 2, 1, "bursty", 1.0))
    sf = _write_events(tmp_path, rows)
    got = {r.event_type: r for r in events_burstiness_fano(spark, sf).collect()}
    assert got["regular"].n_hours == 10
    assert got["regular"].fano == 0.0
    assert got["regular"].burstiness == -1.0
    # bursty: s1=10, s2=100, N=10 -> fano = (10*100 - 100)/(10*10) = 9
    assert got["bursty"].fano == 9.0
    # sigma = sqrt(900)/10 = 3, mu = 1 -> B = (3-1)/(3+1) = 0.5
    assert got["bursty"].burstiness == 0.5


# ---------------------------------------------------------------------------
# agg_regr_ridge_normal
# ---------------------------------------------------------------------------


def test_ridge_matches_numpy_normal_equations(spark, sf_dir):
    rows = agg_regr_ridge_normal(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    # independent reference: numpy solve of (X'X + lambda*diag(0,1,1))
    import duckdb

    con = duckdb.connect()
    obs = con.sql(
        f"""SELECT CAST(l_quantity AS BIGINT),
                   CAST(round(l_discount * 100) AS BIGINT),
                   CAST(round(l_extendedprice * 100) AS BIGINT)
            FROM '{sf_dir}/lineitem.parquet'"""
    ).fetchnumpy()
    x1 = obs[list(obs)[0]].astype(np.float64)
    x2 = obs[list(obs)[1]].astype(np.float64)
    y = obs[list(obs)[2]].astype(np.float64)
    X = np.stack([np.ones_like(x1), x1, x2], axis=1)
    A = X.T @ X + RIDGE_LAMBDA * np.diag([0.0, 1.0, 1.0])
    beta = np.linalg.solve(A, X.T @ y)
    assert abs(r.beta0_cents - beta[0]) < 1e-3
    assert abs(r.beta_qty - beta[1]) < 1e-3
    assert abs(r.beta_discount_centi - beta[2]) < 1e-3
    # quantity positively prices the line item at any sf
    assert r.beta_qty > 0


# ---------------------------------------------------------------------------
# eval_calibration_ece
# ---------------------------------------------------------------------------


def test_ece_perfectly_calibrated_bin_contributes_zero(spark, tmp_path):
    # 4 docs at n_chars=500 (conf 0.25, bin 2) with exactly 1 English:
    # acc == conf -> zero gap. 2 docs at n_chars=2000 (conf 1.0, bin 9)
    # both non-English: gap mass = 2e6. ECE = floor(2e6 / 6) ppm.
    texts = ["x" * 500] * 4 + ["y" * 2000] * 2
    langs = ["en", "de", "fr", "it", "de", "fr"]
    sf = _write_documents(tmp_path, texts, langs=langs)
    got = {r.bin: r for r in eval_calibration_ece(spark, sf).collect()}
    assert set(got) == {2, 9}
    assert got[2].gap_mass_ppm == 0
    assert got[2].acc_ppm == got[2].conf_avg_ppm == 250_000
    assert got[9].gap_mass_ppm == 2_000_000
    assert got[2].ece_ppm == got[9].ece_ppm == 2_000_000 // 6


# ---------------------------------------------------------------------------
# text_code_detect
# ---------------------------------------------------------------------------


def test_code_detect_flags_code_not_prose(spark, tmp_path):
    code = (
        "def main(x):\n    import os\n    return os.path.join(x, 'a');\n"
        "class Foo:\n    pass\n"
    )
    prose = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet morning fields without a single care"
    )
    sf = _write_documents(tmp_path, [code, prose])
    got = text_code_detect(spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_docs, r.n_code) == (2, 1)
    assert r.code_ppm == 500_000


# ---------------------------------------------------------------------------
# stream_minhash_index_upsert
# ---------------------------------------------------------------------------


def test_stream_upsert_consistent_with_batch_family(spark, sf_dir):
    """Cross-operator invariants against the batch family: the stream
    probes exactly the batch family's new docs (Σ n_probed = probe
    report rows); every batch inserts N_BANDS rows per novel doc; and
    the stream can only accept FEWER docs than the one-shot batch
    upsert (later batches also probe earlier batches' inserts, so a
    novel doc that near-dups an earlier-accepted novel doc is rejected
    here but accepted there)."""
    from mongo_to_clickhouse_spark.queries.dedupops import (
        N_BANDS,
        dedup_incremental_minhash,
        dedup_minhash_index_upsert,
        stream_minhash_index_upsert,
    )

    acct = stream_minhash_index_upsert(spark, sf_dir).collect()
    assert [r.batch_id for r in acct] == [0, 1, 2]
    probe = dedup_incremental_minhash(spark, sf_dir).collect()
    assert sum(r.n_probed for r in acct) == len(probe)
    for r in acct:
        assert r.rows_inserted == r.n_novel * N_BANDS
        assert 0 <= r.n_novel <= r.n_probed
    # per-band rows_inserted in the batch report = |accepted| docs;
    # stream acceptance is a SUBSET of batch acceptance (see docstring)
    batch_accepted = dedup_minhash_index_upsert(spark, sf_dir).collect()[
        0
    ].rows_inserted
    assert sum(r.n_novel for r in acct) <= batch_accepted
    # the planted corpus has both novels and dups flowing through
    assert sum(r.n_novel for r in acct) > 0
    assert sum(r.n_probed - r.n_novel for r in acct) > 0


# ---------------------------------------------------------------------------
# window_rolling_corr_pair
# ---------------------------------------------------------------------------


def test_rolling_corr_perfect_linear_series(spark, tmp_path):
    # click pays k dollars on day k, purchase pays 2k: perfectly
    # correlated -> rolling corr exactly 1.0 once n >= 2
    day_us = 86_400_000_000
    rows = []
    eid = 0
    for d in range(1, 21):
        eid += 1
        rows.append((eid, d * day_us + 1, 1, "click", float(d)))
        eid += 1
        rows.append((eid, d * day_us + 2, 1, "purchase", float(2 * d)))
    sf = _write_events(tmp_path, rows)
    from mongo_to_clickhouse_spark.queries.bizops import (
        window_rolling_corr_pair,
    )

    got = sorted(window_rolling_corr_pair(spark, sf).collect(),
                 key=lambda r: r.day_idx)
    assert len(got) == 20
    assert got[0].rolling_corr is None  # n = 1: undefined
    for r in got[1:]:
        assert r.rolling_corr == 1.0, r
        assert r.purchase_dollars == 2 * r.click_dollars


# ---------------------------------------------------------------------------
# events_interarrival_hdr
# ---------------------------------------------------------------------------


def test_interarrival_constant_rate_has_exact_quantiles(spark, tmp_path):
    # one event every 8 us: every delta is exactly 8 (< 16, exact HDR
    # bucket), including across the day boundary
    day_us = 86_400_000_000
    rows = []
    for k in range(200):
        t = day_us - 800 + 8 * k  # straddles the day boundary
        rows.append((k + 1, t, 1, "steady", 1.0))
    sf = _write_events(tmp_path, rows)
    from mongo_to_clickhouse_spark.queries.sketchops import (
        events_interarrival_hdr,
    )

    got = events_interarrival_hdr(spark, sf).collect()
    assert len(got) == 3  # p50/p95/p99
    for r in got:
        assert r.event_type == "steady"
        assert r.est_interarrival_us_lower == 8, r
        assert r.n_deltas == 199


# ---------------------------------------------------------------------------
# graph_2hop_reach
# ---------------------------------------------------------------------------


def test_two_hop_reach_invariants(spark, sf_dir):
    from mongo_to_clickhouse_spark.queries.graphops import graph_2hop_reach

    rows = graph_2hop_reach(spark, sf_dir).collect()
    assert len(rows) > 0
    n_nodes = len(rows)
    for r in rows:
        assert r.n_1hop >= 1  # adjacency only contains connected nodes
        assert r.n_2hop >= 0
        # strict 2-hop excludes self and direct neighbors
        assert r.n_1hop + r.n_2hop <= n_nodes - 1
        want = (r.n_1hop + r.n_2hop) * 1_000_000 // (n_nodes - 1)
        assert r.reach_ppm == want


# ---------------------------------------------------------------------------
# events_new_user_curve
# ---------------------------------------------------------------------------


def test_new_user_curve_planted_cohorts(spark, tmp_path):
    # day 0: users 1,2 appear (both new); day 1: users 1,3 (user 3 new,
    # user 1 returning); day 2: users 1,2,3 (all returning)
    day_us = 86_400_000_000
    rows = [
        (1, 1, 1, "view", 1.0), (2, 2, 2, "view", 1.0),
        (3, day_us + 1, 1, "view", 1.0), (4, day_us + 2, 3, "view", 1.0),
        (5, 2 * day_us + 1, 1, "view", 1.0),
        (6, 2 * day_us + 2, 2, "view", 1.0),
        (7, 2 * day_us + 3, 3, "view", 1.0),
    ]
    sf = _write_events(tmp_path, rows)
    from mongo_to_clickhouse_spark.queries.bizops import (
        events_new_user_curve,
    )

    got = {r.day_idx: r for r in events_new_user_curve(spark, sf).collect()}
    assert (got[0].n_new, got[0].n_returning, got[0].cum_users) == (2, 0, 2)
    assert (got[1].n_new, got[1].n_returning, got[1].cum_users) == (1, 1, 3)
    assert (got[2].n_new, got[2].n_returning, got[2].cum_users) == (0, 3, 3)
    assert got[1].new_share_ppm == 500_000


# ---------------------------------------------------------------------------
# agg_bayes_beta_binomial
# ---------------------------------------------------------------------------


def test_bayes_posterior_exact_params(spark, tmp_path):
    # arm 0: users 2,4 (user 2 converts); arm 1: users 1,3,5 (none
    # convert) -> posteriors Beta(2,2) and Beta(1,4)
    rows = [
        (1, 1, 2, "purchase", 1.0), (2, 2, 2, "view", 1.0),
        (3, 3, 4, "view", 1.0),
        (4, 4, 1, "view", 1.0), (5, 5, 3, "view", 1.0),
        (6, 6, 5, "view", 1.0),
    ]
    sf = _write_events(tmp_path, rows)
    from mongo_to_clickhouse_spark.queries.bizops import (
        agg_bayes_beta_binomial,
    )

    got = {r.arm: r for r in agg_bayes_beta_binomial(spark, sf).collect()}
    assert (got[0].post_alpha, got[0].post_beta) == (2, 2)
    assert got[0].post_mean_ppm == 500_000
    assert (got[1].post_alpha, got[1].post_beta) == (1, 4)
    assert got[1].post_mean_ppm == 200_000


# ---------------------------------------------------------------------------
# events_power_law_hill
# ---------------------------------------------------------------------------


def test_hill_estimator_against_numpy(spark, sf_dir):
    import duckdb

    from mongo_to_clickhouse_spark.queries.statsops import (
        HILL_K,
        events_power_law_hill,
    )

    r = events_power_law_hill(spark, sf_dir).collect()[0]
    con = duckdb.connect()
    cnts = [
        c
        for (c,) in con.sql(
            f"""SELECT COUNT(*)::BIGINT AS c
                FROM '{sf_dir}/events.parquet'
                GROUP BY user_id ORDER BY c DESC LIMIT {HILL_K + 1}"""
        ).fetchall()
    ]
    x_min = cnts[-1]
    terms = [round(np.log(c / x_min) * 1e6) for c in cnts[:HILL_K]]
    assert r.x_min == x_min
    assert r.sum_log_ratio_micro == sum(terms)
    assert r.hill_alpha_micro == HILL_K * 10**12 // sum(terms)
    # per-user event counts are heavy-ish but not infinite-variance
    assert r.hill_alpha_micro > 0


# ---------------------------------------------------------------------------
# events_holt_winters_backtest
# ---------------------------------------------------------------------------


def test_hw_backtest_constant_series_has_zero_error(spark, tmp_path):
    # constant series: the one-step-ahead prediction is exact, so the
    # scored error mass and WAPE are exactly zero
    day_us = 86_400_000_000
    rows = []
    eid = 0
    for d in range(14):
        for k in range(4):
            eid += 1
            rows.append((eid, d * day_us + k, 1, "aa", 1.0))
    sf = _write_events(tmp_path, rows)
    from mongo_to_clickhouse_spark.queries.bizops import (
        _HW_WARMUP,
        events_holt_winters_backtest,
    )

    got = events_holt_winters_backtest(spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_scored_days == 14 - _HW_WARMUP
    assert r.y_total == 4 * (14 - _HW_WARMUP)
    assert r.abs_err_micro == 0
    assert r.wape_ppm == 0


# ---------------------------------------------------------------------------
# sample_timeseries_cv
# ---------------------------------------------------------------------------


def test_timeseries_cv_split_invariants(spark, sf_dir):
    from mongo_to_clickhouse_spark.queries.sampleops import (
        _TSCV_FOLDS,
        sample_timeseries_cv,
    )

    rows = sorted(sample_timeseries_cv(spark, sf_dir).collect(),
                  key=lambda r: r.fold)
    assert [r.fold for r in rows] == list(range(1, _TSCV_FOLDS + 1))
    for prev, cur in zip(rows, rows[1:]):
        # expanding window: training strictly grows, cutoffs advance
        assert cur.cutoff > prev.cutoff
        assert cur.n_train_events >= prev.n_train_events
        assert cur.n_train_users >= prev.n_train_users
    for r in rows:
        assert r.cutoff < r.test_end
        assert r.n_overlap_users <= min(r.n_train_users, r.n_test_users)
        assert 0 <= r.warm_start_ppm <= 1_000_000


# ---------------------------------------------------------------------------
# events_alert_debounce
# ---------------------------------------------------------------------------


def test_alert_debounce_raise_and_clear(spark, tmp_path):
    # hours 0-1: healthy (20 events, 0 errors); hours 2-4: 3 breach
    # hours (all errors) -> alert raises AT hour 4; hour 5 breaches on
    # (alert stays); hours 6-7 quiet -> clears AT hour 7
    rows = []
    eid = 0

    def add(hour, n_ok, n_err):
        nonlocal eid
        for k in range(n_ok):
            eid += 1
            rows.append((eid, hour * _HOUR_US + k, 1, "view", 1.0))
        for k in range(n_err):
            eid += 1
            rows.append((eid, hour * _HOUR_US + 1000 + k, 1, "error", 1.0))

    add(0, 20, 0)
    add(1, 20, 0)
    add(2, 0, 5)
    add(3, 0, 5)
    add(4, 0, 5)
    add(5, 0, 5)
    add(6, 20, 0)
    add(7, 20, 0)
    sf = _write_events(tmp_path, rows)
    from mongo_to_clickhouse_spark.queries.statsops import (
        events_alert_debounce,
    )

    got = {r.hour_idx: r for r in events_alert_debounce(spark, sf).collect()}
    assert [got[h].breach for h in range(8)] == [0, 0, 1, 1, 1, 1, 0, 0]
    want_alert = [False, False, False, False, True, True, True, False]
    assert [got[h].alert_on for h in range(8)] == want_alert


# ---------------------------------------------------------------------------
# tokenizer_sentencepiece_normalize
# ---------------------------------------------------------------------------


def test_sp_normalize_rule_accounting(spark, tmp_path):
    texts = [
        "“Hello” — WORLD",   # curly quotes + em dash + upper
        "tab\there",                        # tab -> space
        "double  space",                    # collapse
        "already clean",
    ]
    sf = _write_documents(tmp_path, texts)
    from mongo_to_clickhouse_spark.queries.tokenizerops import (
        tokenizer_sentencepiece_normalize,
    )

    got = tokenizer_sentencepiece_normalize(spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_docs == 4
    assert r.docs_punct_folded == 1
    assert r.docs_ws_folded == 1
    assert r.docs_ws_collapsed == 1
    assert r.docs_changed == 3  # "already clean" survives untouched
    # '“Hello” — WORLD' (15) -> '"hello" - world' (15); others shrink 1
    assert r.chars_before - r.chars_after == 1


# ---------------------------------------------------------------------------
# sample_downsample_head_heavy
# ---------------------------------------------------------------------------


def test_head_cap_planted_whale(spark, tmp_path):
    # 20 users with 2 events, one whale with 100: the p95 cap lands at
    # 2, so the whale keeps exactly 2 hash-chosen events
    rows = []
    eid = 0
    for u in range(1, 21):
        for k in range(2):
            eid += 1
            rows.append((eid, eid, u, "view", 1.0))
    for k in range(100):
        eid += 1
        rows.append((eid, eid, 999, "view", 1.0))
    sf = _write_events(tmp_path, rows)
    from mongo_to_clickhouse_spark.queries.sampleops import (
        sample_downsample_head_heavy,
    )

    got = sample_downsample_head_heavy(spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert r.cap_events_per_user == 2
    assert (r.n_before, r.n_after) == (140, 42)
    assert r.removed_ppm == (98 * 1_000_000) // 140


# ---------------------------------------------------------------------------
# eval_winrate_bradley_terry
# ---------------------------------------------------------------------------


def test_bradley_terry_total_order(spark, tmp_path):
    # 10 user-days where click(3) > view(2) > error(1): a strict
    # dominance order the MM fit must reproduce
    rows = []
    eid = 0
    day_us = 86_400_000_000
    for u in range(1, 11):
        t0 = u * day_us
        for k in range(3):
            eid += 1
            rows.append((eid, t0 + k, u, "click", 1.0))
        for k in range(2):
            eid += 1
            rows.append((eid, t0 + 10 + k, u, "view", 1.0))
        eid += 1
        rows.append((eid, t0 + 20, u, "error", 1.0))
    sf = _write_events(tmp_path, rows)
    from mongo_to_clickhouse_spark.queries.evalops import (
        eval_winrate_bradley_terry,
    )

    got = sorted(eval_winrate_bradley_terry(spark, sf).collect(),
                 key=lambda r: r.rank)
    assert [r.event_type for r in got] == ["click", "view", "error"]
    assert [r.wins for r in got] == [20, 10, 0]
    assert all(r.games == 20 for r in got)
    assert got[0].theta_micro > got[1].theta_micro > got[2].theta_micro


# ---------------------------------------------------------------------------
# events_retention_revenue_weighted
# ---------------------------------------------------------------------------


def test_revenue_retention_planted_cohort(spark, tmp_path):
    # one cohort (day 0): $10.00 on day 0, $5.00 on day 1 -> 50% NRR
    day_us = 86_400_000_000
    rows = [
        (1, 1, 1, "purchase", 6.00), (2, 2, 2, "purchase", 4.00),
        (3, day_us + 1, 1, "purchase", 5.00),
    ]
    sf = _write_events(tmp_path, rows)
    from mongo_to_clickhouse_spark.queries.analytics import (
        events_retention_revenue_weighted,
    )

    got = {r.day_offset: r
           for r in events_retention_revenue_weighted(spark, sf).collect()}
    assert got[0].revenue_cents == 1000
    assert got[0].revenue_retention_ppm == 1_000_000
    assert got[1].revenue_cents == 500
    assert got[1].revenue_retention_ppm == 500_000
    assert (got[0].active_users, got[1].active_users) == (2, 1)


# ---------------------------------------------------------------------------
# pipeline_data_ablation_slices
# ---------------------------------------------------------------------------


def test_ablation_slices_hand_computed_entropy(spark, tmp_path):
    import math

    # sources A=100, B=50, C=50 tokens (one doc each)
    texts = [" ".join(["w"] * 100), " ".join(["w"] * 50),
             " ".join(["w"] * 50)]
    sf = _write_documents(tmp_path, texts,
                          sources=["srcA", "srcB", "srcC"])
    from mongo_to_clickhouse_spark.queries.pipelineops import (
        pipeline_data_ablation_slices,
    )

    got = {r.excluded: r
           for r in pipeline_data_ablation_slices(spark, sf).collect()}
    assert set(got) == {"srcA", "srcB", "srcC"}
    # exclude A: remainder {50, 50} -> entropy ln 2
    a = got["srcA"]
    assert (a.docs_remaining, a.tokens_remaining) == (2, 100)
    assert a.token_share_removed_ppm == (100 * 1_000_000) // 200
    assert abs(a.mix_entropy_remaining_micro
               - math.floor(math.log(2) * 1e6)) <= 1
    # exclude B: remainder {100, 50} -> hand weighted ln-ppm sum
    b = got["srcB"]
    hw = (100 * round(math.log(100 / 150) * 1e6)
          + 50 * round(math.log(50 / 150) * 1e6))
    assert b.mix_entropy_remaining_micro == math.floor(-hw / 150)


# ---------------------------------------------------------------------------
# profile_mutual_information
# ---------------------------------------------------------------------------


def test_mi_perfect_dependence_gives_nmi_one(spark, tmp_path):
    # 4 nations in 1-1 correspondence with 4 segments, equal counts:
    # MI == H_segment == H_nation == ln 4, so NMI == 1.0 exactly
    n_per = 25
    seg = {0: "AUTO", 1: "BUILD", 2: "MACH", 3: "HOUSE"}
    nk, ms = [], []
    for nation in range(4):
        nk += [nation] * n_per
        ms += [seg[nation]] * n_per
    table = pa.table(
        {
            "c_custkey": pa.array(range(len(nk)), pa.int64()),
            "c_nationkey": pa.array(nk, pa.int64()),
            "c_mktsegment": pa.array(ms),
        }
    )
    pq.write_table(table, os.path.join(str(tmp_path), "customer.parquet"))
    got = profile_mutual_information(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_customers == 100
    assert r.nmi_ppm == 1_000_000
    # ln(4) in micro-nats
    assert r.mi_micro_nats == r.h_segment_micro == r.h_nation_micro
    assert abs(r.mi_micro_nats - 1_386_294) <= 1
