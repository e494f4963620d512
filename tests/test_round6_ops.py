"""Planted-fixture semantics for the round-6 batch: k-core onion
layers, Neyman-optimal stratified allocation, and the PSI drift
monitor."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq

from mongo_to_clickhouse_spark import cache
from mongo_to_clickhouse_spark.queries.graphops import graph_kcore_onion
from mongo_to_clickhouse_spark.queries.sampleops import (
    sample_neyman_allocation,
)
from mongo_to_clickhouse_spark.queries.statsops import sample_psi_drift

_T0 = dt.datetime(2024, 6, 1)


# ---------------------------------------------------------------------------
# graph_kcore_onion
# ---------------------------------------------------------------------------


def test_kcore_onion_planted_layers(spark, tmp_path):
    # Component A: 6-clique of suppliers {1..6} — every node has degree
    # 5 >= KCORE_K=4, so the whole clique survives all peeling rounds
    # (layer -1, the 4-core). Component B: hub 100 joined to four
    # pendants 101-104. Pendants have degree 1 < 4 -> peeled in round 1
    # (layer 1); the hub starts at degree 4 but loses all neighbors
    # after round 1 -> peeled in round 2 (layer 2).
    pairs = []
    oid = 0
    clique = [1, 2, 3, 4, 5, 6]
    for rep in range(3):
        for i in range(len(clique)):
            for j in range(i + 1, len(clique)):
                pairs.append((oid, clique[i]))
                pairs.append((oid, clique[j]))
                oid += 1
    for rep in range(3):
        for pendant in (101, 102, 103, 104):
            pairs.append((oid, 100))
            pairs.append((oid, pendant))
            oid += 1
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([o for o, _ in pairs], pa.int64()),
            "l_suppkey": pa.array([s for _, s in pairs], pa.int64()),
        }
    )
    sf = str(tmp_path)
    pq.write_table(lineitem, os.path.join(sf, "lineitem.parquet"))
    got = {
        r["layer"]: (r["n_nodes"], r["min_node"], r["max_node"])
        for r in graph_kcore_onion(spark, sf).collect()
    }
    assert got == {
        -1: (6, 1, 6),      # the 4-core: the full clique
        1: (4, 101, 104),   # pendants peeled first
        2: (1, 100, 100),   # the hub follows one round later
    }


# ---------------------------------------------------------------------------
# sample_neyman_allocation
# ---------------------------------------------------------------------------


def _write_orders(tmp_path, rows):
    """rows: list of (orderkey, totalprice, priority)."""
    tbl = pa.table(
        {
            "o_orderkey": pa.array([k for k, _, _ in rows], pa.int64()),
            "o_totalprice": pa.array([p for _, p, _ in rows], pa.float64()),
            "o_orderpriority": pa.array([s for _, _, s in rows], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "orders.parquet"))
    return str(tmp_path)


def test_neyman_zero_variance_stratum_gets_nothing(spark, tmp_path):
    # HIGH: 120 orders, hecto-values 1..10 (S > 0). LOW: 80 orders, all
    # exactly 500 (S = 0 -> weight N_h*S_h = 0 -> zero allocation; it
    # then drops out of the drawn inner join entirely).
    rows = [(i, 100.0 * (i % 10 + 1), "1-HIGH") for i in range(120)]
    rows += [(1000 + i, 500.0, "2-LOW") for i in range(80)]
    out = sample_neyman_allocation(spark, _write_orders(tmp_path, rows))
    got = out.collect()
    assert len(got) == 1
    (r,) = got
    assert r["stratum"] == "1-HIGH"
    assert r["stratum_size"] == 120
    # budget = 10% of 200 = 20, all of it to the only varying stratum
    assert r["n_alloc"] == 20 and r["n_drawn"] == 20


def test_neyman_allocation_proportional_to_size_at_equal_variance(
    spark, tmp_path
):
    # Same value pattern (same S_h) in both strata, sizes 300 vs 100:
    # n_h proportional to N_h -> 30 / 10 of the 40-draw budget, summing
    # exactly to the budget (largest-remainder closes the gap).
    rows = [(i, 100.0 * (i % 10 + 1), "A") for i in range(300)]
    rows += [(5000 + i, 100.0 * (i % 10 + 1), "B") for i in range(100)]
    got = {
        r["stratum"]: r
        for r in sample_neyman_allocation(
            spark, _write_orders(tmp_path, rows)
        ).collect()
    }
    assert got["A"]["n_alloc"] == 30 and got["B"]["n_alloc"] == 10
    # same value pattern -> same population SD; the sample-SD Bessel
    # factor n/(n-1) differs slightly between 300 and 100 rows
    assert abs(got["A"]["s_micro"] - got["B"]["s_micro"]) < 20_000
    assert all(r["n_drawn"] == r["n_alloc"] for r in got.values())


# ---------------------------------------------------------------------------
# sample_psi_drift
# ---------------------------------------------------------------------------


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


def test_psi_disjoint_supports_alert(spark, tmp_path):
    # A (even ids) near 1.0, B (odd ids) near 100.0 — fully disjoint
    # bin supports push PSI far past the 0.2 alert bar.
    values = [
        1.0 + (i % 10) * 0.1 if i % 2 == 0 else 100.0 + (i % 10) * 0.1
        for i in range(400)
    ]
    rows = sample_psi_drift(spark, _write_events(tmp_path, values)).collect()
    (total,) = [r for r in rows if r["tier"] == "__total__"]
    assert total["bin"] is None
    assert total["n_a"] == 200 and total["n_b"] == 200
    assert total["psi_micro"] > 1_000_000  # PSI >> 1 on disjoint supports
    assert total["warn"] and total["alert"]
    # top contributing bins reported alongside the scalar
    assert len(rows) == 1 + 5


def test_psi_identical_halves_zero(spark, tmp_path):
    # consecutive (even, odd) pairs share a value -> per-bin counts are
    # identical and na == nb, so every log-ratio is exactly ln(1) = 0.
    values = [float((i // 2) % 50) for i in range(800)]
    rows = sample_psi_drift(spark, _write_events(tmp_path, values)).collect()
    (total,) = [r for r in rows if r["tier"] == "__total__"]
    assert total["bin"] is None
    assert total["psi_micro"] == 0
    assert not total["warn"] and not total["alert"]


# ---------------------------------------------------------------------------
# graph_hits_scores
# ---------------------------------------------------------------------------


def test_hits_planted_hub_and_authority(spark, tmp_path):
    # Suppliers {1, 2}; customers {10, 11, 12}. Everyone buys from
    # supplier 1; only customer 10 also buys from supplier 2. So
    # supplier 1 is the max authority (score 1e6 after normalization)
    # and customer 10 — the broadest buyer — the max hub.
    from mongo_to_clickhouse_spark.queries.graphops import (
        _SUPP_BASE,
        graph_hits_scores,
    )

    purchases = [(10, 1), (11, 1), (12, 1), (10, 2)]
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(len(purchases)), pa.int64()),
            "o_custkey": pa.array([c for c, _ in purchases], pa.int64()),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(range(len(purchases)), pa.int64()),
            "l_suppkey": pa.array([s for _, s in purchases], pa.int64()),
        }
    )
    sf = str(tmp_path)
    pq.write_table(orders, os.path.join(sf, "orders.parquet"))
    pq.write_table(lineitem, os.path.join(sf, "lineitem.parquet"))
    rows = graph_hits_scores(spark, sf).collect()
    auth = [r for r in rows if r["side"] == "authority"]
    hubs = [r for r in rows if r["side"] == "hub"]
    assert auth[0]["node_id"] == _SUPP_BASE + 1
    assert auth[0]["score_micro"] == 1_000_000
    assert auth[1]["node_id"] == _SUPP_BASE + 2
    assert auth[1]["score_micro"] < 1_000_000
    assert hubs[0]["node_id"] == 10 and hubs[0]["score_micro"] == 1_000_000
    # the two single-supplier buyers tie below the hub
    assert {hubs[1]["node_id"], hubs[2]["node_id"]} == {11, 12}
    assert hubs[1]["score_micro"] == hubs[2]["score_micro"] < 1_000_000


# ---------------------------------------------------------------------------
# eval_score_auc
# ---------------------------------------------------------------------------


def _write_docs(tmp_path, rows):
    """rows: list of (doc_id, text, lang, n_chars)."""
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _, _, _ in rows], pa.int64()),
            "text": pa.array([t for _, t, _, _ in rows], pa.string()),
            "lang": pa.array([la for _, _, la, _ in rows], pa.string()),
            "source": pa.array(["src0"] * len(rows), pa.string()),
            "n_chars": pa.array([n for _, _, _, n in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    return str(tmp_path)


def test_auc_perfect_separation(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.evalops import eval_score_auc

    rows = [(i, "x", "en", 100 + i) for i in range(10)]
    rows += [(100 + i, "x", "de", 10 + i) for i in range(15)]
    (r,) = eval_score_auc(spark, _write_docs(tmp_path, rows)).collect()
    assert r["n_pos"] == 10 and r["n_neg"] == 15
    assert r["auc_ppm"] == 1_000_000 and r["gini_ppm"] == 1_000_000


def test_auc_all_tied_is_half(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.evalops import eval_score_auc

    rows = [(i, "x", "en" if i % 2 == 0 else "fr", 42) for i in range(20)]
    (r,) = eval_score_auc(spark, _write_docs(tmp_path, rows)).collect()
    # every pair is a tie -> midrank U = n1*n0/2 exactly
    assert r["auc_ppm"] == 500_000 and r["gini_ppm"] == 0


def test_auc_hand_computed(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.evalops import eval_score_auc

    # pos scores {3, 1}, neg scores {2, 1}:
    # pairs: (3>2)=1 (3>1)=1 (1<2)=0 (1=1)=.5 -> U = 2.5, AUC = 0.625
    rows = [(0, "x", "en", 3), (1, "x", "en", 1),
            (2, "x", "de", 2), (3, "x", "de", 1)]
    (r,) = eval_score_auc(spark, _write_docs(tmp_path, rows)).collect()
    assert r["auc_ppm"] == 625_000


# ---------------------------------------------------------------------------
# text_collocations_pmi
# ---------------------------------------------------------------------------


def test_pmi_planted_collocation(spark, tmp_path):
    import math

    from mongo_to_clickhouse_spark.queries.corpusops import (
        text_collocations_pmi,
    )

    cache.clear()
    # two bigram types, 6 occurrences each, words never cross-attached:
    # PMI = ln(c12*N / (c1*c2)) = ln(6*12 / 36) = ln 2 for both pairs
    rows = [(i, "new york", "en", 8) for i in range(6)]
    rows += [(10 + i, "hong kong", "en", 9) for i in range(6)]
    out = text_collocations_pmi(spark, _write_docs(tmp_path, rows)).collect()
    expect = round(math.log(2.0) * 1e6)
    got = {(r["w1"], r["w2"]): (r["pair_count"], r["pmi_micro"]) for r in out}
    assert got == {
        ("hong", "kong"): (6, expect),
        ("new", "york"): (6, expect),
    }


# ---------------------------------------------------------------------------
# events_autocorrelation
# ---------------------------------------------------------------------------


def test_acf_period_two_series(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import (
        events_autocorrelation,
    )

    cache.clear()
    # 14 days alternating 10/20 events: mean 15, centered ±5.
    # lag 1: 13 pairs, each product -25 -> floor(-325/350*1e6) = -928572
    # lag 2: 12 pairs, each product +25 -> floor(+300/350*1e6) = +857142
    ts, n = [], 0
    for day in range(14):
        cnt = 10 if day % 2 == 0 else 20
        for _ in range(cnt):
            ts.append(_T0 + dt.timedelta(days=day, seconds=n % 3600))
            n += 1
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    got = {
        r["lag"]: (r["n_pairs"], r["acf_ppm"], r["n_days"])
        for r in events_autocorrelation(spark, str(tmp_path)).collect()
    }
    assert got[1] == (13, -928572, 14)
    assert got[2] == (12, 857142, 14)
    assert set(got) == {1, 2, 3, 4, 5, 6, 7}


# ---------------------------------------------------------------------------
# sim_mmr_diversify
# ---------------------------------------------------------------------------


def test_mmr_matches_numpy_reference(spark, tmp_path):
    import numpy as np

    from mongo_to_clickhouse_spark.queries.vectorops import (
        MMR_POOL,
        MMR_PROBES,
        MMR_SELECT,
        sim_mmr_diversify,
    )

    cache.clear()
    # 12 vectors incl. a planted near-duplicate pair (ids 3, 4) that
    # pure relevance would pick back-to-back; the numpy reference
    # replays the same integer-micro greedy rounds.
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((12, 8)).astype(np.float64)
    # probe 0 sees twins (3, 4) as most relevant (cos ≈ .857, mutual
    # cos ≈ 1) and candidate 5 as nearly-as-relevant (cos ≈ .844) but
    # DIVERSE from the twins (cos ≈ .447): round 1 must pick 5 because
    # 7·.844 − 3·.447 > 7·.857 − 3·1.0
    vecs[0] = np.array([1, 0, 0, 0, 0, 0, 0.6, 0])
    vecs[3] = np.array([1, 0.01, 0, 0, 0, 0, 0, 0])
    vecs[4] = vecs[3] + np.array([0, 0.001, 0, 0, 0, 0, 0, 0])
    vecs[5] = np.array([0.5, 0, 0, 0, 0, 0, 1.0, 0])
    emb32 = vecs.astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(12), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in emb32],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0] * 12, pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "embeddings.parquet"))

    # numpy reference with the SAME micro rounding + integer lambda
    v = emb32.astype(np.float64)
    nrm = np.sqrt((v * v).sum(axis=1))

    def simm(i, j):
        c = float(v[i] @ v[j]) / (nrm[i] * nrm[j])
        import decimal
        return int(
            decimal.Decimal(c * 1_000_000).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )

    expect = []
    for p in range(MMR_PROBES):
        pool = sorted(
            (i for i in range(12) if i != p),
            key=lambda i: (-simm(p, i), i),
        )[:MMR_POOL]
        sel = [max(pool, key=lambda i: (simm(p, i), -i))]
        expect.append((p, sel[0], 0, 7 * simm(p, sel[0])))
        for r in range(1, MMR_SELECT):
            best = None
            for c in pool:
                if c in sel:
                    continue
                score = 7 * simm(p, c) - 3 * max(simm(c, s) for s in sel)
                if best is None or (score, -c) > (best[1], -best[0]):
                    best = (c, score)
            sel.append(best[0])
            expect.append((p, best[0], r, best[1]))

    got = [
        (r["probe_id"], r["cand_id"], r["sel_round"], r["score_dmicro"])
        for r in sim_mmr_diversify(spark, str(tmp_path)).collect()
    ]
    assert sorted(got) == sorted(expect)
    # diversification defers the near-twin: probe 0 picks one of the
    # planted pair first on pure relevance, but the round-1 pick is NOT
    # the other twin (pure top-k would take them back-to-back)
    by_round = {r: c for p, c, r, _ in got if p == 0}
    assert by_round[0] in (3, 4)
    assert by_round[1] == 5


# ---------------------------------------------------------------------------
# sample_systematic_interval
# ---------------------------------------------------------------------------


def test_systematic_draws_every_kth(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.sampleops import (
        SYSTEMATIC_INTERVAL,
        sample_systematic_interval,
    )

    rows = [(i, 100.0, "P") for i in range(200)]
    out = sample_systematic_interval(
        spark, _write_orders(tmp_path, rows)
    ).collect()
    (r,) = out
    # 200 rows / interval 10 -> exactly 20 drawn, ranks 1, 11, ..., 191
    assert r["n_drawn"] == 200 // SYSTEMATIC_INTERVAL
    assert r["first_rank"] == 1
    assert r["last_rank"] == 191


# ---------------------------------------------------------------------------
# profile_chi2_independence
# ---------------------------------------------------------------------------


def _write_docs_ls(tmp_path, rows):
    """rows: list of (doc_id, lang, source)."""
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _, _ in rows], pa.int64()),
            "text": pa.array(["x"] * len(rows), pa.string()),
            "lang": pa.array([la for _, la, _ in rows], pa.string()),
            "source": pa.array([s for _, _, s in rows], pa.string()),
            "n_chars": pa.array([1] * len(rows), pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    return str(tmp_path)


def test_chi2_independent_mix_is_zero(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.sampleops import (
        profile_chi2_independence,
    )

    # perfectly proportional 2x2 mix -> every O equals E -> X^2 = 0
    rows = []
    i = 0
    for lang, src, n in [("en", "a", 40), ("en", "b", 60),
                         ("fr", "a", 20), ("fr", "b", 30)]:
        for _ in range(n):
            rows.append((i, lang, src))
            i += 1
    out = profile_chi2_independence(
        spark, _write_docs_ls(tmp_path, rows)
    ).collect()
    total = out[0]
    assert total["lang"] == "__total__"
    assert total["chi2_micro"] == 0 and total["dof"] == 1
    assert total["n_obs"] == 150


def test_chi2_hand_computed_2x2(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.sampleops import (
        profile_chi2_independence,
    )

    # counts [[30,10],[10,30]]: N=80, all margins 40,
    # E=20 for every cell -> X^2 = 4 * (10^2/20) = 20
    rows = []
    i = 0
    for lang, src, n in [("en", "a", 30), ("en", "b", 10),
                         ("fr", "a", 10), ("fr", "b", 30)]:
        for _ in range(n):
            rows.append((i, lang, src))
            i += 1
    out = profile_chi2_independence(
        spark, _write_docs_ls(tmp_path, rows)
    ).collect()
    total = out[0]
    assert total["chi2_micro"] == 20_000_000 and total["dof"] == 1
    # each cell contributes exactly 5.0
    cells = [r for r in out if r["lang"] != "__total__"]
    assert all(c["chi2_micro"] == 5_000_000 for c in cells)


# ---------------------------------------------------------------------------
# events_theil_sen_trend
# ---------------------------------------------------------------------------


def _write_daily_events(tmp_path, day_counts):
    ts = []
    for day, cnt in enumerate(day_counts):
        for j in range(cnt):
            ts.append(_T0 + dt.timedelta(days=day, seconds=j))
    n = len(ts)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    return str(tmp_path)


def test_theil_sen_robust_to_outlier_day(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import (
        events_theil_sen_trend,
    )

    cache.clear()
    # counts 10,12,14,...,24 (+2/day) with day 3 exploded to 500:
    # the pairwise-slope median stays exactly 2/day where OLS would not
    counts = [10 + 2 * d for d in range(8)]
    counts[3] = 500
    (r,) = events_theil_sen_trend(
        spark, _write_daily_events(tmp_path, counts)
    ).collect()
    assert r["n_days"] == 8 and r["n_pairs"] == 28
    assert r["ts_slope_micro"] == 2_000_000


# ---------------------------------------------------------------------------
# text_ngram_novelty / corpus_mix_entropy
# ---------------------------------------------------------------------------


def _write_docs_text(tmp_path, rows):
    """rows: list of (doc_id, text, source)."""
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _, _ in rows], pa.int64()),
            "text": pa.array([t for _, t, _ in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([s for _, _, s in rows], pa.string()),
            "n_chars": pa.array(
                [len(t) for _, t, _ in rows], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    return str(tmp_path)


def test_ngram_novelty_first_vs_copy(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.corpusops import (
        text_ngram_novelty,
    )

    cache.clear()
    base = " ".join(f"w{i}" for i in range(12))       # 5 distinct 8-grams
    fresh = " ".join(f"v{i}" for i in range(12))
    rows = [(0, base, "a"), (1, base, "a"), (2, fresh, "a")]
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_ppm"])
        for r in text_ngram_novelty(spark, _write_docs_text(tmp_path, rows))
        .collect()
    }
    assert got[0] == (5, 5, 1_000_000)   # corpus-first occurrences
    assert got[1] == (5, 0, 0)           # verbatim re-emission
    assert got[2] == (5, 5, 1_000_000)


def test_mix_entropy_uniform_and_skewed(spark, tmp_path):
    import math

    from mongo_to_clickhouse_spark.queries.corpusops import (
        corpus_mix_entropy,
    )

    # uniform over 4 sources: H = ln 4, effective domains = 4
    rows = [(i, "x", f"s{i % 4}") for i in range(400)]
    out = corpus_mix_entropy(
        spark, _write_docs_text(tmp_path, rows)
    ).collect()
    total = out[0]
    assert total["source"] == "__total__"
    expect_h = 4 * round(0.25 * -math.log(0.25) * 1e6)
    assert total["entropy_micro"] == expect_h
    assert abs(total["eff_domains_micro"] - 4_000_000) < 50
    assert len(out) == 5
    assert all(r["share_ppm"] == 250_000 for r in out[1:])


# ---------------------------------------------------------------------------
# agg_bitmap_rollup_merge
# ---------------------------------------------------------------------------


def test_bitmap_rollup_union_semantics(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.sketchops import (
        agg_bitmap_rollup_merge,
    )

    cache.clear()
    # align the fixture start to the epoch-week grid so "days 0..6"
    # IS one rollup week (week = epoch_day DIV 7)
    epoch_days = (_T0 - dt.datetime(1970, 1, 1)).days
    t0 = _T0 + dt.timedelta(days=(7 - epoch_days % 7) % 7)
    # days 0..6: disjoint user blocks of 5 -> week-0 distinct = 35;
    # days 7..13: the SAME users {0..4} every day -> week-1 distinct = 5
    # (the OR-merge must dedupe across days); total = 35 (block users
    # 0..34 include 0..4).
    rows = []
    for day in range(7):
        for u in range(day * 5, day * 5 + 5):
            rows.append((day, u))
    for day in range(7, 14):
        for u in range(5):
            rows.append((day, u))
    n = len(rows)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [t0 + dt.timedelta(days=d) for d, _ in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for _, u in rows], pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    rows_out = agg_bitmap_rollup_merge(spark, str(tmp_path)).collect()
    days = {r["bucket"]: r["n_distinct"] for r in rows_out
            if r["tier"] == "day"}
    weeks = sorted(
        r["n_distinct"] for r in rows_out if r["tier"] == "week"
    )
    (total,) = [r["n_distinct"] for r in rows_out if r["tier"] == "total"]
    assert all(v == 5 for v in days.values()) and len(days) == 14
    assert weeks == [5, 35]
    assert total == 35


# ---------------------------------------------------------------------------
# eval_centroid_classifier
# ---------------------------------------------------------------------------


def _write_embeddings(tmp_path, vecs, labels):
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "embeddings.parquet"))
    return str(tmp_path)


def test_centroid_classifier_confusion(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.evalops import (
        eval_centroid_classifier,
    )

    cache.clear()
    # label 0 clusters near (1,0), label 1 near (0,1); one label-0
    # point planted AT (0,1) -> exactly one off-diagonal cell
    vecs = [(1.0, 0.05), (1.0, -0.05), (0.95, 0.0),
            (0.05, 1.0), (-0.05, 1.0), (0.0, 0.95),
            (0.0, 1.0)]
    labels = [0, 0, 0, 1, 1, 1, 0]
    got = {
        (r["true_label"], r["pred_label"]): r["n_vecs"]
        for r in eval_centroid_classifier(
            spark, _write_embeddings(tmp_path, vecs, labels)
        ).collect()
    }
    assert got == {(0, 0): 3, (0, 1): 1, (1, 1): 3}


# ---------------------------------------------------------------------------
# eval_retrieval_mrr
# ---------------------------------------------------------------------------


def test_mrr_perfect_on_identical_vectors(spark, tmp_path):
    from mongo_to_clickhouse_spark.config import TUNING
    from mongo_to_clickhouse_spark.queries.evalops import eval_retrieval_mrr

    cache.clear()
    # all vectors identical: every sim ties at 1.0, the true NN and the
    # candidate ranking both tie-break by lowest id, so the NN is
    # always retrieved at rank 1 -> MRR exactly 1.0
    # vectors must be 64-dim: the LSH hyperplanes are fixed at the
    # fixture dim and a shorter array nulls the band signatures
    n = max(TUNING.ann_probes + 5, 16)
    vecs = [tuple(float(1 + (i % 7)) for i in range(64))] * n
    (r,) = eval_retrieval_mrr(
        spark, _write_embeddings(tmp_path, vecs, [0] * n)
    ).collect()
    assert r["n_probes"] == TUNING.ann_probes
    assert r["mrr_ppm"] == 1_000_000
    assert r["n_hit_at_k"] == TUNING.ann_probes
    assert r["n_nn_retrieved"] == TUNING.ann_probes


# ---------------------------------------------------------------------------
# events_seasonality_weekly
# ---------------------------------------------------------------------------


def test_weekly_profile_mean_and_variance(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import (
        events_seasonality_weekly,
    )

    cache.clear()
    # day d and d+7 share a dow; counts 10 vs 20 -> mean 15, population
    # variance 25 for every dow cell
    counts = [10] * 7 + [20] * 7
    got = {
        r["dow"]: (r["n_days"], r["mean_micro"], r["var_micro"])
        for r in events_seasonality_weekly(
            spark, _write_daily_events(tmp_path, counts)
        ).collect()
    }
    assert len(got) == 7
    assert all(v == (2, 15_000_000, 25_000_000) for v in got.values())


# ---------------------------------------------------------------------------
# pipeline_filter_overlap_matrix
# ---------------------------------------------------------------------------


def test_filter_overlap_masks(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.pipelineops import (
        pipeline_filter_overlap_matrix,
    )

    cache.clear()
    long_clean = " ".join(f"tok{i}" for i in range(20))          # passes all
    short_en = "just a few words here"                           # short only
    stop_heavy = "the a of and to in " * 4 + "x y z " * 2        # stops+rep?
    rows = [
        (0, long_clean, "en", len(long_clean)),
        (1, short_en, "en", len(short_en)),
        (2, long_clean, "fr", len(long_clean)),                  # non-en only
    ]
    got = {
        r["mask"]: r["n_docs"]
        for r in pipeline_filter_overlap_matrix(
            spark, _write_docs(tmp_path, rows)
        ).collect()
    }
    assert got[0] == 1          # the clean doc survives every rule
    assert got[1] == 1          # short-only doc -> bit 1 alone
    assert got[8] == 1          # non-English alone -> bit 8


# ---------------------------------------------------------------------------
# tokenizer_vocab_coverage_curve
# ---------------------------------------------------------------------------


def test_vocab_curve_zipf_head(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.tokenizerops import (
        VOCAB_CURVE_KS,
        tokenizer_vocab_coverage_curve,
    )

    cache.clear()
    # 64 head types with 100 occurrences each; 200 tail singletons.
    # top-64 covers 6400/6600; any K >= 264 covers everything.
    text_head = " ".join(f"h{i:02d}" for i in range(64))
    docs = [(d, text_head, "en", 1) for d in range(100)]
    tail = " ".join(f"t{i:03d}" for i in range(200))
    docs.append((100, tail, "en", 1))
    got = {
        r["vocab_k"]: (r["n_types_in_vocab"], r["covered_ppm"], r["oov_ppm"])
        for r in tokenizer_vocab_coverage_curve(
            spark, _write_docs(tmp_path, docs)
        ).collect()
    }
    assert set(got) == set(VOCAB_CURVE_KS)
    assert got[64] == (64, 6400 * 1_000_000 // 6600,
                       1_000_000 - 6400 * 1_000_000 // 6600)
    assert got[1024] == (264, 1_000_000, 0)


# ---------------------------------------------------------------------------
# window_interval_coalesce
# ---------------------------------------------------------------------------


def test_interval_coalesce_merges_overlaps(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.relational_ext import (
        COALESCE_SPAN_US,
        window_interval_coalesce,
    )

    cache.clear()
    # user 1: events at 0s and 100s (overlap -> one span covering
    # 100s + 300s); user 2: events at 0s and 1000s (disjoint -> two
    # full spans)
    evts = [(1, 0), (1, 100), (2, 0), (2, 1000)]
    n = len(evts)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [_T0 + dt.timedelta(seconds=s) for _, s in evts],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _ in evts], pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    got = {
        r["user_id"]: (r["n_events"], r["n_spans"], r["covered_us"])
        for r in window_interval_coalesce(spark, str(tmp_path)).collect()
    }
    assert got[1] == (2, 1, 100_000_000 + COALESCE_SPAN_US)
    assert got[2] == (2, 2, 2 * COALESCE_SPAN_US)


# ---------------------------------------------------------------------------
# emb_residual_quantize
# ---------------------------------------------------------------------------


def test_rvq_error_ladder_descends(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.vectorops import (
        emb_residual_quantize,
    )

    cache.clear()
    # two tight clusters split at id 50; the derived codebook (round 10:
    # K = clamp(isqrt(120), 8, 4096) = 10 donors at stride 12) places
    # donors inside BOTH clusters, so level-1 residuals are tiny and mse
    # must drop by orders of magnitude at level 1, never rising at 2
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.standard_normal((2, 8)) * 2.0
    vecs, labels = [], []
    for vid in range(120):
        c = base[0] if vid < 50 else base[1]
        vecs.append(tuple(c + rng.standard_normal(8) * 0.01))
        labels.append(0)
    (l0, l1, l2) = sorted(
        emb_residual_quantize(
            spark, _write_embeddings(tmp_path, vecs, labels)
        ).collect(),
        key=lambda r: r["level"],
    )
    assert l0["level"] == 0 and l0["n_codes"] == 10  # stride-12 donors
    assert l1["mse_milli2"] < l0["mse_milli2"] // 100
    assert l2["mse_milli2"] <= l1["mse_milli2"]


# ---------------------------------------------------------------------------
# sim_range_search_radius
# ---------------------------------------------------------------------------


def test_range_search_counts_within_radius(spark, tmp_path):
    from mongo_to_clickhouse_spark.config import TUNING
    from mongo_to_clickhouse_spark.queries.vectorops import (
        sim_range_search_radius,
    )

    cache.clear()
    # identical 64-dim vectors: every candidate sim = 1.0 >= tau, and
    # every probe's bucket holds everyone else
    n = max(TUNING.ann_probes + 5, 16)
    vecs = [tuple(float(1 + (i % 5)) for i in range(64))] * n
    got = sim_range_search_radius(
        spark, _write_embeddings(tmp_path, vecs, [0] * n)
    ).collect()
    assert len(got) == TUNING.ann_probes
    for r in got:
        assert r["n_in_radius"] == n - 1
        assert r["max_sim_micro"] == 1_000_000
        assert r["sum_sim_micro"] == (n - 1) * 1_000_000


# ---------------------------------------------------------------------------
# dedup_substring_apply
# ---------------------------------------------------------------------------


def test_substring_apply_removes_copy_keeps_owner(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.dedupops import (
        dedup_substring_apply,
    )

    cache.clear()
    # doc 1 and doc 2 are verbatim copies (12 tokens; every 8-token
    # window duplicated, coverage = all 12 tokens). The min-doc owner
    # (1) keeps its text; doc 2 is fully excised. doc 3 is untouched.
    # ids avoid %50==0 so _planted_corpus adds no mutated twins.
    base = " ".join(f"w{i}" for i in range(12))
    fresh = " ".join(f"z{i}" for i in range(12))
    rows = [(1, base, "en", len(base)), (2, base, "en", len(base)),
            (3, fresh, "en", len(fresh))]
    got = {
        r["doc_id"]: (r["n_tokens_before"], r["n_tokens_after"],
                      r["removed_ppm"])
        for r in dedup_substring_apply(
            spark, _write_docs(tmp_path, rows)
        ).collect()
    }
    assert got[1] == (12, 12, 0)
    assert got[2] == (12, 0, 1_000_000)
    assert got[3] == (12, 12, 0)


# ---------------------------------------------------------------------------
# graph_closeness_sampled
# ---------------------------------------------------------------------------


def test_closeness_path_graph(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.graphops import (
        graph_closeness_sampled,
    )

    cache.clear()
    # path 1-2-3-4-5-6; sources = the 4 smallest nodes {1,2,3,4}.
    # harmonic(2) = 1/1 + 1/1 + 1/2 (+ 0 for itself) = 2.5
    # harmonic(3) = 1/2 + 1/1 + 1/1 = 2.5; ties broken by node id.
    pairs, oid = [], 0
    for a, b in [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]:
        for _ in range(3):
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
    rows = graph_closeness_sampled(spark, str(tmp_path)).collect()
    got = {r["node_id"]: (r["n_sources_reached"], r["harmonic_micro"])
           for r in rows}
    assert got[2] == (3, 2_500_000)
    assert got[3] == (3, 2_500_000)
    # node 5: d to {1,2,3,4} = 4,3,2,1 -> 1/4+1/3+1/2+1
    assert got[5] == (4, 250_000 + 333_333 + 500_000 + 1_000_000)
    assert rows[0]["node_id"] == 2  # top by score, tie to smaller id


# ---------------------------------------------------------------------------
# sample_horvitz_thompson
# ---------------------------------------------------------------------------


def test_ht_self_consistent_at_uniform_pi(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.sampleops import (
        sample_horvitz_thompson,
    )

    cache.clear()
    # all docs: n_chars 200 -> pi = 0.1; 7 tokens each -> each sampled
    # doc contributes exactly 7*2000/200 = 70 tokens (7e7 micro)
    text = "a b c d e f g"
    rows = [(i, text, "en", 200) for i in range(500)]
    (r,) = sample_horvitz_thompson(
        spark, _write_docs(tmp_path, rows)
    ).collect()
    assert r["n_population"] == 500
    assert r["true_total_tokens"] == 3500
    assert 20 <= r["n_sampled"] <= 90          # ~10% hash Bernoulli
    assert r["ht_estimate_micro"] == r["n_sampled"] * 70_000_000


# ---------------------------------------------------------------------------
# pipeline_budget_prefix_select
# ---------------------------------------------------------------------------


def test_budget_select_takes_densest_prefix(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.pipelineops import (
        pipeline_budget_prefix_select,
    )

    cache.clear()
    # 10 docs x 10 tokens = 100 total; budget 10% = 10 tokens. Doc 5 is
    # the only all-distinct doc (density 1e6) -> selected alone (the
    # next doc's exclusive cum = 10, not < 10).
    dense = " ".join(f"u{i}" for i in range(10))
    dull = " ".join(["x"] * 10)
    rows = [(i, dense if i == 5 else dull, "en", 30) for i in range(10)]
    (r,) = pipeline_budget_prefix_select(
        spark, _write_docs(tmp_path, rows)
    ).collect()
    assert r["n_selected"] == 1
    assert r["tokens_selected"] == 10
    assert r["total_tokens"] == 100
    assert r["admission_density_ppm"] == 1_000_000


# ---------------------------------------------------------------------------
# scalar_ipv4_ops
# ---------------------------------------------------------------------------


def test_ipv4_roundtrip_and_octets(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.clickhouseops import (
        scalar_ipv4_ops,
    )

    cache.clear()
    values = [1.0] * 8
    sf = _write_events(tmp_path, values)   # user_id = i % 7
    rows = scalar_ipv4_ops(spark, sf).collect()
    assert len(rows) == 7
    for r in rows:
        ip = (r["user_id"] * 2654435761) % (1 << 32)
        assert r["ip"] == ip
        octs = [(ip >> 24) & 255, (ip >> 16) & 255, (ip >> 8) & 255,
                ip & 255]
        assert r["ip_str"] == ".".join(map(str, octs))
        assert r["roundtrip_ok"]
        assert r["in_10_slash_8"] == (octs[0] == 10)
        assert r["subnet_24"] == (ip >> 8) << 8


# ---------------------------------------------------------------------------
# events_entropy_rate
# ---------------------------------------------------------------------------


def _write_typed_events(tmp_path, seq):
    """seq: list of (user_id, seconds, event_type)."""
    n = len(seq)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [_T0 + dt.timedelta(seconds=s) for _, s, _ in seq],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _, _ in seq], pa.int64()),
            "event_type": pa.array([t for _, _, t in seq], pa.string()),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    return str(tmp_path)


def test_entropy_rate_deterministic_chain_is_zero(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import (
        events_entropy_rate,
    )

    cache.clear()
    # every transition deterministic (a->b->a->b...): all p = 1,
    # -ln 1 = 0 -> entropy rate exactly 0
    seq = []
    for u in range(5):
        for i in range(10):
            seq.append((u, i, "a" if i % 2 == 0 else "b"))
    rows = events_entropy_rate(
        spark, _write_typed_events(tmp_path, seq)
    ).collect()
    (chain,) = [r for r in rows if r["event_type"] == "__chain__"]
    assert chain["entropy_rate_micro"] == 0
    per = {r["event_type"]: r["h_cond_micro"] for r in rows
           if r["event_type"] != "__chain__"}
    assert per == {"a": 0, "b": 0}


def test_entropy_rate_uniform_binary_is_ln2(spark, tmp_path):
    import math

    from mongo_to_clickhouse_spark.queries.statsops import (
        events_entropy_rate,
    )

    cache.clear()
    # from every state the next event is a or b with exactly p = 1/2
    # (period-4 pattern a a b b: transitions a->a, a->b, b->b, b->a
    # each occur equally often) -> H = ln 2
    seq = []
    for u in range(4):
        for i in range(41):
            t = "a" if (i % 4) in (0, 1) else "b"
            seq.append((u, i, t))
    rows = events_entropy_rate(
        spark, _write_typed_events(tmp_path, seq)
    ).collect()
    (chain,) = [r for r in rows if r["event_type"] == "__chain__"]
    expect = round(math.log(2) * 1e6)
    assert abs(chain["entropy_rate_micro"] - expect) <= 5


# ---------------------------------------------------------------------------
# graph_degree_assortativity
# ---------------------------------------------------------------------------


def test_assortativity_star_is_negative(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.graphops import (
        graph_degree_assortativity,
    )

    cache.clear()
    # star hub 1 with leaves 2..6: every edge joins degree 5 to degree
    # 1 -> perfectly disassortative, r = -1
    pairs, oid = [], 0
    for leaf in (2, 3, 4, 5, 6):
        for _ in range(3):
            pairs.append((oid, 1))
            pairs.append((oid, leaf))
            oid += 1
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([o for o, _ in pairs], pa.int64()),
            "l_suppkey": pa.array([s for _, s in pairs], pa.int64()),
        }
    )
    pq.write_table(lineitem, os.path.join(str(tmp_path), "lineitem.parquet"))
    (r,) = graph_degree_assortativity(spark, str(tmp_path)).collect()
    assert r["n_nodes"] == 6 and r["n_directed_edges"] == 10
    assert r["assortativity_ppm"] == -1_000_000


# ---------------------------------------------------------------------------
# events_cohort_ltv_curve
# ---------------------------------------------------------------------------


def test_ltv_curve_accumulates(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.analytics import (
        events_cohort_ltv_curve,
    )

    cache.clear()
    # one cohort of 2 users; purchases of $1.00 in week 0 and $2.00 in
    # week 1 per user -> cum cents 200, 600; LTV/user 1.0, 3.0 dollars
    week = 7 * 24 * 3600
    seq, n = [], 0
    rows = []
    for u in (1, 2):
        rows.append((u, 10, "purchase", 1.0))
        rows.append((u, week + 10, "purchase", 2.0))
        rows.append((u, week + 20, "view", 5.0))    # non-purchase ignored
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [_T0 + dt.timedelta(seconds=s) for _, s, _, _ in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _, _, _ in rows], pa.int64()),
            "event_type": pa.array([t for _, _, t, _ in rows], pa.string()),
            "value": pa.array([v for _, _, _, v in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    got = {
        r["week_since"]: (r["n_users"], r["cum_cents"],
                          r["ltv_micro_per_user"])
        for r in events_cohort_ltv_curve(spark, str(tmp_path)).collect()
    }
    assert got[0] == (2, 200, 1_000_000)
    assert got[1] == (2, 600, 3_000_000)


# ---------------------------------------------------------------------------
# eval_quantization_recall
# ---------------------------------------------------------------------------


def test_quant_recall_perfect_on_axis_vectors(spark, tmp_path):
    from mongo_to_clickhouse_spark.config import TUNING
    from mongo_to_clickhouse_spark.queries.evalops import (
        eval_quantization_recall,
    )

    cache.clear()
    # scaled copies of a few distinct directions: int8 quantization of
    # v and 2v yields the SAME codes, so quantized and exact rankings
    # agree -> recall exactly 1.0 for every probe
    import numpy as np

    rng = np.random.RandomState(11)
    dirs = rng.standard_normal((8, 16))
    vecs = []
    for i in range(32):
        vecs.append(tuple(dirs[i % 8] * (1.0 + (i // 8))))
    (rows) = eval_quantization_recall(
        spark, _write_embeddings(tmp_path, vecs, [0] * 32)
    ).collect()
    assert len(rows) == TUNING.ann_probes
    for r in rows:
        assert r["recall_ppm"] == 1_000_000


# ---------------------------------------------------------------------------
# agg_moments_rollup_merge
# ---------------------------------------------------------------------------


def test_moments_rollup_exact_mean_var(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.sketchops import (
        agg_moments_rollup_merge,
    )

    cache.clear()
    # week-aligned start; day 0: values {1, 3} (mean 2, var 1);
    # day 7: values {2, 2} (var 0). total: {1,3,2,2} mean 2, var 0.5
    epoch_days = (_T0 - dt.datetime(1970, 1, 1)).days
    t0 = _T0 + dt.timedelta(days=(7 - epoch_days % 7) % 7)
    rows = [(0, 1.0), (0, 3.0), (7, 2.0), (7, 2.0)]
    tbl = pa.table(
        {
            "event_id": pa.array(range(4), pa.int64()),
            "ts": pa.array(
                [t0 + dt.timedelta(days=d) for d, _ in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * 4, pa.int64()),
            "event_type": pa.array(["view"] * 4, pa.string()),
            "value": pa.array([v for _, v in rows], pa.float64()),
            "props": pa.array(["{}"] * 4, pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    out = agg_moments_rollup_merge(spark, str(tmp_path)).collect()
    by = {(r["tier"], r["bucket"]): (r["n"], r["mean_micro"],
                                     r["var_micro"]) for r in out}
    days = sorted(b for t, b in by if t == "day")
    assert by[("day", days[0])] == (2, 2_000_000, 1_000_000)
    assert by[("day", days[1])] == (2, 2_000_000, 0)
    assert by[("total", -1)] == (4, 2_000_000, 500_000)
    # week tier re-merges the same daily states
    weeks = [(t, b) for t, b in by if t == "week"]
    assert len(weeks) == 2


# ---------------------------------------------------------------------------
# events_resample_interpolate
# ---------------------------------------------------------------------------


def test_resample_linear_interpolation(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import (
        events_resample_interpolate,
    )

    cache.clear()
    # one type, one day: value 10.0 at 00:30, 20.0 at 03:30. Hour
    # boundaries 1, 2, 3 fall inside: interpolated 11.666.., 15, 18.333..
    day0 = dt.datetime(2024, 6, 1)
    rows = [(day0 + dt.timedelta(minutes=30), 10.0),
            (day0 + dt.timedelta(hours=3, minutes=30), 20.0)]
    tbl = pa.table(
        {
            "event_id": pa.array(range(2), pa.int64()),
            "ts": pa.array([t for t, _ in rows], pa.timestamp("us")),
            "user_id": pa.array([1, 1], pa.int64()),
            "event_type": pa.array(["view", "view"], pa.string()),
            "value": pa.array([v for _, v in rows], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    got = {
        r["hour_idx"] % 24: r["value_micro"]
        for r in events_resample_interpolate(spark, str(tmp_path)).collect()
    }
    assert len(got) == 3
    # t0=30min, t1=210min; boundary at 60/120/180 min
    def expect(m):
        return round(10_000_000 + 10_000_000 * (m - 30) / 180.0)
    assert got[1] == expect(60)
    assert got[2] == expect(120)
    assert got[3] == expect(180)


# ---------------------------------------------------------------------------
# window_fifo_allocation
# ---------------------------------------------------------------------------


def test_fifo_matched_equals_min_supply_demand(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.joinops import (
        window_fifo_allocation,
    )

    cache.clear()
    # part 1: lots 10+20 against issues 5+5+15 -> matched 25,
    #   5 unmatched supply (FIFO pairs: lot1->i1,i2; lot1+lot2->i3)
    # part 2: lots 10 against issues 40 -> matched 10, 30 short
    rows = [
        (1, "N", 10, 0), (1, "N", 20, 1),
        (1, "R", 5, 0), (1, "R", 5, 1), (1, "R", 15, 2),
        (2, "N", 10, 0), (2, "R", 40, 0),
    ]
    n = len(rows)
    tbl = pa.table(
        {
            "l_orderkey": pa.array(range(n), pa.int64()),
            "l_partkey": pa.array([p for p, _, _, _ in rows], pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_linenumber": pa.array([1] * n, pa.int32()),
            "l_quantity": pa.array(
                [float(q) for _, _, q, _ in rows], pa.float64()
            ),
            "l_extendedprice": pa.array([1.0] * n, pa.float64()),
            "l_discount": pa.array([0.0] * n, pa.float64()),
            "l_tax": pa.array([0.0] * n, pa.float64()),
            "l_returnflag": pa.array([s for _, s, _, _ in rows],
                                     pa.string()),
            "l_linestatus": pa.array(["O"] * n, pa.string()),
            "l_shipdate": pa.array(
                [_T0 + dt.timedelta(days=d) for _, _, _, d in rows],
                pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "lineitem.parquet"))
    got = {
        r["part"]: (r["supply_qty"], r["demand_qty"], r["matched_qty"],
                    r["unmatched_supply"], r["unmatched_demand"],
                    r["n_lot_issue_pairs"])
        for r in window_fifo_allocation(spark, str(tmp_path)).collect()
    }
    # lot (0,10] meets issues (0,5], (5,10]; lot (10,30] meets (10,25]
    assert got[1] == (30, 25, 25, 5, 0, 3)
    assert got[2] == (10, 40, 10, 0, 30, 1)


# ---------------------------------------------------------------------------
# tokenizer_unigram_viterbi
# ---------------------------------------------------------------------------


def test_unigram_viterbi_prefers_whole_word_piece(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.tokenizerops import (
        tokenizer_unigram_viterbi,
    )

    cache.clear()
    # corpus = the single word "abab" x10: ln p('abab') = ln(10/110)
    # beats 2*ln p('ab') = 2*ln(20/110), so Viterbi keeps the whole
    # word as ONE piece
    rows = [(i, "abab", "en", 4) for i in range(10)]
    out = tokenizer_unigram_viterbi(
        spark, _write_docs(tmp_path, rows)
    ).collect()
    got = {r["piece"]: r["expected_count"] for r in out}
    assert got == {"abab": 10}


def test_unigram_viterbi_char_conservation(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.tokenizerops import (
        UNI_MAXLEN,
        tokenizer_unigram_viterbi,
    )

    cache.clear()
    # any Viterbi segmentation partitions each (truncated) word exactly:
    # sum over pieces of len*count == sum over words of min(len, cap)*freq
    texts = ["hello world", "hello there world", "a hello longishword",
             "supercalifragilistic world a a"]
    rows = [(i, texts[i % len(texts)], "en", 20) for i in range(12)]
    out = tokenizer_unigram_viterbi(
        spark, _write_docs(tmp_path, rows)
    ).collect()
    covered = sum(len(r["piece"]) * r["expected_count"] for r in out)
    expect = 0
    for i in range(12):
        for w in texts[i % len(texts)].split(" "):
            expect += min(len(w), UNI_MAXLEN)
    assert covered == expect
    # every piece is a substring of some corpus word
    words = {w for t in texts for w in t.split(" ")}
    for r in out:
        assert any(r["piece"] in w for w in words)


# ---------------------------------------------------------------------------
# sim_greedy_graph_search
# ---------------------------------------------------------------------------


def test_greedy_search_identical_vectors_finds_nn(spark, tmp_path):
    from mongo_to_clickhouse_spark.config import TUNING
    from mongo_to_clickhouse_spark.queries.vectorops import (
        sim_greedy_graph_search,
    )

    cache.clear()
    # identical vectors: the knn graph links everyone to the smallest
    # ids, so one hop from the max-id entry reaches each probe's exact
    # NN (the smallest other id)
    n = max(TUNING.ann_probes + 6, 18)
    vecs = [tuple(float(2 + (i % 3)) for i in range(64))] * n
    rows = sim_greedy_graph_search(
        spark, _write_embeddings(tmp_path, vecs, [0] * n)
    ).collect()
    assert len(rows) == TUNING.ann_probes
    for r in rows:
        assert r["exact_nn"] == (1 if r["probe_id"] == 0 else 0)
        assert r["is_exact_nn"]
        assert r["sim_micro"] == 1_000_000


# ---------------------------------------------------------------------------
# agg_ttest_welch
# ---------------------------------------------------------------------------


def test_welch_identical_halves_insignificant(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import agg_ttest_welch

    cache.clear()
    # consecutive (even, odd) pairs share each value -> identical
    # samples, t exactly 0
    values = [float(10 + ((i // 2) % 5)) for i in range(400)]
    (r,) = agg_ttest_welch(spark, _write_events(tmp_path, values)).collect()
    assert r["n_a"] == 200 and r["n_b"] == 200
    assert r["mean_a_micro"] == r["mean_b_micro"]
    assert r["t_milli"] == 0 and not r["significant"]


def test_welch_shifted_halves_significant(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import agg_ttest_welch

    cache.clear()
    # A around 10, B around 20, tiny within-group variance
    values = [
        (10.0 + (i % 4) * 0.1) if i % 2 == 0 else (20.0 + (i % 4) * 0.1)
        for i in range(400)
    ]
    (r,) = agg_ttest_welch(spark, _write_events(tmp_path, values)).collect()
    assert r["t_milli"] < -100_000    # enormous |t|
    assert r["significant"]
    assert r["mean_b_micro"] - r["mean_a_micro"] > 9_000_000


# ---------------------------------------------------------------------------
# events_top_paths
# ---------------------------------------------------------------------------


def test_top_paths_planted_journey(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import events_top_paths

    cache.clear()
    # 10 users each do signup -> view -> purchase (one dominant path,
    # plus no other 3-window), 3 users do view -> view -> error
    seq = []
    for u in range(10):
        for i, t in enumerate(["signup", "view", "purchase"]):
            seq.append((u, i, t))
    for u in range(100, 103):
        for i, t in enumerate(["view", "view", "error"]):
            seq.append((u, i, t))
    rows = events_top_paths(
        spark, _write_typed_events(tmp_path, seq)
    ).collect()
    assert (rows[0]["t1"], rows[0]["t2"], rows[0]["t3"],
            rows[0]["n_paths"]) == ("signup", "view", "purchase", 10)
    assert (rows[1]["t1"], rows[1]["t2"], rows[1]["t3"],
            rows[1]["n_paths"]) == ("view", "view", "error", 3)
    assert len(rows) == 2


# ---------------------------------------------------------------------------
# text_ocr_noise_filter
# ---------------------------------------------------------------------------


def test_ocr_filter_reason_bits(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.textops import (
        text_ocr_noise_filter,
    )

    cache.clear()
    clean = "this is a perfectly normal sentence with usual words"
    digits = "4711 0815 99999 123456 777 88 999 000 111 222"
    symbols = "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) !!!"
    rows = [(0, clean, "en", len(clean)),
            (1, digits, "en", len(digits)),
            (2, symbols, "en", len(symbols))]
    got = {
        r["doc_id"]: (r["reason_mask"], r["flagged"])
        for r in text_ocr_noise_filter(
            spark, _write_docs(tmp_path, rows)
        ).collect()
    }
    assert got[0] == (0, False)
    assert got[1][0] & 1            # digit storm
    assert got[2][0] & 2            # symbol storm
    assert got[1][1] and got[2][1]


# ---------------------------------------------------------------------------
# profile_dataset_diff
# ---------------------------------------------------------------------------


def test_dataset_diff_classes(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.sampleops import (
        profile_dataset_diff,
    )

    cache.clear()
    # ids 1..100: %17==0 dropped (17,34,51,68,85 -> 5 removed);
    # %13==0 and not dropped changed (13,26,39,52,65,78,91 -> 7);
    # %19==0 spawn new ids (19,38,57,76,95 -> 5 added)
    rows = [(i, f"text number {i}", "en", 10) for i in range(1, 101)]
    got = {
        r["class"]: r["n_docs"]
        for r in profile_dataset_diff(
            spark, _write_docs(tmp_path, rows)
        ).collect()
    }
    assert got == {"added": 5, "removed": 5, "changed": 7,
                   "unchanged": 100 - 5 - 7}


# ---------------------------------------------------------------------------
# window_skyline_pareto
# ---------------------------------------------------------------------------


def test_skyline_dominance(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.relational_ext import (
        window_skyline_pareto,
    )

    cache.clear()
    # one group; points (price, day): (100, 5) dominates (90, 3) and
    # (100, 4); (50, 9) survives on recency; (120, 1) survives on price
    pts = [(1, 100.0, 5), (2, 90.0, 3), (3, 100.0, 4),
           (4, 50.0, 9), (5, 120.0, 1)]
    tbl = pa.table(
        {
            "o_orderkey": pa.array([k for k, _, _ in pts], pa.int64()),
            "o_custkey": pa.array([1] * 5, pa.int64()),
            "o_orderstatus": pa.array(["O"] * 5, pa.string()),
            "o_totalprice": pa.array([p for _, p, _ in pts], pa.float64()),
            "o_orderdate": pa.array(
                [_T0 + dt.timedelta(days=d) for _, _, d in pts],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(["P"] * 5, pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "orders.parquet"))
    keys = [r["o_orderkey"]
            for r in window_skyline_pareto(spark, str(tmp_path)).collect()]
    assert sorted(keys) == [1, 4, 5]


# ---------------------------------------------------------------------------
# emb_isotropy_profile
# ---------------------------------------------------------------------------


def test_isotropy_uniform_vs_collapsed(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.vectorops import (
        emb_isotropy_profile,
    )

    import numpy as np

    cache.clear()
    # perfectly isotropic 4-dim: identical variance per axis ->
    # ratio 1e6, eff_dims = 4
    rng = np.random.RandomState(5)
    base = rng.standard_normal((40, 1))
    vecs = [tuple(float(base[(i + k) % 40, 0]) for k in range(4))
            for i in range(40)]
    (r,) = emb_isotropy_profile(
        spark, _write_embeddings(tmp_path, vecs, [0] * 40)
    ).collect()
    assert r["n_dims"] == 4
    assert r["min_max_ratio_ppm"] == 1_000_000
    assert abs(r["eff_dims_micro"] - 4_000_000) < 100


# ---------------------------------------------------------------------------
# agg_wilson_interval / events_anomaly_mad_daily
# ---------------------------------------------------------------------------


def test_wilson_brackets_rate(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import (
        agg_wilson_interval,
    )

    cache.clear()
    # 100 events, 30 above the cut -> rate 0.3; Wilson 95% approx
    # [0.218, 0.397]
    values = [9.0 if i < 30 else 1.0 for i in range(100)]
    (r,) = agg_wilson_interval(
        spark, _write_events(tmp_path, values)
    ).collect()
    assert r["n"] == 100 and r["k"] == 30 and r["rate_ppm"] == 300_000
    assert r["wilson_lo_ppm"] < 300_000 < r["wilson_hi_ppm"]
    assert 210_000 < r["wilson_lo_ppm"] < 230_000
    assert 390_000 < r["wilson_hi_ppm"] < 410_000


def test_mad_flags_only_the_spike(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import (
        events_anomaly_mad_daily,
    )

    cache.clear()
    # 15 days of counts 10/11 alternating with one 300-event spike:
    # median 10-11, MAD 0-1... use counts 10,12 alternating so MAD=1
    counts = [10 if d % 2 == 0 else 12 for d in range(15)]
    counts[7] = 300
    rows = events_anomaly_mad_daily(
        spark, _write_daily_events(tmp_path, counts)
    ).collect()
    flagged = [r for r in rows if r["flagged"]]
    assert len(flagged) == 1 and flagged[0]["x"] == 300


# ---------------------------------------------------------------------------
# events_concurrency_peak
# ---------------------------------------------------------------------------


def test_concurrency_peak_counts_overlaps(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import (
        events_concurrency_peak,
    )

    cache.clear()
    # hour-aligned start; 3 events within one 5-min span -> peak 3;
    # a lone event 2 hours later -> peak 1 in its hour
    t0 = dt.datetime(2024, 6, 2)
    rows = [t0, t0 + dt.timedelta(seconds=60), t0 + dt.timedelta(seconds=120),
            t0 + dt.timedelta(hours=2)]
    n = len(rows)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(rows, pa.timestamp("us")),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    got = {r["hour_idx"] % 24: r["peak_concurrency"]
           for r in events_concurrency_peak(spark, str(tmp_path)).collect()}
    assert got[0] == 3
    assert got[2] == 1


# ---------------------------------------------------------------------------
# events_survival_km
# ---------------------------------------------------------------------------


def test_km_no_censoring_hand_computed(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import (
        events_survival_km,
    )

    cache.clear()
    # 4 users return after 1h, 1h, 2h, 3h; a 5th user never returns
    # (censored at the horizon). KM: S(1)= (5-2)/5 = .6 (n=5, d=2),
    # S(2)= .6*(3-1)/3 = .4, S(3)= .4*(2-1)/2 = .2
    seq = []
    returns = {1: 1, 2: 1, 3: 2, 4: 3}
    horizon = 10
    for u in (1, 2, 3, 4, 5):
        seq.append((u, 0, "view"))
        if u in returns:
            seq.append((u, returns[u] * 3600, "view"))
    seq.append((99, horizon * 3600, "view"))   # pins the horizon; user
    # 99's own spell is censored at duration 0
    rows = events_survival_km(
        spark, _write_typed_events(tmp_path, seq)
    ).collect()
    got = {r["dur_h"]: (r["n_returned"], r["n_censored"], r["n_risk"],
                        r["survival_micro"]) for r in rows}
    assert got[1][:2] == (2, 0)
    assert got[2][:2] == (1, 0)
    assert got[3][:2] == (1, 0)
    # user 5 censored at 10h, user 99 censored at 0h
    assert got[10][:2] == (0, 1) and got[0][:2] == (0, 1)
    # n_risk at t=1h excludes the duration-0 censored spell
    assert got[1][2] == 6 - 1
    assert got[1][3] == 600_000
    assert got[2][3] == 400_000
    assert got[3][3] == 200_000


# ---------------------------------------------------------------------------
# pipeline_length_bucketing / profile_fk_integrity
# ---------------------------------------------------------------------------


def test_length_bucketing_waste_arithmetic(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.pipelineops import (
        pipeline_length_bucketing,
    )

    cache.clear()
    # 10 docs of 10 tokens (bucket 16: pad 6 each) and 5 docs of 20
    # tokens (bucket 32: pad 12 each); baseline pads everyone to 256
    short = " ".join(f"s{i}" for i in range(10))
    mid = " ".join(f"m{i}" for i in range(20))
    rows = [(i, short, "en", 30) for i in range(10)]
    rows += [(100 + i, mid, "en", 60) for i in range(5)]
    got = {
        r["bucket_top"]: (r["n_docs"], r["real_tokens"], r["pad_tokens"])
        for r in pipeline_length_bucketing(
            spark, _write_docs(tmp_path, rows)
        ).collect()
    }
    assert got[16] == (10, 100, 60)
    assert got[32] == (5, 100, 60)
    assert got[-1] == (15, 200, 15 * 256 - 200)


def test_fk_integrity_counts_orphans(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.sampleops import (
        profile_fk_integrity,
    )

    cache.clear()
    sf = str(tmp_path)
    # minimal star: 2 nations; customer 3 points to a MISSING nation;
    # all other edges clean
    pq.write_table(pa.table({
        "n_nationkey": pa.array([0, 1], pa.int64()),
        "n_name": pa.array(["a", "b"], pa.string()),
        "n_regionkey": pa.array([0, 0], pa.int64()),
    }), os.path.join(sf, "nation.parquet"))
    pq.write_table(pa.table({
        "c_custkey": pa.array([1, 2, 3], pa.int64()),
        "c_name": pa.array(["x", "y", "z"], pa.string()),
        "c_nationkey": pa.array([0, 1, 99], pa.int64()),
        "c_acctbal": pa.array([1.0] * 3, pa.float64()),
        "c_mktsegment": pa.array(["m"] * 3, pa.string()),
    }), os.path.join(sf, "customer.parquet"))
    pq.write_table(pa.table({
        "s_suppkey": pa.array([1], pa.int64()),
        "s_name": pa.array(["s"], pa.string()),
        "s_nationkey": pa.array([0], pa.int64()),
        "s_acctbal": pa.array([1.0], pa.float64()),
    }), os.path.join(sf, "supplier.parquet"))
    pq.write_table(pa.table({
        "o_orderkey": pa.array([10, 11], pa.int64()),
        "o_custkey": pa.array([1, 2], pa.int64()),
        "o_orderstatus": pa.array(["O", "O"], pa.string()),
        "o_totalprice": pa.array([1.0, 2.0], pa.float64()),
        "o_orderdate": pa.array([_T0, _T0], pa.timestamp("us")),
        "o_orderpriority": pa.array(["P", "P"], pa.string()),
    }), os.path.join(sf, "orders.parquet"))
    pq.write_table(pa.table({
        "l_orderkey": pa.array([10, 11, 999], pa.int64()),
        "l_suppkey": pa.array([1, 1, 1], pa.int64()),
    }), os.path.join(sf, "lineitem.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array([0, 1], pa.int64()),
        "text": pa.array(["t", "t"], pa.string()),
        "lang": pa.array(["en", "en"], pa.string()),
        "source": pa.array(["s", "s"], pa.string()),
        "n_chars": pa.array([1, 1], pa.int64()),
    }), os.path.join(sf, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array([0, 1, 7], pa.int64()),
        "embedding": pa.array([[1.0], [1.0], [1.0]],
                              pa.list_(pa.float32())),
        "label": pa.array([0, 0, 0], pa.int32()),
    }), os.path.join(sf, "embeddings.parquet"))
    got = {
        r["fk_edge"]: (r["n_children"], r["n_orphans"])
        for r in profile_fk_integrity(spark, sf).collect()
    }
    assert got["customer->nation"] == (3, 1)
    assert got["lineitem->orders"] == (3, 1)     # orderkey 999 dangles
    assert got["embeddings->documents"] == (3, 1)  # vec 7 dangles
    assert got["orders->customer"] == (2, 0)
    assert got["supplier->nation"] == (1, 0)


# ---------------------------------------------------------------------------
# eval_cluster_ari
# ---------------------------------------------------------------------------


def test_ari_perfect_agreement_on_exact_dups(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.evalops import eval_cluster_ari

    cache.clear()
    # two pairs of verbatim duplicates + two singletons: LSH banding
    # and exact Jaccard both cluster exactly the duplicate pairs, so
    # the two labelings are identical -> ARI = 1.0. ids avoid %50==0
    # so the planted-corpus mutation adds no extra twins.
    a = " ".join(f"alpha{i}" for i in range(30))
    b = " ".join(f"beta{i}" for i in range(30))
    c = " ".join(f"solo{i}" for i in range(30))
    d = " ".join(f"gamma{i}" for i in range(30))
    rows = [(1, a, "en", 9), (2, a, "en", 9),
            (3, b, "en", 9), (4, b, "en", 9),
            (5, c, "en", 9), (6, d, "en", 9)]
    (r,) = eval_cluster_ari(spark, _write_docs(tmp_path, rows)).collect()
    assert r["n_docs"] == 6
    assert r["n_clusters_lsh"] == r["n_clusters_exact"] == 4
    assert r["pair_agreements"] == 2      # the two duplicate pairs
    assert r["ari_ppm"] == 1_000_000


# ---------------------------------------------------------------------------
# eval_label_silhouette / events_rolling_slope
# ---------------------------------------------------------------------------


def test_silhouette_separated_vs_mixed(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.evalops import (
        eval_label_silhouette,
    )

    cache.clear()
    # label 0 tight around (10, 0); label 1 tight around (0, 10):
    # silhouettes near 1. label 2 sits ON label 0's centroid: near -1
    # or low
    import numpy as np

    rng = np.random.RandomState(2)
    vecs, labels = [], []
    for k in range(12):
        vecs.append(tuple(np.array([10.0, 0.0])
                          + rng.standard_normal(2) * 0.01))
        labels.append(0)
        vecs.append(tuple(np.array([0.0, 10.0])
                          + rng.standard_normal(2) * 0.01))
        labels.append(1)
    # label 2: three points parked next to label 0's centroid plus one
    # far outlier that drags label-2's OWN centroid away -> for the
    # three, a (own) >> b (label 0) -> strongly negative mean
    for p in [(10.2, 0.0), (10.2, 0.0), (10.2, 0.0), (30.0, 0.0)]:
        vecs.append(p)
        labels.append(2)
    got = {
        r["label"]: r["mean_silhouette_ppm"]
        for r in eval_label_silhouette(
            spark, _write_embeddings(tmp_path, vecs, labels)
        ).collect()
    }
    # labels 0 and 1 are tight and far from every foreign centroid ->
    # s near 1; label 2's majority sits on label 0's centroid while its
    # own centroid is dragged away by the outlier -> strongly negative
    assert got[0] > 700_000
    assert got[1] > 900_000
    assert got[2] < -400_000


def test_rolling_slope_linear_ramp(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.statsops import (
        events_rolling_slope,
    )

    cache.clear()
    # counts 10, 13, 16, ... (+3/day): every full frame's OLS slope is
    # exactly 3
    counts = [10 + 3 * d for d in range(12)]
    rows = events_rolling_slope(
        spark, _write_daily_events(tmp_path, counts)
    ).collect()
    assert rows[0]["slope_micro_per_day"] is None   # 1-point frame
    full = [r for r in rows if r["n"] >= 2]
    assert all(r["slope_micro_per_day"] == 3_000_000 for r in full)


# ---------------------------------------------------------------------------
# eval_minhash_estimate_error / dedup_rate_by_source
# ---------------------------------------------------------------------------


def test_minhash_error_zero_on_identical_docs(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.evalops import (
        eval_minhash_estimate_error,
    )

    cache.clear()
    # identical docs: exact J = 1 and ALL signature positions match ->
    # estimate exactly 1 -> zero error
    a = " ".join(f"tok{i}" for i in range(25))
    rows = [(1, a, "en", 9), (2, a, "en", 9),
            (3, " ".join(f"zzz{i}" for i in range(25)), "en", 9)]
    (r,) = eval_minhash_estimate_error(
        spark, _write_docs(tmp_path, rows)
    ).collect()
    assert r["n_pairs"] == 1
    assert r["mean_abs_err_ppm"] == 0 and r["max_abs_err_ppm"] == 0


def test_dedup_rate_attributes_removals_to_source(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.dedupops import (
        dedup_rate_by_source,
    )

    cache.clear()
    # source 'mirror': 3 verbatim copies -> 2 removed; source 'clean':
    # 2 distinct docs -> 0 removed
    dup = " ".join(f"dup{i}" for i in range(25))
    rows = [(1, dup, "en", 9), (2, dup, "en", 9), (3, dup, "en", 9),
            (4, " ".join(f"aaa{i}" for i in range(25)), "en", 9),
            (5, " ".join(f"bbb{i}" for i in range(25)), "en", 9)]
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _, _, _ in rows], pa.int64()),
            "text": pa.array([t for _, t, _, _ in rows], pa.string()),
            "lang": pa.array(["en"] * 5, pa.string()),
            "source": pa.array(
                ["mirror", "mirror", "mirror", "clean", "clean"],
                pa.string(),
            ),
            "n_chars": pa.array([9] * 5, pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    got = {
        r["source"]: (r["n_docs"], r["n_removed"], r["removal_ppm"])
        for r in dedup_rate_by_source(spark, str(tmp_path)).collect()
    }
    assert got["mirror"] == (3, 2, 666_666)
    assert got["clean"] == (2, 0, 0)


# ---------------------------------------------------------------------------
# tokenizer_unigram_em_soft
# ---------------------------------------------------------------------------


def test_em_soft_marginalizes_over_paths(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.tokenizerops import (
        tokenizer_unigram_em_soft,
    )

    cache.clear()
    # corpus "ab" x12: pieces {a, b, ab} all get seed p = 1/3. The two
    # segmentations are [ab] (mass 1/3) and [a][b] (mass 1/9), so the
    # posterior path split is 3:1 - soft EM counts BOTH (Viterbi would
    # count only [ab]). Expected counts: ab = 12*(3/4) = 9, a = b = 3.
    rows = [(i, "ab", "en", 2) for i in range(12)]
    got = {
        r["piece"]: r["e_count_micro"]
        for r in tokenizer_unigram_em_soft(
            spark, _write_docs(tmp_path, rows)
        ).collect()
    }
    assert set(got) == {"a", "b", "ab"}
    assert abs(got["ab"] - 9_000_000) < 30_000
    assert abs(got["a"] - 3_000_000) < 30_000
    # per-stage truncating rescales hit the two paths asymmetrically
    assert abs(got["a"] - got["b"]) < 100


def test_em_soft_character_mass_conserved(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.tokenizerops import (
        UNI_MAXLEN,
        tokenizer_unigram_em_soft,
    )

    cache.clear()
    # every segmentation covers all characters, so expected piece
    # lengths sum to the (truncated) corpus character mass up to the
    # deterministic per-stage truncation loss
    texts = ["hello world", "hello there", "a b hello", "worldly words"]
    rows = [(i, texts[i % len(texts)], "en", 20) for i in range(8)]
    out = tokenizer_unigram_em_soft(
        spark, _write_docs(tmp_path, rows)
    ).collect()
    covered = sum(len(r["piece"]) * r["e_count_micro"] for r in out)
    expect = 0
    for i in range(8):
        for w in texts[i % len(texts)].split(" "):
            expect += min(len(w), UNI_MAXLEN) * 1_000_000
    assert abs(covered - expect) / expect < 0.02


def test_em_soft_matches_float_forward_backward(spark, tmp_path):
    """The block-float engine must track a plain float forward-backward
    reference within the truncation tolerance on a random corpus."""
    import math
    from collections import Counter, defaultdict

    from mongo_to_clickhouse_spark.queries.tokenizerops import (
        UNI_MAXLEN,
        UNI_MIN_FREQ,
        UNI_PIECE_MAX,
        tokenizer_unigram_em_soft,
    )

    cache.clear()
    import numpy as np

    rng = np.random.RandomState(17)
    alphabet = "abcd"
    texts = []
    for _ in range(9):
        words = ["".join(rng.choice(list(alphabet))
                         for _ in range(rng.randint(1, 9)))
                 for _ in range(6)]
        texts.append(" ".join(words))
    rows = [(i, texts[i], "en", 20) for i in range(len(texts))]

    # ---- float reference mirroring the operator's seed model ----
    wfreq = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                wfreq[w[:UNI_MAXLEN]] += 1
    pf = Counter()
    for w, c in wfreq.items():
        for i in range(len(w)):
            for l in range(1, UNI_PIECE_MAX + 1):
                if i + l <= len(w):
                    pf[w[i:i + l]] += c
    kept = {p: c for p, c in pf.items()
            if c >= UNI_MIN_FREQ or len(p) == 1}
    tot = sum(kept.values())
    # mirror the operator's double quantization chain: score ->
    # micro-nats -> p2 (base-2 micro), then use p2/2^20 as the float p
    def p_of(piece):
        score = round(math.log(kept[piece] / tot) * 1e6)
        p2 = max(round(math.exp(score / 1e6) * 1048576.0), 1)
        return p2 / 1048576.0

    expect = defaultdict(float)
    for w, c in wfreq.items():
        L = len(w)
        alpha = [0.0] * (L + 1)
        alpha[0] = 1.0
        for j in range(1, L + 1):
            for l in range(1, UNI_PIECE_MAX + 1):
                i = j - l
                if i >= 0 and w[i:j] in kept:
                    alpha[j] += alpha[i] * p_of(w[i:j])
        beta = [0.0] * (L + 1)
        beta[L] = 1.0
        for i in range(L - 1, -1, -1):
            for l in range(1, UNI_PIECE_MAX + 1):
                j = i + l
                if j <= L and w[i:j] in kept:
                    beta[i] += p_of(w[i:j]) * beta[j]
        for i in range(L):
            for l in range(1, UNI_PIECE_MAX + 1):
                j = i + l
                if j <= L and w[i:j] in kept:
                    g = alpha[i] * p_of(w[i:j]) * beta[j] / alpha[L]
                    expect[w[i:j]] += c * g

    got = {
        r["piece"]: r["e_count_micro"] / 1e6
        for r in tokenizer_unigram_em_soft(
            spark, _write_docs(tmp_path, rows)
        ).collect()
    }
    # compare the top pieces the operator reports (top-30 limit)
    for piece, v in got.items():
        ref = expect[piece]
        assert abs(v - ref) <= max(0.02 * ref, 0.01), (piece, v, ref)


# ---------------------------------------------------------------------------
# agg_exact_global_percentiles
# ---------------------------------------------------------------------------


def test_global_percentiles_exact_ranks(spark, tmp_path):
    from mongo_to_clickhouse_spark.queries.relational_ext import (
        agg_exact_global_percentiles,
    )

    cache.clear()
    # values 1..200 dollars: rank-k value is exactly k dollars, so
    # p50 = 100.00, p90 = 180.00, p95 = 190.00, p99 = 198.00
    values = [float(i + 1) for i in range(200)]
    got = {
        r["p"]: r["value_cents"]
        for r in agg_exact_global_percentiles(
            spark, _write_events(tmp_path, values)
        ).collect()
    }
    assert got == {50: 10000, 90: 18000, 95: 19000, 99: 19800}
