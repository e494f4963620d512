"""THIRD independent checks for the most algorithmically complex ids
(round 11, VERDICT r10 item 3).

The standing oracle-design caveat: most ids derive Spark and DuckDB SQL
from ONE body builder, so a shared semantic bug would pass both engines.
The retirement move is a third check per hard id — a tiny planted
fixture whose expected output is computed by an INDEPENDENT
implementation (pure Python / numpy written in the test, or a hand
derivation in a comment), never by the shared SQL builder.

``INDEPENDENT_CHECKS`` below is the pinned map from each of the 20
hardest ids to its independent-check test(s); the meta-test asserts
every referenced test function exists, so the map cannot silently rot.
New replicas added this round live in this file; the rest were built in
earlier rounds and are referenced in place.
"""

from __future__ import annotations

import hashlib
import importlib
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mongo_to_clickhouse_spark import cache

# ---------------------------------------------------------------------------
# the pinned map: query id -> [(test module, test function), ...]
# ---------------------------------------------------------------------------

INDEPENDENT_CHECKS: dict[str, list[tuple[str, str]]] = {
    # named by VERDICT r10 item 3
    "tokenizer_unigram_em_soft": [
        ("test_round6_ops", "test_em_soft_marginalizes_over_paths"),
        ("test_round6_ops", "test_em_soft_character_mass_conserved"),
    ],
    "text_kneser_ney_surprisal": [
        ("test_independent_checks", "test_kneser_ney_matches_pure_python"),
    ],
    "events_holt_winters_backtest": [
        ("test_round8b_ops", "test_hw_backtest_constant_series_has_zero_error"),
        ("test_independent_checks",
         "test_hw_backtest_matches_pure_python_on_ramp"),
    ],
    "graph_betweenness_sampled": [
        ("test_round7_ops", "test_betweenness_path_graph_exact"),
    ],
    "sim_mmr_diversify": [
        ("test_round6_ops", "test_mmr_matches_numpy_reference"),
    ],
    "sim_ann_pq": [
        ("test_dedup_quality", "test_pq_recall_floor_and_distance_sanity"),
        ("test_independent_checks", "test_pq_matches_numpy_reference"),
    ],
    "events_survival_km": [
        ("test_round6_ops", "test_km_no_censoring_hand_computed"),
    ],
    "events_did_estimator": [
        ("test_round9_ops", "test_did_estimator_planted_cells"),
    ],
    # the rest of the hard-20
    "tokenizer_unigram_viterbi": [
        ("test_round6_ops", "test_unigram_viterbi_prefers_whole_word_piece"),
        ("test_round6_ops", "test_unigram_viterbi_char_conservation"),
    ],
    "graph_pagerank": [
        ("test_iterative_ops", "test_pagerank_ranks_the_hub_supplier_highest"),
        ("test_independent_checks", "test_pagerank_matches_pure_python_exact"),
    ],
    "emb_kmeans_lloyd": [
        ("test_iterative_ops", "test_kmeans_separates_two_tight_groups"),
    ],
    "sample_coreset_kcenter": [
        ("test_lpa_kcenter", "test_kcenter_farthest_point_traversal"),
    ],
    "eval_score_auc": [
        ("test_round6_ops", "test_auc_hand_computed"),
        ("test_round6_ops", "test_auc_perfect_separation"),
    ],
    "sample_ks_drift": [
        ("test_ks_drift", "test_shifted_distribution_detected"),
        ("test_ks_drift", "test_identical_distribution_not_detected"),
    ],
    "agg_ttest_welch": [
        ("test_round6_ops", "test_welch_identical_halves_insignificant"),
        ("test_round6_ops", "test_welch_shifted_halves_significant"),
    ],
    "sample_bootstrap_ci": [
        ("test_independent_checks", "test_bootstrap_ci_matches_pure_python"),
    ],
    "agg_mann_whitney_u": [
        ("test_bizops", "test_mann_whitney_separated_and_tied"),
        ("test_bizops", "test_mann_whitney_all_ties_is_null"),
    ],
    "agg_kruskal_wallis": [
        ("test_bizops", "test_kruskal_wallis_separated_groups"),
    ],
    "events_hazard_nelson_aalen": [
        ("test_bizops", "test_nelson_aalen_planted_hazard"),
    ],
    "emb_pca_power_iteration": [
        ("test_iterative_ops", "test_pca_matfree_agrees_with_moment_form"),
        ("test_independent_checks", "test_pca_recovers_planted_dominant_axis"),
    ],
}


def test_pinned_map_complete_and_resolvable():
    assert len(INDEPENDENT_CHECKS) == 20
    for qid, refs in INDEPENDENT_CHECKS.items():
        assert refs, qid
        for mod_name, fn_name in refs:
            mod = importlib.import_module(mod_name)
            assert hasattr(mod, fn_name), f"{qid}: {mod_name}.{fn_name} missing"
    # every id must actually be in the registry
    from mongo_to_clickhouse_spark.queries import registry

    missing = set(INDEPENDENT_CHECKS) - set(registry().keys())
    assert not missing, missing


# ---------------------------------------------------------------------------
# fixture writers (same shapes as test_round6_ops)
# ---------------------------------------------------------------------------


def _write_docs(tmp_path, rows):
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in rows], pa.int64()),
            "text": pa.array([t for _, t in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["src0"] * len(rows), pa.string()),
            "n_chars": pa.array([len(t) for _, t in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    return str(tmp_path)


def _write_values(tmp_path, values, days=None):
    import datetime as dt

    n = len(values)
    t0 = dt.datetime(2024, 6, 1)
    ts = [
        t0 + dt.timedelta(days=(days[i] if days else 0)) for i in range(n)
    ]
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    return str(tmp_path)


def _fresh_caches():
    cache.clear()


def _round_half_away(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


# ---------------------------------------------------------------------------
# graph_pagerank — EXACT pure-python integer replica
# ---------------------------------------------------------------------------


def test_pagerank_matches_pure_python_exact(spark, tmp_path):
    """The damped integer power iteration (rank DIV degree contributions,
    rank' = 150000 + 85·Σc DIV 100) replicated with python dicts on an
    irregular planted graph — every surviving node's rank must match the
    Spark plan EXACTLY, all rounds included."""
    from mongo_to_clickhouse_spark.queries.graphops import (
        _PR_BASE,
        _PR_INIT,
        _SUPP_BASE,
        PAGERANK_ROUNDS,
        graph_pagerank,
    )

    _fresh_caches()
    # irregular: c1-{s1,s2}, c2-s1, c3-s2, c4-s3 (pendant pair)
    pairs = [(1, 1), (1, 2), (2, 1), (3, 2), (4, 3)]
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(len(pairs)), pa.int64()),
            "o_custkey": pa.array([c for c, _ in pairs], pa.int64()),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(range(len(pairs)), pa.int64()),
            "l_suppkey": pa.array([s for _, s in pairs], pa.int64()),
        }
    )
    sf = str(tmp_path)
    pq.write_table(orders, os.path.join(sf, "orders.parquet"))
    pq.write_table(lineitem, os.path.join(sf, "lineitem.parquet"))

    # independent replica
    edges: list[tuple[int, int]] = []
    for c, s in pairs:
        edges.append((c, _SUPP_BASE + s))
        edges.append((_SUPP_BASE + s, c))
    deg: dict[int, int] = {}
    for src, _ in edges:
        deg[src] = deg.get(src, 0) + 1
    ranks = {n: _PR_INIT for n in deg}
    for _ in range(PAGERANK_ROUNDS):
        recv: dict[int, int] = {}
        for src, dst in edges:
            if src in ranks:
                recv[dst] = recv.get(dst, 0) + ranks[src] // deg[src]
        ranks = {n: _PR_BASE + (85 * c) // 100 for n, c in recv.items()}

    got = {
        r["node_id"]: r["rank_micro"]
        for r in graph_pagerank(spark, sf).collect()
    }
    assert got == ranks, (got, ranks)


# ---------------------------------------------------------------------------
# text_kneser_ney_surprisal — pure-python interpolated-KN replica
# ---------------------------------------------------------------------------


def test_kneser_ney_matches_pure_python(spark, tmp_path):
    """Interpolated Kneser–Ney bigram NLL recomputed from the textbook
    formulation (token-string counts, no md5, no SQL) on a planted
    corpus with genuine continuation structure: 'san francisco' makes
    'francisco' frequent-but-predictable, so its continuation
    probability must be driven by N1+(·w), not raw frequency."""
    from mongo_to_clickhouse_spark.queries.corpusops import (
        KN_DISCOUNT,
        text_kneser_ney_surprisal,
    )

    _fresh_caches()
    texts = [
        "san francisco is foggy",
        "san francisco is big",
        "paris is big",
        "tokyo is big and foggy",
        "san jose is near san francisco",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    sf = _write_docs(tmp_path, rows)

    # independent replica over token strings
    bigrams_by_doc: dict[int, list[tuple[str, str]]] = {}
    c12: dict[tuple[str, str], int] = {}
    for d, t in rows:
        toks = t.split(" ")
        bgs = list(zip(toks, toks[1:]))
        bigrams_by_doc[d] = bgs
        for bg in bgs:
            c12[bg] = c12.get(bg, 0) + 1
    c1: dict[str, int] = {}
    n1f: dict[str, int] = {}   # N1+(w1 ·): distinct continuations
    n1p: dict[str, int] = {}   # N1+(· w2): distinct histories
    for (w1, w2), c in c12.items():
        c1[w1] = c1.get(w1, 0) + c
        n1f[w1] = n1f.get(w1, 0) + 1
        n1p[w2] = n1p.get(w2, 0) + 1
    n_types = len(c12)
    logp_micro: dict[tuple[str, str], int] = {}
    for (w1, w2), c in c12.items():
        p = (
            max(c - KN_DISCOUNT, 0.0) / c1[w1]
            + KN_DISCOUNT * n1f[w1] / c1[w1] * n1p[w2] / n_types
        )
        logp_micro[(w1, w2)] = _round_half_away(math.log(p) * 1e6)
    expected = {}
    for d, bgs in bigrams_by_doc.items():
        s = sum(logp_micro[bg] for bg in bgs)
        expected[d] = (len(bgs), round(-s / len(bgs) / 1e6, 6))

    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll_kn"])
        for r in text_kneser_ney_surprisal(spark, sf).collect()
    }
    assert set(got) == set(expected)
    for d in expected:
        assert got[d][0] == expected[d][0], d
        assert got[d][1] == pytest.approx(expected[d][1], abs=5e-7), d
    # the continuation-backoff signature: 'francisco' only ever follows
    # 'san', so p(francisco|san) must lean on the discounted raw count,
    # and the doc full of one-off bigrams scores a higher NLL than the
    # repeated-pattern docs
    assert expected[4][1] > expected[0][1]


# ---------------------------------------------------------------------------
# sample_bootstrap_ci — EXACT pure-python hashlib replica
# ---------------------------------------------------------------------------


def test_bootstrap_ci_matches_pure_python(spark, tmp_path):
    """The whole deterministic Poisson-bootstrap pipeline — md5 seeds,
    degree-2 field polynomial, inverse-CDF weights, exact cent sums,
    ranked means — recomputed with hashlib + python ints. One row out;
    every field must match EXACTLY."""
    from mongo_to_clickhouse_spark.queries.sampleops import (
        _BOOT_P,
        _POIS_CUM_MICRO,
        BOOT_B,
        sample_bootstrap_ci,
    )

    _fresh_caches()
    values = [round(1.0 + (i * 37 % 101) * 0.73, 2) for i in range(60)]
    sf = _write_values(tmp_path, values)

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    sums = {b: 0 for b in range(1, BOOT_B + 1)}
    neff = {b: 0 for b in range(1, BOOT_B + 1)}
    total_cents = 0
    for eid, v in enumerate(values):
        cents = _round_half_away(v * 100)
        total_cents += cents
        s1 = h60(f"{eid}_s1") % _BOOT_P
        s2 = h60(f"{eid}_s2") % _BOOT_P
        s3 = h60(f"{eid}_s3") % _BOOT_P
        for b in range(1, BOOT_B + 1):
            u = (s1 + s2 * b + s3 * b * b) % _BOOT_P
            w = sum(1 for t in _POIS_CUM_MICRO if u >= t)
            sums[b] += w * cents
            neff[b] += w
    means = sorted(
        (math.floor(sums[b] * 10000.0 / neff[b]), b)
        for b in range(1, BOOT_B + 1)
    )
    expected = {
        "n_rows": len(values),
        "point_mean_micro": math.floor(
            total_cents * 10000.0 / len(values)
        ),
        "boot_p05_micro": means[1][0],
        "boot_p95_micro": means[BOOT_B - 2][0],
    }
    (r,) = sample_bootstrap_ci(spark, sf).collect()
    assert r["n_rows"] == expected["n_rows"]
    assert r["point_mean_micro"] == expected["point_mean_micro"]
    assert r["boot_p05_micro"] == expected["boot_p05_micro"]
    assert r["boot_p95_micro"] == expected["boot_p95_micro"]
    assert r["ci_width_micro"] == (
        expected["boot_p95_micro"] - expected["boot_p05_micro"]
    )


# ---------------------------------------------------------------------------
# sim_ann_pq — numpy ADC replica
# ---------------------------------------------------------------------------


def test_pq_matches_numpy_reference(spark, tmp_path):
    """Codebook build (donor vectors), per-subspace argmin encoding, and
    ADC scoring replicated in numpy on integer-valued planted vectors
    (all micro distances exact integers — no rounding ambiguity). The
    full top-k per probe must match EXACTLY, ties included."""
    import numpy as np

    from mongo_to_clickhouse_spark.queries.vectorops import (
        _DIM,
        N_PROBES,
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        TOPK,
        sim_ann_pq,
    )

    _fresh_caches()
    n = 40
    rng = np.random.RandomState(7)
    vecs = rng.randint(-8, 9, size=(n, _DIM)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([i % 4 for i in range(n)], pa.int32()),
        }
    )
    sf = str(tmp_path)
    pq.write_table(tbl, os.path.join(sf, "embeddings.parquet"))

    V = vecs.astype(np.int64)
    subs = V.reshape(n, PQ_M, PQ_SUBDIM)
    code_book = subs[:PQ_K]           # (PQ_K, PQ_M, PQ_SUBDIM)
    # micro L2² distance table d[v, m, k] — explicit loops (test-size n)
    d = np.zeros((n, PQ_M, PQ_K), dtype=np.int64)
    for v in range(n):
        for m in range(PQ_M):
            for k in range(PQ_K):
                dd = subs[v, m] - code_book[k, m]
                d[v, m, k] = 1_000_000 * int(np.dot(dd, dd))
    codes = np.zeros((n, PQ_M), dtype=np.int64)
    for v in range(n):
        for m in range(PQ_M):
            # argmin with k as tiebreak == first minimal index
            codes[v, m] = int(np.argmin(d[v, m]))
    expected = {}
    for p in range(N_PROBES):
        scored = []
        for x in range(n):
            if x == p:
                continue
            adc = int(sum(d[p, m, codes[x, m]] for m in range(PQ_M)))
            scored.append((adc, x))
        scored.sort()
        expected[p] = [
            (x, adc, i + 1) for i, (adc, x) in enumerate(scored[:TOPK])
        ]

    got: dict[int, list] = {}
    for r in sim_ann_pq(spark, sf).collect():
        got.setdefault(r["probe_id"], []).append(
            (r["neighbor_id"], r["adc_micro"], r["rank"])
        )
    for p in got:
        got[p].sort(key=lambda t: t[2])
    assert got == expected


# ---------------------------------------------------------------------------
# emb_pca_power_iteration — planted dominant axis
# ---------------------------------------------------------------------------


def test_pca_recovers_planted_dominant_axis(spark, tmp_path):
    """Vectors = t·axis + small isotropic jitter for a fixed unit axis
    with distinct components: the dominant eigenvector of the (centered)
    covariance IS the axis, verified against numpy's eigendecomposition
    — fully independent of the integer-truncated power-iteration
    internals and their oracle."""
    import numpy as np

    from mongo_to_clickhouse_spark.queries.vectorops import (
        _DIM,
        emb_pca_power_iteration,
    )

    _fresh_caches()
    rng = np.random.RandomState(3)
    axis = rng.standard_normal(_DIM)
    axis /= np.linalg.norm(axis)
    n = 60
    t = rng.standard_normal(n) * 5.0
    X = np.outer(t, axis) + rng.standard_normal((n, _DIM)) * 0.05
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in X.astype(np.float32)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([i % 4 for i in range(n)], pa.int32()),
        }
    )
    sf = str(tmp_path)
    pq.write_table(tbl, os.path.join(sf, "embeddings.parquet"))

    # numpy ground truth (independent eigendecomposition)
    Xc = X - X.mean(0)
    w, v = np.linalg.eigh(Xc.T @ Xc)
    top = v[:, -1]
    assert abs(float(np.dot(top, axis))) > 0.999  # the plant worked

    rows = emb_pca_power_iteration(spark, sf).collect()
    base = min(r["i"] for r in rows)  # dim index may be 0- or 1-based
    got = np.zeros(_DIM)
    for r in rows:
        got[r["i"] - base] = r["dir_micro"]
    got /= np.linalg.norm(got)
    assert abs(float(np.dot(got, top))) > 0.99, float(np.dot(got, top))


# ---------------------------------------------------------------------------
# events_holt_winters_backtest — pure-python recurrence replica on a
# non-trivial series
# ---------------------------------------------------------------------------


def test_hw_backtest_matches_pure_python_on_ramp(spark, tmp_path):
    """Additive Holt-Winters (α=1/2, β=1/4, γ=1/4, season 7) one-step
    backtest replicated from the textbook recurrence in the test on a
    ramp+weekday series — n_scored_days, y_total, abs error and WAPE
    must match the applyInPandas kernel exactly (all-dyadic state)."""
    from mongo_to_clickhouse_spark.queries.bizops import (
        _HW_WARMUP,
        events_holt_winters_backtest,
    )

    _fresh_caches()
    # one event per (day, i) so the daily count y_k is planted directly:
    # y_k = 4 + k + (3 if weekday k%7==2 else 0), 21 days
    days, counts = [], []
    for k in range(21):
        y = 4 + k + (3 if k % 7 == 2 else 0)
        counts.append(y)
        days += [k] * y
    sf = _write_values(tmp_path, [1.0] * len(days), days=days)

    lvl, trd = float(counts[0]), 0.0
    s = [0.0] * 7
    err_sum, y_sum, scored = 0.0, 0, 0
    for k, y in enumerate(counts):
        yf = float(y)
        if k >= _HW_WARMUP:
            err_sum += abs((lvl + trd + s[k % 7]) - yf)
            y_sum += y
            scored += 1
        s_old = s[k % 7]
        lvl_new = 0.5 * (yf - s_old) + 0.5 * (lvl + trd)
        trd = 0.25 * (lvl_new - lvl) + 0.75 * trd
        s[k % 7] = 0.25 * (yf - lvl_new) + 0.75 * s_old
        lvl = lvl_new
    expected = (
        scored,
        y_sum,
        int(math.floor(err_sum * 1e6 + 0.5)),
        int(math.floor(err_sum * 1e6 / y_sum)),
    )

    (r,) = events_holt_winters_backtest(spark, sf).collect()
    got = (
        r["n_scored_days"], r["y_total"], r["abs_err_micro"], r["wape_ppm"]
    )
    assert got == expected, (got, expected)
