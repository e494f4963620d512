"""Plan hygiene: NO query in the registry may plan a no-partition window.

``ROW_NUMBER()/SUM() OVER (ORDER BY ...)`` without PARTITION BY moves the
entire input through ONE task — invisible at test scale, fatal at 100 TB.
Round-2 review found two (BM25 top-k, rarity vocab rank) hiding behind
correct results; both were rewritten (TakeOrderedAndProject / the
two-pass operators in operators/rank.py). This test sweeps every BATCH
registry entry's optimized plan so the class cannot regress silently.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from mongo_to_clickhouse_spark import queries as registry

SRC = "/root/testdata/sf0.001"

_WINDOWSPEC = re.compile(r"windowspecdefinition\(([^)]*)\)")

# ids whose no-partition window runs over a PROVABLY BOUNDED relation —
# (round 10: four stale entries pruned — events_entropy_rate,
# events_burstiness_fano, eval_calibration_ece,
# profile_mutual_information no longer plan ANY no-partition window;
# the positive verification test below caught them on its first run) —
# the window input is an aggregate output whose row count is independent
# of corpus size, so one task is the correct plan. Every entry must state
# the bound; an unbounded relation is never whitelistable here.
_BOUNDED_WINDOW_WHITELIST = {
    # windows run over `caps` = GROUP BY source aggregate: |sources| rows
    # (domain cardinality, ~1e3-1e5), not corpus rows
    "domain_budget_waterfill",
    # union re-rank runs over the union of per-group sketches:
    # ≤ KMV_K·|event_types| rows, independent of corpus size
    "agg_kmv_theta_sketch",
    # rank window runs over the ORDER/LIMIT top-K output:
    # ≤ ZIPF_TOP_TYPES (1000) rows by construction
    "corpus_zipf_slope",
    # ntile window runs over the per-supplier revenue AGGREGATE:
    # |suppliers| rows (dim cardinality), not lineitem rows
    "profile_pareto_revenue",
    # ECDF windows run over the quantized BIN aggregate: ≤ value-range ×
    # KS_BIN_INV rows (metric range, not corpus size)
    "sample_ks_drift",
    # allocation windows (total weight / largest-remainder rank) run over
    # the per-stratum AGGREGATE: |o_orderpriority| = 5 rows; the only
    # corpus-sized window is the per-stratum draw rank, which IS
    # partitioned (by stratum)
    "sample_neyman_allocation",
    # the running-negatives window runs over the per-score AGGREGATE:
    # bounded by the n_chars value grid, not the corpus
    "eval_score_auc",
    # the cell-ranking window runs over the lang × source CONTINGENCY
    # aggregate: |langs|·|sources| rows
    "profile_chi2_independence",
    # the median-rank window runs over the pairwise-slope relation of
    # the DAILY rollup: |days|²/2 rows (calendar-bounded)
    "events_theil_sen_trend",
    # the trailing-frame window runs over the paired DAILY rollup:
    # |days| rows (calendar-bounded), never event rows
    "window_rolling_corr_pair",
    # the cumulative-acquired window runs over the per-day aggregate:
    # |days| rows (calendar-bounded)
    "events_new_user_curve",
    # the re-rank/min windows run over the ORDER/LIMIT tail output:
    # exactly HILL_K + 1 (101) rows by construction
    "events_power_law_hill",
    # trigger/state windows run over the dense HOURLY grid behind the
    # checkpointed hourly aggregate: |hours| rows (calendar-bounded)
    "events_alert_debounce",
    # the cap-derivation windows run over the per-user-count VALUE
    # GRID: bounded by max per-user activity, not user count
    "sample_downsample_head_heavy",
    # the leaderboard rank window runs over the |event types| (≤K)
    # theta relation
    "eval_winrate_bradley_terry",
    # the at-risk reverse-cumulative and the KM log-product windows run
    # over the duration-bucket AGGREGATE: observation-window hours
    "events_survival_km",
    # the at-risk and cumulative-hazard windows run over the SAME
    # duration-bucket aggregate as events_survival_km
    "events_hazard_nelson_aalen",
    # the rank-span running sum walks the per-cents TIE-GROUP aggregate:
    # value-grid-bounded (the eval_score_auc / sample_ks_drift class)
    "agg_mann_whitney_u",
    # same per-cents tie-group running sum, generalized to k groups
    "agg_kruskal_wallis",
    # rank windows over the |days|-row daily wide relation
    # (calendar-bounded)
    "agg_spearman_rho_daily",
    # the cumulative walk runs over the ~16*63-row log-bucket grid
    "agg_hdr_histogram_quantile",
    # trailing 6h/24h frames walk the calendar-bounded hour grid
    "events_error_budget_burn",
    # the CI rank window runs over the BOOT_B(=32)-row resample-means
    # relation — constant-bounded by construction
    "sample_bootstrap_ci",
}


def _no_partition_windows(plan: str) -> list[str]:
    """windowspecdefinition args list partition columns first, then the
    ORDER BY columns (tagged ASC/DESC); a spec whose FIRST argument is an
    ordered column has an empty partition clause."""
    hits = []
    for m in _WINDOWSPEC.finditer(plan):
        first = m.group(1).split(",")[0]
        if " ASC" in first or " DESC" in first:
            hits.append(m.group(1)[:100])
    return hits


def _batch_ids():
    return sorted(set(registry.registry()) - registry.RUNS_ON_CALL)


@pytest.mark.parametrize(
    "qid", [q for q in _batch_ids() if q not in _BOUNDED_WINDOW_WHITELIST]
)
def test_no_single_partition_window(spark, qid):
    fn, _ = registry.registry()[qid]
    df = fn(spark, SRC)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    hits = _no_partition_windows(plan)
    assert not hits, (
        f"{qid}: no-partition window(s) in optimized plan — the whole "
        f"input serializes through one task at scale: {hits}"
    )


# ---------------------------------------------------------------------------
# positive verification of the bounded-window whitelist (round 10;
# VERDICT r9 item 7 — these ids used to pytest.skip, leaving the written
# boundedness arguments unchecked). For every whitelisted id we assert
# STRUCTURALLY that each no-partition window is fed only by bounded
# relations: every path from the Window node down to a raw fixture scan
# (`Relation`/`FileScan` = corpus-sized) must pass through an
# Aggregate/Limit node, while `LogicalRDD` leaves are accepted — they
# are reliable-checkpoint barriers whose bound is established (and
# argued) at barrier-build time, invisible to this plan. A whitelist
# entry whose query no longer plans ANY no-partition window fails as
# stale.
# ---------------------------------------------------------------------------

_BOUND_NODE = re.compile(r"^(Aggregate|GlobalLimit|LocalLimit|Limit)\b")
_CORPUS_LEAF = re.compile(r"^(Relation|FileScan)\b")


def _tree_depth(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in " :+-|":
        i += 1
    return i


def _unbounded_window_paths(plan: str) -> list[str]:
    """Paths from a no-partition Window node to a corpus-sized leaf with
    no Aggregate/Limit in between — the 100 TB single-task smoking gun."""
    lines = plan.splitlines()
    depths = [_tree_depth(ln) for ln in lines]
    viols: list[str] = []
    for i, ln in enumerate(lines):
        if not _no_partition_windows(ln):
            continue
        d = depths[i]
        stack: list[tuple[int, bool]] = []  # (depth, bounded at/above)
        j = i + 1
        while j < len(lines) and depths[j] > d:
            dj = depths[j]
            name = lines[j][dj:]
            while stack and stack[-1][0] >= dj:
                stack.pop()
            bounded_above = any(b for _, b in stack)
            is_bound = bool(_BOUND_NODE.match(name))
            if _CORPUS_LEAF.match(name) and not (bounded_above or is_bound):
                viols.append(
                    f"window@{i} -> unbounded corpus scan @{j}: "
                    f"{name[:90]}"
                )
            stack.append((dj, bounded_above or is_bound))
            j += 1
    return viols


@pytest.mark.parametrize("qid", sorted(_BOUNDED_WINDOW_WHITELIST))
def test_bounded_window_whitelist_is_verified(spark, qid):
    fn, _ = registry.registry()[qid]
    plan = fn(spark, SRC)._jdf.queryExecution().optimizedPlan().toString()
    hits = _no_partition_windows(plan)
    assert hits, (
        f"{qid}: whitelisted but plans NO no-partition window — stale "
        f"entry, prune it from _BOUNDED_WINDOW_WHITELIST"
    )
    viols = _unbounded_window_paths(plan)
    assert not viols, (
        f"{qid}: whitelisted as bounded, but a no-partition window reads "
        f"a corpus-sized relation with no Aggregate/Limit on the path — "
        f"the written bound does not hold structurally: {viols}"
    )


# ---------------------------------------------------------------------------
# data-plane driver-materialization sweep: .collect()/.toPandas() moves the
# whole relation to the driver — OOM at 100 TB. The ONLY tolerated sites are
# control-plane: outputs bounded by something O(small) regardless of input
# size. Every new call site must be added here WITH its boundedness argument.
# ---------------------------------------------------------------------------

_DRIVER_MAT = re.compile(r"\.(collect|toPandas)\(")

# (path relative to the package dir, required substring of the offending
# line) → why it is bounded
_CONTROL_PLANE_WHITELIST = {
    # d×d covariance of a fixed embedding dim: O(d²) rows, independent of
    # corpus size — the MLlib RowMatrix control-plane split for PCA
    ("queries/vectorops.py",
     "emb_covariance(spark, sf_dir).collect()"),
    # distinct failed batch ids in the DLQ: bounded by batch count, not rows
    ("sinks/dlq.py", 'dlq.select("batch_id").distinct().collect()'),
    # stream upsert accounting: one row per micro-batch (3), collected so
    # the tempfile work dir can be removed before returning
    ("queries/dedupops.py",
     'spark.read.parquet(acct).orderBy("batch_id").collect()'),
    ("queries/vectorops.py",
     'spark.read.parquet(acct).orderBy("batch_id").collect()'),
    # matrix-free PCA power iteration: per-round per-dim aggregates —
    # O(d) rows with d = 64 the fixed embedding dim, independent of
    # corpus size (the n-row work stays in the Arrow kernel)
    ("queries/vectorops.py",
     ".collect()  # O(d) stats rows: d = 64 fixed embedding dim"),
    ("queries/vectorops.py",
     ".collect()  # O(d) rows: d = 64 fixed embedding dim"),
    # Lloyd's k-means driver state: K=8 seed centroids and K·D=512
    # per-round mean partials — both fixed by config, never corpus-sized
    ("queries/vectorops.py",
     'xs.filter(F.col("vec_id") < KMEANS_K).collect()'),
    ("queries/vectorops.py",
     ".collect()  # O(K·D) rows: K = 8, D = 64, both fixed"),
    # Gonzalez k-center: one (d2, argmax id, coords) partial row per
    # scan partition — the classic 1-row-per-task reduce payload
    ("queries/vectorops.py",
     ".collect()  # O(partitions) 1-row argmax partials"),
    # BPE training: each round's best merge pair — a LIMIT 1 TakeOrdered
    # result, exactly 1 row per round with BPE_MERGE_ROUNDS fixed by
    # config, never corpus- or vocabulary-sized
    ("queries/tokenizerops.py",
     ".collect()  # 1-row argmax: the round's best pair"),
}


def test_no_driver_materialization_outside_whitelist():
    import mongo_to_clickhouse_spark as pkg

    pkg_dir = pathlib.Path(pkg.__file__).parent
    offenders = []
    for py in sorted(pkg_dir.rglob("*.py")):
        rel = str(py.relative_to(pkg_dir))
        for lineno, line in enumerate(py.read_text().splitlines(), 1):
            if not _DRIVER_MAT.search(line):
                continue
            if any(rel == f and s in line for f, s in _CONTROL_PLANE_WHITELIST):
                continue
            offenders.append(f"{rel}:{lineno}: {line.strip()}")
    assert not offenders, (
        "driver-side materialization outside the control-plane whitelist "
        "(full-relation collect/toPandas is a 100 TB driver-OOM; if the "
        "new site is provably bounded, whitelist it with the argument):\n"
        + "\n".join(offenders)
    )


def test_whitelist_entries_still_exist():
    """A whitelist entry whose code is gone is stale — prune it."""
    import mongo_to_clickhouse_spark as pkg

    pkg_dir = pathlib.Path(pkg.__file__).parent
    for rel, snippet in _CONTROL_PLANE_WHITELIST:
        text = (pkg_dir / rel).read_text()
        assert snippet in text, f"stale whitelist entry: {rel} / {snippet!r}"
