"""Physical-plan structural metadata — fingerprints and cost counters.

One shared implementation for bench.py, scripts/profiler.py, and
tests/test_plan_budget.py so the three never drift on what a "shuffle"
means.

Counter semantics (word-boundary matches on the executed-plan string,
final AQE section only):

- ``shuffle``  — bare ``Exchange`` nodes, i.e. real shuffles. Earlier
  rounds counted the substring ``Exchange`` minus ``ReusedExchange``,
  which also swept up ``BroadcastExchange`` (a broadcast BUILD, not a
  shuffle) and inflated the shuffle number — flagged in round-4 ADVICE.
- ``bcast``    — ``BroadcastExchange`` nodes (broadcast builds; cheap
  when the build side is small, but worth watching separately).
- ``bhj`` / ``smj`` / ``bnlj`` — join-strategy node counts.
- ``window``   — ``Window`` nodes only; ``WindowGroupLimit`` (the rank
  pushdown helper) is intentionally NOT counted — it is a win, not a
  cost.
- ``generate`` — ``Generate`` (explode) nodes.
"""

from __future__ import annotations

import hashlib
import re

_WORD = {
    "shuffle": re.compile(r"(?<![A-Za-z])Exchange(?![A-Za-z])"),
    "bcast": re.compile(r"(?<![A-Za-z])BroadcastExchange(?![A-Za-z])"),
    "bhj": re.compile(r"(?<![A-Za-z])BroadcastHashJoin(?![A-Za-z])"),
    "smj": re.compile(r"(?<![A-Za-z])SortMergeJoin(?![A-Za-z])"),
    "bnlj": re.compile(r"(?<![A-Za-z])BroadcastNestedLoopJoin(?![A-Za-z])"),
    "window": re.compile(r"(?<![A-Za-z])Window(?![A-Za-z])"),
    "generate": re.compile(r"(?<![A-Za-z])Generate(?![A-Za-z])"),
}


def executed_plan_str(df) -> str:
    """Final executed-plan string (AQE's '== Initial Plan ==' trailer
    stripped so counters don't double)."""
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("== Initial Plan ==")[0]


def plan_counters(df, extra_scans: bool = False) -> dict:
    """Structural cost counters of the physical plan — the quantities a
    scale review asks about first: real shuffles, broadcast builds, join
    strategies, window operators, explodes."""
    s = executed_plan_str(df)
    c = {k: len(rx.findall(s)) for k, rx in _WORD.items()}
    # a ReusedExchange of a shuffle exchange re-reads shuffle files
    # rather than re-shuffling; it never matches bare "Exchange" above,
    # so no subtraction is needed — noted here because earlier rounds
    # subtracted it from an inflated substring count.
    if extra_scans:
        c["scans"] = s.count("FileScan")
        c["pushed"] = bool(
            re.search(r"PushedFilters: \[[^\]]*(?:LessThan|GreaterThan|EqualTo|In\()", s)
        )
    return c


def plan_fingerprint(df) -> str:
    """Stable 12-hex digest of the plan STRUCTURE: expression ids, plan
    ids, and filesystem paths normalized away so the digest diffs
    mechanically across rounds even when timings are noisy."""
    s = df._jdf.queryExecution().executedPlan().toString()
    s = re.sub(r"#\d+[A-Za-z]*", "#x", s)
    s = re.sub(r"plan_id=\d+", "plan_id=x", s)
    s = re.sub(r"(file:)?/[^\s,\]\)]+", "<path>", s)
    s = re.sub(r"\[id=#x\]", "", s)
    return hashlib.sha256(s.encode()).hexdigest()[:12]
