"""Generate REGISTRY.md — one row per registered query id: area,
one-line semantics, oracle kind, plan budget (from PLANS.md), and the
scale note extracted from the implementation docstring.

This is the per-id detail ledger; SURVEY.md §2.10-2.15 keep the bare
id-by-area coverage tables and point here. Run after adding/moving ids
(and after `scripts/profiler.py plans`, which refreshes the budgets):

    PYTHONPATH=. python scripts/gen_registry_md.py
"""

from __future__ import annotations

import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mongo_to_clickhouse_spark.queries import registry

AREA_BY_MODULE = {
    "core": "Reference CDC surface",
    "streamruntime": "Streaming runtime (reference surface)",
    "streamops": "Streaming (extension)",
    "tpch": "TPC-H",
    "tpch_ext": "TPC-H",
    "joinops": "Joins / windows / set ops",
    "relational_ext": "Joins / windows / set ops",
    "sketchops": "Aggregations / sketches",
    "clickhouseops": "ClickHouse function family",
    "cdcops": "CDC apply / MergeTree",
    "textops": "Text analysis",
    "corpusops": "Corpus curation",
    "tokenizerops": "Tokenizers",
    "dedupops": "Deduplication",
    "vectorops": "Similarity / embeddings",
    "pipelineops": "Pipelines / multimodal / layout",
    "zorderops": "Layout / locality",
    "graphops": "Graph",
    "sampleops": "Sampling",
    "evalops": "Evaluation",
    "statsops": "Statistics / experimentation",
    "bizops": "BI / time-series",
    "analyticsops": "Analytics",
    "analytics2ops": "Analytics",
    "analytics": "Product analytics",
    "analytics_ext": "Product analytics",
}


def first_sentence(text: str, limit: int = 110) -> str:
    text = " ".join(text.split())
    for stop in (". ", " — ", "; "):
        k = text.find(stop)
        if 0 < k < limit:
            return text[: k + (1 if stop == ". " else 0)]
    return text[:limit].rstrip() + ("…" if len(text) > limit else "")


def scale_note(doc: str) -> str:
    m = re.search(r"Scale posture[^:]*:\s*(.+)", doc, re.S)
    if not m:
        return ""
    return first_sentence(m.group(1))


def plan_budgets() -> dict[str, str]:
    budgets: dict[str, str] = {}
    try:
        text = open("PLANS.md").read()
    except OSError:
        return budgets
    for line in text.splitlines():
        m = re.match(r"\| `([a-z0-9_]+)` \| (\d+) \|(?: \d+ \|){6} (\d+) \|", line)
        if m:
            budgets[m.group(1)] = f"{m.group(2)} shuf / {m.group(3)} scan"
    return budgets


def main() -> None:
    reg = registry()
    budgets = plan_budgets()
    rows = []
    for qid in sorted(reg):
        fn, sql = reg[qid]
        mod = fn.__module__.rsplit(".", 1)[-1]
        area = AREA_BY_MODULE.get(mod, mod)
        path = inspect.getsourcefile(fn).split("/root/repo/")[-1]
        line = inspect.getsourcelines(fn)[1]
        doc = inspect.getdoc(fn) or ""
        sem = first_sentence(doc) or "(see docstring)"
        oracle = "oracle" if sql is not None else "rows-only"
        budget = budgets.get(qid, "—")
        note = scale_note(doc) or "—"
        rows.append(
            f"| `{qid}` | {area} | {sem} | {oracle} | {budget} | {note} "
            f"| `{path}:{line}` |"
        )
    n_oracle = sum(1 for _f, s in reg.values() if s is not None)
    out = [
        "# REGISTRY — every query id, one row each (generated)",
        "",
        f"Generated by `scripts/gen_registry_md.py`: **{len(reg)} ids, "
        f"{n_oracle} oracle-checked, {len(reg) - n_oracle} rows-only**.",
        "Budget = post-barrier physical plan counters from `PLANS.md` "
        "(`scripts/profiler.py plans`); ids that run on call "
        "(`queries.RUNS_ON_CALL`) are pinned by the pytest suites "
        "instead (—). Semantics and scale notes are the first sentence "
        "of the implementation docstring — the full argument lives at "
        "the cited line.",
        "",
        "| id | area | semantics | check | plan budget | scale note "
        "| impl |",
        "|---|---|---|---|---|---|---|",
        *rows,
        "",
    ]
    open("REGISTRY.md", "w").write("\n".join(out))
    print(f"wrote REGISTRY.md: {len(reg)} ids, {n_oracle} oracle")


if __name__ == "__main__":
    main()
