"""scripts/profiler.py's Spark-free parts: the run-over-run bench diff
that bench.py writes to BENCH_DIFF.md, the record loader, and the scale
table renderer."""

from __future__ import annotations

import json

from scripts import profiler


def _records():
    old = {
        "sf": "0.1", "total_sec": 6.0, "reps": 3,
        "queries": {"q_plan": 1.0, "q_same": 1.0, "q_noisy": 1.0,
                    "q_flat": 2.0, "q_gone": 1.0},
        "spreads": {"q_noisy": 0.6},
        "calibration_med": 0.2,
        "plan_fp": {"q_plan": "a", "q_same": "b", "q_flat": "c"},
        "plan_ops": {"q_plan": {"shuffle": 2, "scans": 1},
                     "q_same": {"shuffle": 1, "scans": 1},
                     "q_flat": {"shuffle": 0, "scans": 1}},
    }
    new = {
        "sf": "0.1", "total_sec": 8.0, "reps": 3,
        "queries": {"q_plan": 2.0, "q_same": 1.5, "q_noisy": 1.5,
                    "q_flat": 2.05, "q_new": 0.5},
        "spreads": {"q_noisy": 0.1},
        "exhibit_queries": {"q_ex": 0.25},
        "calibration": [0.2, 0.21, 0.2],
        "calibration_med": 0.2,
        "plan_fp": {"q_plan": "a2", "q_same": "b", "q_flat": "c2"},
        "plan_ops": {"q_plan": {"shuffle": 3, "scans": 1},
                     "q_same": {"shuffle": 1, "scans": 1},
                     "q_flat": {"shuffle": 0, "scans": 1}},
    }
    return old, new


def _flags(lines):
    return {c[1].strip(): c[6].strip() for c in
            (ln.split("|") for ln in lines if ln.startswith("| q_"))}


def test_diff_flags():
    old, new = _records()
    lines = profiler.bench_diff(old, new)
    assert _flags(lines) == {
        "q_plan": "REGRESSED",
        "q_same": "REGRESSED(plan-unchanged)",
        "q_noisy": "noisy",
        "q_flat": "",
    }
    text = "\n".join(lines)
    assert "machine comparable; flags are meaningful." in text
    assert "New queries: q_new (0.500s)" in text
    assert "Dropped from headline: q_gone" in text
    assert "Exhibit (relational twins; benched, not in the headline " \
           "total): q_ex (0.250s)" in text
    assert "Flagged REGRESSED (>1.3x, >0.1s, beyond both runs' spread, " \
           "calibration-clean): 2" in text
    assert "- q_plan: shuffle 2→3" in lines
    assert lines[-1] == ("Plan reshaped, counters unchanged or not "
                         "recorded: q_flat")
    # rows are slowest-growing first
    assert [ln.split("|")[1].strip() for ln in lines
            if ln.startswith("| q_")] == ["q_plan", "q_noisy", "q_same",
                                          "q_flat"]


def test_diff_hot_machine_reads_ambient():
    old, new = _records()
    new["calibration"] = [0.3, 0.3, 0.3]
    lines = profiler.bench_diff(old, new)
    assert "AMBIENT CONTENTION" in "\n".join(lines)
    flags = _flags(lines)
    assert flags["q_plan"] == flags["q_same"] == flags["q_noisy"] == "ambient"


def test_diff_without_plans_or_calibration():
    # driver headline records carry neither: no plan-unchanged claim
    old = {"value": 3.0, "queries": {"q_x": 1.0}}
    new = {"value": 4.0, "queries": {"q_x": 2.0}}
    lines = profiler.bench_diff(old, new)
    assert _flags(lines) == {"q_x": "REGRESSED"}
    assert "previous total 3.0s -> 4.0s" in lines[2]
    assert "not recorded" in lines[4]


def test_load_reads_wrapper_and_raw_line(tmp_path):
    rec = {"value": 1.5, "queries": {"q": 1.5}}
    wrapped = tmp_path / "wrapped.json"
    wrapped.write_text(json.dumps({"n": 1, "parsed": rec}, indent=1))
    raw = tmp_path / "raw.txt"
    raw.write_text("spark log noise\n" + json.dumps(rec) + "\n")
    assert profiler.load(str(wrapped)) == rec
    assert profiler.load(str(raw)) == rec


_TSV = (
    "graph_pagerank\t1.25\t14.5\t\n"
    "sim_ann_pq\t0.5\t2.25\t\n"
    "stream_chained_windows\tnan\tnan\tAnalysisException: "
    "[UNRESOLVED_COLUMN] something went wrong at scale with a long "
    "message here\n"
)

_TABLE = """\
2 batch ids measured (sf0.1 vs sf1, 10x rows, 3-rep medians); ratio p50 \
11.60, p90 11.60, max 11.60; 1 over 7.5x; 1 failed.

| query | sf0.1 s | sf1 s | ratio |
|---|---|---|---|
| graph_pagerank **(over)** | 1.25 | 14.50 | 11.60 |
| sim_ann_pq | 0.50 | 2.25 | 4.50 |
| stream_chained_windows | — | FAIL | AnalysisException: [UNRESOLVED_COLUMN] \
something went wrong  |"""


def test_scale_table_from_resume_tsv(tmp_path):
    path = tmp_path / "resume.tsv"
    path.write_text(_TSV)
    results = profiler.read_scale_tsv(str(path))
    assert "\n".join(profiler.render_scale(results, 7.5)) == _TABLE
    assert "**(over)**" not in "\n".join(profiler.render_scale(results, 20))
