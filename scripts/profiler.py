"""One profiler for the query registry, as subcommands over a shared
session, timed noop write, job capture and bench diff:

    time QID... [--reps N] [--sf-dir D] [--plans-dir D --suffix S] [--out-dir D]
        median noop time and plan counters; --plans-dir dumps each id's
        explain('formatted') as <qid>_<suffix>.txt, --out-dir the jobs
        of its first build + noop write as <qid>_rounds.json
    plans [--sf-dir D]
        plan counters of every id outside RUNS_ON_CALL -> PLANS.md
    scale [--reps N] [--top N] [--ids a,b] [--all-batch] [--target D]
          [--resume-file TSV] [--ratio-limit X]
        sf0.1 vs --target (scripts/gen_scale_fixture.py) time ratios
    scale --table TSV [limit]
        render a --resume-file TSV, no session
    diff OLD NEW [OLD_PLANS NEW_PLANS]
        bench.py's BENCH_DIFF.md table for two BENCH_QUERIES.json records,
        driver {"parsed": ...} wrappers or raw headline lines

Run as ``python scripts/profiler.py SUBCOMMAND ...``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from py4j.protocol import Py4JJavaError  # noqa: E402

from mongo_to_clickhouse_spark import queries as registry  # noqa: E402
from mongo_to_clickhouse_spark.plans.meta import plan_counters  # noqa: E402
from mongo_to_clickhouse_spark.session import get_spark  # noqa: E402

TESTDATA = "/root/testdata"

# scale's default ids besides the slowest bench queries: dedup / ANN
# candidate-space bounds, the iterative graph tier, pipeline / eval ids
SCALE_TIER = [
    "dedup_exact_hash",
    "dedup_minhash_lsh_pairs",
    "dedup_cluster_components",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_semdedup_matmul",
    "dedup_substring_apply",
    "pipeline_dedup_cascade",
    "sim_cosine_topk",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "sim_ann_ivf_kernel",
    "sim_ann_pq",
    "sim_knn_graph_lsh",
    "sim_knn_graph_matmul",
    "text_bm25_topk",
    "multimodal_phash_dedup",
    "graph_betweenness_sampled",
    "graph_modularity",
    "events_funnel_unordered",
    "events_did_estimator",
    "sample_ess_importance",
    "pipeline_chunk_overlap",
    "pipeline_rag_ingest_manifest",
    "graph_adamic_adar",
    "eval_ann_recall_curve",
    "decontaminate_ngram_sweep",
    "pipeline_pretraining_manifest",
    "tokenizer_wordpiece_apply",
]


# --- shared session, timing and job capture -------------------------

def session(qids=()):
    """A warm session and the registry; exits on an unknown id."""
    reg = registry.registry()
    unknown = [q for q in qids if q not in reg]
    if unknown:
        raise SystemExit(f"unknown ids: {unknown}")
    spark = get_spark(app_name="profiler")
    spark.range(1).count()  # absorb session startup
    return spark, reg


def noop(df) -> None:
    """Materialize every column of df through its physical plan."""
    df.write.format("noop").mode("overwrite").save()


def noop_seconds(spark, fn, sf_dir: str) -> float:
    """Wall seconds of one build + noop write of a registry function."""
    t0 = time.time()
    noop(fn(spark, sf_dir))
    return time.time() - t0


def median(xs):
    return sorted(xs)[len(xs) // 2]


def job_mark(spark) -> int:
    """The id the session's next job gets; pass it to ``jobs_since``."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def jobs_since(spark, first_job: int, qid: str, sf_dir: str) -> dict:
    """Every job since ``first_job`` with per-stage task counts, shuffle
    bytes and input rows, read from the live status store by job and
    stage id (no UI or REST needed); stages that never ran are left out."""
    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()
    jsc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously

    def stage(sid: int) -> dict | None:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted
            return None
        if str(st.status()) in ("PENDING", "SKIPPED"):
            return None
        return {
            "stage_id": sid,
            "name": str(st.name()).split("\n")[0][:120],
            "num_tasks": st.numTasks(),
            # rows, not inputBytes: for TPC-H Q1 at sf0.1 inputBytes
            # reads 17.8 KB where the scanned column chunks are 6.0 MB
            "input_records": st.inputRecords(),
            "output_bytes": st.outputBytes(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "executor_run_time_ms": st.executorRunTime(),
        }

    jobs = []
    for jid in range(first_job, job_mark(spark)):
        j = store.job(jid)
        sids = sorted(j.stageIds().apply(i) for i in range(j.stageIds().size()))
        stages = [st for st in map(stage, sids) if st]
        desc = j.description()
        jobs.append({
            "job_id": jid,
            "description": None if desc.isEmpty() else desc.get(),
            "name": str(j.name()).split("\n")[0][:120],
            "num_tasks": j.numTasks(),
            **{k: sum(st[k] for st in stages) for k in (
                "shuffle_read_bytes", "shuffle_write_bytes", "input_records")},
            "stages": stages,
        })
    return {
        "query": qid,
        "sf_dir": sf_dir,
        "n_jobs": len(jobs),
        "total_shuffle_write_bytes": sum(j["shuffle_write_bytes"]
                                         for j in jobs),
        "total_tasks": sum(j["num_tasks"] for j in jobs),
        "jobs": jobs,
    }


# --- time -----------------------------------------------------------

def _write(dirname: str, name: str, text: str) -> None:
    os.makedirs(dirname, exist_ok=True)
    with open(os.path.join(dirname, name), "w") as f:
        f.write(text)


def cmd_time(args) -> int:
    spark, reg = session(args.qids)
    sc = spark.sparkContext
    for qid in args.qids:
        fn = reg[qid][0]
        first_job = job_mark(spark)
        sc.setJobDescription(f"rounds:{qid}:build")
        df = fn(spark, args.sf_dir)
        if args.plans_dir:
            _write(args.plans_dir, f"{qid}_{args.suffix}.txt",
                   df._sc._jvm.PythonSQLUtils.explainString(
                       df._jdf.queryExecution(), "formatted"))
        ops = plan_counters(df)
        # the first noop write doubles as the warm-up rep (codegen,
        # footers) and is part of the captured jobs
        sc.setJobDescription(f"rounds:{qid}:noop")
        noop(df)
        sc.setJobDescription(None)
        rec = jobs_since(spark, first_job, qid, args.sf_dir)
        if args.out_dir:
            _write(args.out_dir, f"{qid}_rounds.json",
                   json.dumps(rec, indent=1))
        samples = [round(noop_seconds(spark, fn, args.sf_dir), 3)
                   for _ in range(args.reps)]
        print(f"{qid}: median={median(samples)}s samples={samples} "
              f"plan={ops} jobs={rec['n_jobs']} tasks={rec['total_tasks']}"
              f" shuffle_write={rec['total_shuffle_write_bytes']}",
              flush=True)
    return 0


# --- plans ----------------------------------------------------------

def cmd_plans(args) -> int:
    spark, reg = session()
    rows, errors = [], []
    for qid in sorted(reg):
        if qid in registry.RUNS_ON_CALL:
            continue
        try:
            c = plan_counters(reg[qid][0](spark, args.sf_dir),
                              extra_scans=True)
        except Exception as exc:  # noqa: BLE001
            errors.append(f"{qid}: {exc}")
            continue
        rows.append((qid, c))
        print(qid, c)

    lines = [
        "# PLANS — physical-plan structure audit (all batch registry ids)",
        "",
        f"Accounting: registry {len(reg)} ids = {len(rows)} batch ids "
        f"audited here + {len(registry.RUNS_ON_CALL)} ids that run on "
        "call (`queries.RUNS_ON_CALL`: they start a stream, drain a "
        "tenant or write sinks, so planning them would run them) "
        "pytest-pinned instead"
        + (f" + {len(errors)} errored" if errors else "") + ".",
        "",
        f"Generated by `scripts/profiler.py plans` at `{args.sf_dir}`. "
        "Counters per",
        "executed plan (word-boundary operator names — see",
        "`mongo_to_clickhouse_spark/plans/meta.py`): `shuf` = bare",
        "`Exchange` nodes, i.e. real shuffles (BroadcastExchange and",
        "ReusedExchange never match); `bcast` = BroadcastExchange builds;",
        "join strategies; `window` = Window nodes (WindowGroupLimit",
        "excluded — it's a pushdown win, not a cost); `gen` = explodes;",
        "scans; and whether a non-trivial filter was pushed to a scan.",
        "Diff this file across rounds: +1 shuf or a bhj→smj flip on an",
        "unchanged query is a plan regression even when timings look flat.",
        "",
        "| query id | shuf | bcast | bhj | smj | bnlj | window | gen | scans | pushed |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for qid, c in rows:
        lines.append(
            f"| `{qid}` | {c['shuffle']} | {c['bcast']} | {c['bhj']} | {c['smj']} "
            f"| {c['bnlj']} | {c['window']} | {c['generate']} "
            f"| {c['scans']} | {'y' if c['pushed'] else ''} |"
        )
    lines += ["", f"{len(rows)} batch ids audited; "
              f"{len(errors)} errors: {errors if errors else 'none'}", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md: {len(rows)} ids, {len(errors)} errors")
    return 1 if errors else 0


# --- scale ----------------------------------------------------------

def read_scale_tsv(path: str) -> dict[str, tuple[float, float, str]]:
    """qid -> (sf0.1 s, target s, error) from a --resume-file TSV."""
    out = {}
    with open(path) as f:
        for line in f:
            qid, t1, t5, err = line.rstrip("\n").split("\t")
            out[qid] = (float(t1), float(t5), err)
    return out


def render_scale(results: dict[str, tuple[float, float, str]],
                 limit: float, target: str = "sf1",
                 reps: int = 3) -> list[str]:
    """The ratio table, slowest-growing first, with a summary line,
    ``(over)`` marks past ``limit`` and one row per failed id."""
    rows = sorted(((q, t1, t5, t5 / max(t1, 1e-9))
                   for q, (t1, t5, err) in results.items() if not err),
                  key=lambda t: -t[3])
    fails = [(q, err) for q, (_, _, err) in results.items() if err]
    ratios = sorted(r[3] for r in rows)
    try:
        rows_x = f"{float(target[2:]) / 0.1:g}x rows, "
    except ValueError:
        rows_x = ""
    spread = (f"ratio p50 {ratios[len(ratios) // 2]:.2f}, p90 "
              f"{ratios[int(len(ratios) * 0.9)]:.2f}, max {ratios[-1]:.2f}; "
              if ratios else "")
    lines = [
        f"{len(rows)} batch ids measured (sf0.1 vs {target}, {rows_x}"
        f"{reps}-rep medians); {spread}"
        f"{sum(r[3] > limit for r in rows)} over {limit}x; "
        f"{len(fails)} failed.",
        "",
        f"| query | sf0.1 s | {target} s | ratio |",
        "|---|---|---|---|",
    ]
    for qid, t1, t5, r in rows:
        mark = " **(over)**" if r > limit else ""
        lines.append(f"| {qid}{mark} | {t1:.2f} | {t5:.2f} | {r:.2f} |")
    for qid, err in fails:
        lines.append(f"| {qid} | — | FAIL | {err[:60]} |")
    return lines


def _scale_ids(args, reg) -> list[str]:
    if args.all_batch:
        return sorted(q for q in reg if q not in registry.RUNS_ON_CALL)
    if args.ids:
        return [i for i in args.ids.split(",") if i]
    with open(os.path.join(REPO, "BENCH_QUERIES.json")) as f:
        bq = json.load(f)["queries"]
    top = sorted(bq, key=bq.get, reverse=True)[: args.top]
    return list(dict.fromkeys(top + SCALE_TIER))


def cmd_scale(args) -> int:
    if args.table:
        limit = args.limit if args.limit is not None else args.ratio_limit
        print("\n".join(render_scale(read_scale_tsv(args.table), limit)))
        return 0
    sf01 = os.path.join(TESTDATA, "sf0.1")
    tname = os.path.basename(args.target.rstrip("/"))
    ids = _scale_ids(args, registry.registry())
    if not os.path.exists(os.path.join(args.target, "lineitem.parquet")):
        raise SystemExit("run scripts/gen_scale_fixture.py first")
    spark, reg = session(ids)

    def run(fn, sf_dir: str) -> float:
        return median([noop_seconds(spark, fn, sf_dir)
                       for _ in range(args.reps)])

    # a failed id records FAIL + the exception head and the sweep goes
    # on, so one pass finds every scale bug; a restart skips the ids
    # already in the resume file
    results = {}
    if args.resume_file and os.path.exists(args.resume_file):
        results = read_scale_tsv(args.resume_file)
    for qid in ids:
        if qid in results:
            continue
        err = ""
        t1 = t5 = float("nan")
        try:
            t1 = run(reg[qid][0], sf01)
            t5 = run(reg[qid][0], args.target)
            print(f"  {qid}: sf0.1 {t1:.2f}s  {tname} {t5:.2f}s  "
                  f"x{t5 / max(t1, 1e-9):.2f}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            err = str(exc).split("\n")[0][:200]
            print(f"  {qid}: FAIL {err}", file=sys.stderr)
        results[qid] = (t1, t5, err)
        if args.resume_file:
            with open(args.resume_file, "a") as f:
                f.write(f"{qid}\t{t1}\t{t5}\t{err}\n")
    print("\n".join(render_scale({q: results[q] for q in ids},
                                 args.ratio_limit, tname, args.reps)))
    return 0


# --- diff -----------------------------------------------------------

def load(path: str) -> dict:
    """One bench record: a BENCH_QUERIES.json / BENCH_PLANS.json file,
    the driver's ``{"parsed": ...}`` wrapper, or raw bench.py stdout
    (its last line)."""
    with open(path) as f:
        txt = f.read().strip()
    try:
        d = json.loads(txt)
    except json.JSONDecodeError:
        d = json.loads(txt.splitlines()[-1])
    return d.get("parsed", d)


def bench_diff(old: dict, new: dict, source: str = "bench.py") -> list[str]:
    """BENCH_DIFF.md lines for two bench records (``queries``, and when
    recorded ``spreads``, ``exhibit_queries``, ``calibration``,
    ``plan_fp``, ``plan_ops``).

    A shared headline query that got >1.3x and >0.1 s slower is flagged
    ``ambient`` when the calibration sentinel says the machine was hot
    (>1.3x the previous run's, or >2x across its own reps), ``noisy``
    when the slowdown is within either run's spread, and otherwise
    ``REGRESSED``, annotated ``(plan-unchanged)`` when its plan
    fingerprint equals the previous run's. New, exhibit and dropped ids
    and every moved plan follow the table."""
    old_q, timings = old.get("queries", {}), new.get("queries", {})
    old_sp, spreads = old.get("spreads", {}), new.get("spreads", {})
    exhibit = new.get("exhibit_queries", {})
    prev_fp, plan_fps = old.get("plan_fp", {}), new.get("plan_fp", {})
    calibration = new.get("calibration") or []
    lines = [
        f"# BENCH_DIFF (generated by {source})",
        "",
        f"sf={new.get('sf')}: previous total "
        f"{old.get('total_sec', old.get('value'))}s -> "
        f"{new.get('total_sec', new.get('value'))}s over {len(timings)} "
        f"headline queries ({len(set(timings) & set(old_q))} shared). "
        f"Medians of {new.get('reps', '?')} alternating-order reps; "
        "spread = (max-min)/median.",
        "",
    ]
    hot = False
    if calibration:
        cal_med = median(calibration)
        prev_cal = old.get("calibration_med")
        cal_ratio = (cal_med / prev_cal) if prev_cal else 1.0
        cal_intra = max(calibration) / max(min(calibration), 1e-9)
        # each sample is already a min-of-2, so a 2x swing across
        # passes is a sustained load episode, not a GC hiccup
        hot = cal_ratio > 1.3 or cal_intra > 2.0
        lines.append(
            f"Calibration sentinel (fixed-cost JVM agg): reps "
            f"{calibration}, median {cal_med:.3f}s vs previous "
            f"{prev_cal if prev_cal is not None else 'n/a'} "
            f"(ratio {cal_ratio:.2f}, intra-run {cal_intra:.2f}) -> "
            + ("AMBIENT CONTENTION: REGRESSED flags suppressed to "
               "'ambient'." if hot else "machine comparable; flags are "
               "meaningful."))
    else:
        lines.append("Calibration sentinel: not recorded; flags are not "
                     "checked against ambient load.")
    lines += [
        "",
        "| query | prev s | now s | ratio | spread | flag |",
        "|---|---|---|---|---|---|",
    ]
    flagged = 0
    rows = []
    for qid in sorted(set(timings) & set(old_q)):
        o, n2 = old_q[qid], timings[qid]
        ratio = n2 / o if o > 0 else float("inf")
        noise = max(spreads.get(qid, 0.0), old_sp.get(qid, 0.0))
        flag = ""
        if ratio > 1.3 and n2 - o > 0.1:
            if hot:
                flag = "ambient"
            elif ratio - 1.0 <= noise:
                flag = "noisy"
            elif prev_fp.get(qid) is not None \
                    and prev_fp.get(qid) == plan_fps.get(qid):
                flag = "REGRESSED(plan-unchanged)"
            else:
                flag = "REGRESSED"
        flagged += flag.startswith("REGRESSED")
        rows.append((ratio, f"| {qid} | {o:.3f} | {n2:.3f} | "
                            f"{ratio:.2f} | {spreads.get(qid, 0):.2f}"
                            f" | {flag} |"))
    for _, line in sorted(rows, key=lambda t: -t[0]):
        lines.append(line)
    new_ids = sorted(set(timings) - set(old_q))
    if new_ids:
        lines += ["", "New queries: " + ", ".join(
            f"{q} ({timings[q]:.3f}s)" for q in new_ids)]
    if exhibit:
        lines += ["", "Exhibit (relational twins; benched, not in "
                      "the headline total): " + ", ".join(
                          f"{q} ({exhibit[q]:.3f}s)"
                          for q in sorted(exhibit))]
    moved = sorted(set(old_q) - set(timings) - set(exhibit))
    if moved:
        lines += ["", "Dropped from headline: " + ", ".join(moved)]
    lines += ["", f"Flagged REGRESSED (>1.3x, >0.1s, beyond both "
                  f"runs' spread, calibration-clean): {flagged}"]
    ops_o, ops_n = old.get("plan_ops", {}), new.get("plan_ops", {})
    moved_ops, reshaped = [], []
    for qid in sorted(set(prev_fp) & set(plan_fps)):
        if prev_fp[qid] == plan_fps[qid]:
            continue
        oc, nc = ops_o.get(qid) or {}, ops_n.get(qid) or {}
        moves = ", ".join(f"{k} {oc[k]}→{v}" for k, v in nc.items()
                          if k in oc and oc[k] != v)
        if moves:
            moved_ops.append(f"- {qid}: {moves}")
        else:
            reshaped.append(qid)
    if moved_ops:
        lines += ["", "Plan counters moved since the previous run:",
                  *moved_ops]
    if reshaped:
        lines += ["", "Plan reshaped, counters unchanged or not recorded: "
                  + ", ".join(reshaped)]
    return lines


def cmd_diff(args) -> int:
    if len(args.files) not in (2, 4):
        raise SystemExit("diff takes OLD NEW [OLD_PLANS NEW_PLANS]")
    old, new = (load(p) for p in args.files[:2])
    if len(args.files) == 4:
        old = {**load(args.files[2]), **old}
        new = {**load(args.files[3]), **new}
    print("\n".join(bench_diff(old, new, "scripts/profiler.py diff")))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")

    t = sub.add_parser("time")
    t.add_argument("qids", nargs="+")
    t.add_argument("--reps", type=int, default=3)
    t.add_argument("--sf-dir", default=sf or os.path.join(TESTDATA, "sf0.1"))
    t.add_argument("--plans-dir")
    t.add_argument("--suffix", default="before")
    t.add_argument("--out-dir")
    t.set_defaults(run=cmd_time)

    p = sub.add_parser("plans")
    p.add_argument("--sf-dir", default=sf or os.path.join(TESTDATA, "sf0.01"))
    p.set_defaults(run=cmd_plans)

    s = sub.add_parser("scale")
    s.add_argument("--reps", type=int, default=3)
    s.add_argument("--top", type=int, default=15)
    s.add_argument("--ids", default="")
    s.add_argument("--all-batch", action="store_true")
    s.add_argument("--target",
                   default=os.path.join(REPO, ".localdata", "sf0.5"))
    s.add_argument("--resume-file", default="")
    s.add_argument("--ratio-limit", type=float, default=7.5)
    s.add_argument("--table", default="")
    s.add_argument("limit", nargs="?", type=float)
    s.set_defaults(run=cmd_scale)

    d = sub.add_parser("diff")
    d.add_argument("files", nargs="+", metavar="OLD NEW [OLD_PLANS NEW_PLANS]")
    d.set_defaults(run=cmd_diff)

    args = ap.parse_args()
    return args.run(args)


if __name__ == "__main__":
    raise SystemExit(main())
