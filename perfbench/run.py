"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 8 \
        --trace 0

runs one workload against the program in the checkout around this file
and prints a table of every metric (value, unit, sample count) followed,
as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` is a separate traced run that reports its per-layer metrics.

``--workload all`` runs every workload, one process each, and prints all
their tables. ``--steady N`` runs a workload N times with seeds
``seed .. seed+N-1`` and prints each end-to-end metric's median, quartiles
and range; it exits 1 when a metric's quartile spread, as a share of its
median, exceeds that metric's bound, or when any run is incorrect.

The run environment is pinned here, before Spark starts: see ``pin_env``.
All files the run writes stay under ``perfbench/.work`` in the checkout,
and every process the run starts has ended before it exits: see
``reap_all``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# Pinned driver heap, so memory figures compare between runs and machines;
# 2g holds every workload with room to spare.
DRIVER_MEM = "2g"
# a run that has not finished by then raises, stops Spark and exits non-zero
RUN_TIMEOUT_S = 170


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpus() -> int:
    """All usable cores but one, which is left to this driver process."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def pin_env(run_dir: str) -> dict[str, str]:
    """Fix everything the program reads from the environment, and keep all
    temporary files inside the checkout. Python workers need the checkout
    on PYTHONPATH to import the package."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    for k in ("SPARK_GRAFT_TUNING", "SPARK_GRAFT_STATE_STORE",
              "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(k, None)
    import tempfile

    tempfile.tempdir = None
    return pinned


def retained_mb(spark) -> float:
    """Memory the session keeps: JVM heap in use after a full collection,
    plus JVM non-heap in use (metaspace, code cache), plus this Python
    process's peak resident set."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = (mem.getHeapMemoryUsage().getUsed()
            + mem.getNonHeapMemoryUsage().getUsed())
    python_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return used / 2**20 + python_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: it quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process rather than
    to init, so that ``reap_all`` can wait for them: PySpark's Python
    worker daemon, for one, outlives the JVM that started it by a moment."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1,
                                            0, 0, 0)


def children() -> list[int]:
    me = os.getpid()
    pids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            pids.append(int(d))
    return pids


def reap_all(grace_s: float = 5.0) -> None:
    """Wait until no process started by this one, directly or not, is left.
    One still running after ``grace_s`` seconds is killed, then waited for."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in children():
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class RunTimeout(BaseException):
    """Not an ``Exception``, so that no per-pass handler swallows it."""


def _timeout(signum, frame):
    raise RunTimeout(f"run exceeded {RUN_TIMEOUT_S} s")


def run_one(args, spec: dict) -> dict:
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_TIMEOUT_S)
    sys.path[:0] = [HERE, ROOT]
    import workloads

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    pinned = pin_env(run_dir)
    wl = workloads.WORKLOADS[args.workload](
        ROOT, os.path.join(WORK, "inputs"), os.path.join(run_dir, "work"),
        args.seed, bool(args.trace))
    phases = [("start", time.perf_counter())]
    try:
        wl.prepare()
        # set-up: imports, session, first job
        t0 = time.perf_counter()
        phases.append(("prepare", t0))
        from mongo_to_clickhouse_spark.session import get_spark

        wl.load()
        t1 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                "spark.driver.extraJavaOptions":
                    "-Djava.io.tmpdir=" + pinned["TMPDIR"],
            })
        t2 = time.perf_counter()
        spark.range(1).count()
        t3 = time.perf_counter()
        phases.append(("setup", t3))
        try:
            wl.start(spark)
            wl.cold()
            phases.append(("cold", time.perf_counter()))
            wl.measure(args.seconds)
            phases.append(("measure", time.perf_counter()))
            # before the check, whose DuckDB work is not the program's
            retained = retained_mb(spark)
            wl.check()
            phases.append(("check", time.perf_counter()))
            wl.end_to_end()
            r = wl.result
            r.end_to_end.update(setup_s=t3 - t0, retained_mb=retained)
            r.samples.update(setup_s=1, retained_mb=1)
            if args.trace:
                wl.per_layer([m["name"] for m in spec["per_layer"]])
                r.per_layer["session.import_s"] = t1 - t0
                r.per_layer["session.get_spark_s"] = t2 - t1
                r.per_layer["session.first_job_s"] = t3 - t2
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        signal.alarm(0)
    phases.append(("stop", time.perf_counter()))
    print("# phases: " + ", ".join(
        f"{name} {t - prev:.1f} s"
        for (_, prev), (name, t) in zip(phases, phases[1:])))
    return report(wl, spec, args)


def report(wl, spec: dict, args) -> dict:
    r = wl.result
    kind = "per_layer" if args.trace else "end_to_end"
    values = r.per_layer if args.trace else r.end_to_end
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec[kind]}
    print(f"# {wl.name} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={cpus()} driver_mem={DRIVER_MEM}")
    print(f"{'metric':44s} {'value':>14s} {'unit':8s} {'samples':>7s}")
    for name, m in metrics.items():
        print(f"{name:44s} {m['value']:14.6g} {m['unit']:8s} "
              f"{r.samples.get(name, 0):7d}")
    # reported, not bounded: it is 0 whenever the program is correct
    share = r.failed / r.attempted if r.attempted else 1.0
    print(f"{'failed_share':44s} {share:14.6g} {'ratio':8s} "
          f"{r.attempted:7d}")
    if args.trace:
        print(f"tracing overhead: {r.per_layer['trace.overhead_s']:.4f} s, "
              f"{100 * r.per_layer['trace.overhead_share']:.2f}% of the "
              f"measured time")
    for note in r.notes:
        print(f"FAILED: {note}")
    return {"correct": r.failed == 0 and r.attempted > 0,
            "attempted": r.attempted, "failed": r.failed, "metrics": metrics}


def child(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Run one workload in a fresh process; return its result object."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, timeout=RUN_TIMEOUT_S + 60)
    sys.stdout.write(out.stdout)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def steady(args, spec: dict) -> int:
    runs = [child(args.workload, args.seed + i, args.seconds, 0)
            for i in range(args.steady)]
    bad = [i for i, r in enumerate(runs) if not r["correct"]]
    print(f"\n# steadiness: {args.workload}, {len(runs)} runs, seeds "
          f"{args.seed}..{args.seed + args.steady - 1}")
    print(f"{'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'min':>12s} {'max':>12s} {'spread':>8s} {'bound':>6s}")
    verdict = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        ok = spread <= m["bound"]
        verdict[m["name"]] = {"median": med, "spread": spread, "ok": ok}
        print(f"{m['name']:16s} {med:12.6g} {q1:12.6g} {q3:12.6g} "
              f"{min(vals):12.6g} {max(vals):12.6g} {spread:8.4f} "
              f"{m['bound']:6.3f}{'' if ok else '  OVER BOUND'}")
    if bad:
        print(f"incorrect runs: {bad}")
    print(json.dumps({"workload": args.workload, "runs": len(runs),
                      "incorrect": len(bad), "metrics": verdict}))
    return 0 if not bad and all(v["ok"] for v in verdict.values()) else 1


def main() -> int:
    become_subreaper()
    try:
        return dispatch()
    finally:
        signal.alarm(0)
        reap_all()


def dispatch() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "mongo_to_clickhouse_spark")):
        print(f"no program to benchmark: {ROOT}/mongo_to_clickhouse_spark "
              "is missing", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names + ["all"]:
        ap.error(f"--workload must be one of {names + ['all']}")
    if args.steady:
        return steady(args, spec)
    if args.workload == "all":
        results = {w: child(w, args.seed, args.seconds, args.trace)
                   for w in names}
        print(json.dumps(results))
        return 0 if all(r["correct"] for r in results.values()) else 1
    result = run_one(args, spec)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
