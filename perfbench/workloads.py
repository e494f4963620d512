"""The three benchmark workloads.

Each is a closed loop with one client, this process: the next operation
starts when the previous one returned. A run goes

    prepare (seeded inputs, untimed) → start (after set-up) → cold (the
    first pass, reported as ``first_pass_s``) → measure (passes until the
    requested seconds are used) → check (outputs against an oracle,
    untimed)

What one "pass" and one "batch" are differs per workload:

=============== ======================== ============================
workload        pass                     batch
=============== ======================== ============================
cdc_catchup     one backlog drain        one micro-batch (10k rows)
backfill_range  one ``run_backfill`` call the same call
query_mix       one pass over ``IDS``    one id: its median over passes
=============== ======================== ============================

Program modules are imported in ``load``, so that their import time falls
inside the measured set-up.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
from tracing import SparkCounters, Tracer, add_counts

DRAIN_TIMEOUT_S = 60
MAX_FAILED_PASSES = 3


def pct(values: list[float], q: float) -> float:
    return float(np.percentile(values, q)) if values else 0.0


@dataclass
class Result:
    """What a workload hands back: end-to-end values, per-layer values
    (traced runs only) and the sample count behind each."""

    end_to_end: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    samples: dict[str, int] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)


class Workload:
    name = ""
    # read Spark counters around each measured pass (query_mix reads them
    # around each query instead)
    COUNT_PER_PASS = True
    # measured passes run until the requested seconds are used, and at
    # least this many
    MIN_PASSES = 2

    def __init__(self, root: str, inputs_root: str, run_dir: str, seed: int,
                 trace: bool) -> None:
        self.root, self.seed = root, seed
        self.inputs_root, self.run_dir = inputs_root, run_dir
        self.tracer = Tracer() if trace else None
        self.counters: SparkCounters | None = None
        self.spark = None
        self.result = Result()
        self.window: dict[str, float] = {}   # counter totals, measured passes
        self.window_spans = 0                # first span index of the window
        self.cold_s = 0.0
        self.pass_s: list[float] = []
        self.batch_s: list[float] = []

    # -- lifecycle -------------------------------------------------------
    def prepare(self) -> None:
        raise NotImplementedError

    def load(self) -> None:
        """Import the program modules the workload calls; runs inside the
        measured set-up."""

    def start(self, spark) -> None:
        self.spark = spark
        if self.tracer is not None:
            self.counters = SparkCounters(spark, self.tracer)
            self.instrument()

    def instrument(self) -> None:
        """Install the traced run's wrappers."""

    def one_pass(self) -> float:
        """Run one pass; return its seconds."""
        raise NotImplementedError

    def cold(self) -> None:
        self.cold_s = self.guarded_pass() or 0.0
        self.after_cold()

    def after_cold(self) -> None:
        """Reset per-pass records so only measured passes count."""

    def guarded_pass(self) -> float | None:
        """``one_pass``, with an exception counted as one failed operation
        instead of ending the run."""
        try:
            return self.one_pass()
        except Exception as exc:  # noqa: BLE001 — counted and reported
            self.result.attempted += 1
            self.result.failed += 1
            self.result.notes.append(f"{self.name} pass: {exc!r}"[:300])
            if self.result.failed > MAX_FAILED_PASSES:
                raise
            return None

    def measure(self, seconds: float) -> None:
        if self.tracer is not None:
            self.window_spans = len(self.tracer.spans)
            self.window_overhead = self.tracer.overhead_s
        deadline = time.perf_counter() + seconds
        while (len(self.pass_s) < self.MIN_PASSES
               or time.perf_counter() < deadline):
            mark = (self.counters.mark()
                    if self.counters and self.COUNT_PER_PASS else None)
            secs = self.guarded_pass()
            if secs is not None:
                self.pass_s.append(secs)
            if mark is not None:
                add_counts(self.window, self.counters.since(mark))
        if self.tracer is not None:
            # the check calls the program too; keep its calls out of the trace
            self.tracer.restore()

    def check(self) -> None:
        raise NotImplementedError

    # -- metrics ---------------------------------------------------------
    def rows_and_seconds(self) -> tuple[float, float]:
        """(rows, seconds) behind ``rows_per_s``."""
        raise NotImplementedError

    def pass_seconds(self) -> float:
        return statistics.median(self.pass_s)

    def batch_seconds(self) -> list[float]:
        """The values behind ``batch_p50_s`` and ``batch_p95_s``."""
        return self.batch_s

    def end_to_end(self) -> None:
        r = self.result
        rows, secs = self.rows_and_seconds()
        batches = self.batch_seconds()
        e2e = {
            "rows_per_s": rows / secs,
            "batch_p50_s": pct(batches, 50),
            "batch_p95_s": pct(batches, 95),
            "pass_s": self.pass_seconds(),
            "first_pass_s": self.cold_s,
        }
        r.end_to_end.update(e2e)
        n = len(self.pass_s)
        r.samples.update(rows_per_s=n, batch_p50_s=len(batches),
                         batch_p95_s=len(batches), pass_s=n,
                         first_pass_s=1)

    def layer_metrics(self) -> dict[str, float]:
        """Workload-specific per-layer values (traced runs)."""
        return {}

    def per_layer(self, names: list[str]) -> None:
        """Fill every per-layer metric in ``names``; a layer this workload
        leaves idle reads 0."""
        n = len(self.pass_s)
        w = self.window
        vals = {
            "spark.executor_run_s": w.get("executor_run_s", 0) / n,
            "spark.tasks": w.get("tasks", 0) / n,
            "spark.shuffle_write_mb": w.get("shuffle_write_mb", 0) / n,
            "jvm.gc_s": w.get("gc_s", 0) / n,
        }
        for layer, secs in self.tracer.self_time_by_layer(
                self.window_spans).items():
            vals[f"self.{layer}_s"] = secs / n
        vals.update(self.layer_metrics())
        overhead = self.tracer.overhead_s - self.window_overhead
        vals["trace.overhead_s"] = overhead
        vals["trace.overhead_share"] = overhead / sum(self.pass_s)
        vals["trace.pass_s"] = self.pass_seconds()
        for k in names:
            self.result.per_layer[k] = float(vals.get(k, 0.0))
            self.result.samples[k] = n

    def spans(self, name: str):
        return self.tracer.named(name, self.window_spans)


# ---------------------------------------------------------------------------
class CdcCatchup(Workload):
    """Drain a backlog of 10,000-row event files with
    ``run_tenant_stream(available_now=True, max_files_per_trigger=1)``.
    Each drain is a fresh tenant (source, checkpoint, sinks) over files of a
    seeded pool: ``COLD_FILES`` for the cold drain (the first micro-batch
    after start-up, end to end), ``DRAIN_FILES`` for each measured one."""

    name = "cdc_catchup"
    POOL_FILES = 12
    COLD_FILES = 1
    DRAIN_FILES = 3
    ROWS_PER_FILE = 10_000     # the reference's MAX_BATCH_SIZE
    CUSTOMERS = 2_000

    def prepare(self) -> None:
        self.inputs = gen.cached(
            self.inputs_root, "cdc", self.seed,
            gen.write_cdc_backlog, self.POOL_FILES, self.ROWS_PER_FILE,
            self.CUSTOMERS)
        ev = os.path.join(self.inputs, "events")
        self.files = sorted(os.path.join(ev, f) for f in os.listdir(ev))
        self.file_rows = {f: pq.ParquetFile(f).metadata.num_rows
                          for f in self.files}
        self.drains: list[dict] = []   # completed drains, in order
        self.started = self.next_file = self.cold_drains = 0
        self.cold_done = False

    def load(self) -> None:
        from mongo_to_clickhouse_spark import io
        from mongo_to_clickhouse_spark.config import TenantConfig
        from mongo_to_clickhouse_spark.streaming import pipeline

        self.io, self.pipeline, self.TenantConfig = io, pipeline, TenantConfig

    def start(self, spark) -> None:
        self.customer = self.io.load_table(spark, self.inputs, "customer")
        super().start(spark)

    def instrument(self) -> None:
        from mongo_to_clickhouse_spark.sinks import writers

        t, p = self.tracer, self.pipeline
        t.wrap(p, "run_tenant_stream", "streaming")
        t.wrap(p, "dual_write_batch", "sinks")
        t.wrap(p, "optout_dim", "plans")
        t.wrap(p, "optout_active", "plans")
        t.wrap(writers, "insert_batch", "sinks")

    def one_pass(self) -> float:
        k = self.started
        self.started += 1
        n = self.DRAIN_FILES if self.cold_done else self.COLD_FILES
        files = [self.files[(self.next_file + i) % len(self.files)]
                 for i in range(n)]
        self.next_file += n
        d = os.path.join(self.run_dir, f"drain{k}")
        src = os.path.join(d, "source")
        os.makedirs(src)
        for f in files:
            os.link(f, os.path.join(src, os.path.basename(f)))
        tenant = self.TenantConfig(
            name="t1", source_path=src,
            sink_main_path=os.path.join(d, "main"),
            sink_optout_path=os.path.join(d, "optout"),
            checkpoint_path=os.path.join(d, "checkpoint"),
            dlq_path=os.path.join(d, "dlq"))
        span = None
        if self.tracer is not None:
            span = self.tracer.open("drain", "streaming")
            self.tracer.detached_parent = span
        t0 = time.perf_counter()
        q = self.pipeline.run_tenant_stream(
            self.spark, tenant, self.customer, available_now=True,
            max_files_per_trigger=1)
        done = q.awaitTermination(DRAIN_TIMEOUT_S)
        secs = time.perf_counter() - t0
        if span is not None:
            self.tracer.close(span)
            self.tracer.detached_parent = None
        if not done:
            q.stop()
            raise TimeoutError(f"drain {k} did not finish in "
                               f"{DRAIN_TIMEOUT_S}s")
        if q.exception() is not None:
            raise RuntimeError(f"drain {k} failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.drains.append({
            "files": files, "tenant": tenant, "seconds": secs,
            "rows": sum(self.file_rows[f] for f in files),
            "progress": progress})
        self.batch_s += [p["durationMs"]["triggerExecution"] / 1e3
                         for p in progress]
        return secs

    def after_cold(self) -> None:
        self.batch_s = []
        self.cold_drains = len(self.drains)
        self.cold_done = True

    def measured_drains(self) -> list[dict]:
        return self.drains[self.cold_drains:]

    def rows_and_seconds(self) -> tuple[float, float]:
        ds = self.measured_drains()
        return sum(d["rows"] for d in ds), sum(d["seconds"] for d in ds)

    def check(self) -> None:
        import duckdb

        import oracles

        con = duckdb.connect()
        customer = os.path.join(self.inputs, "customer.parquet")
        dlq = 0
        for d in self.drains:
            oracles.expected_routing(con, customer, d["files"])
            t = d["tenant"]
            bad = oracles.routing_failures(
                con, t.sink_main_path, t.sink_optout_path, t.dlq_path)
            dlq += bad["dlq_rows"]
            self.result.attempted += d["rows"]
            self.result.failed += sum(bad.values())
            if any(bad.values()):
                self.result.notes.append(f"{t.source_path}: {bad}")
        self.dlq_rows = dlq
        con.close()

    def layer_metrics(self) -> dict[str, float]:
        ds = self.measured_drains()
        prog = [p for d in ds for p in d["progress"]]
        n = len(prog)
        dur = [p["durationMs"] for p in prog]

        def mean_ms(*keys):
            return sum(x.get(k, 0) for x in dur for k in keys) / n / 1e3

        dims = self.spans("optout_dim") + self.spans("optout_active")
        inserts = self.spans("insert_batch")
        return {
            "source.latest_offset_s": mean_ms("latestOffset"),
            "source.reads_per_row": sum(p["numInputRows"] for p in prog)
            / sum(d["rows"] for d in ds),
            "streaming.planning_s": mean_ms("queryPlanning"),
            "streaming.commit_s": mean_ms("walCommit", "commitOffsets"),
            "streaming.jobs_per_batch": self.window.get("jobs", 0) / n,
            "plans.dim_build_s": sum(s.seconds for s in dims) / n,
            "sinks.write_s": sum(s.seconds for s in
                                 self.spans("dual_write_batch")) / n,
            "sinks.attempts_per_batch": sum(s.result or 0 for s in inserts)
            / max(1, len(inserts)),
            "sinks.dlq_rows": self.dlq_rows,
        }


# ---------------------------------------------------------------------------
class BackfillRange(Workload):
    """``run_backfill`` over the middle half of a 30-day, ts-ordered,
    multi-row-group events file, repeated in one session."""

    name = "backfill_range"
    # a call costs about 2 s at any input size, so a run fits few of them;
    # three make pass_s a median that drops one outlier
    MIN_PASSES = 3
    ROWS = 200_000
    CUSTOMERS = 2_000
    SPAN_DAYS = 30
    START, END = "2024-01-08T00:00", "2024-01-23T00:00"

    def prepare(self) -> None:
        self.inputs = gen.cached(
            self.inputs_root, "backfill", self.seed,
            gen.write_backfill_source, self.ROWS, self.CUSTOMERS,
            self.SPAN_DAYS)
        self.calls: list = []

    def load(self) -> None:
        from mongo_to_clickhouse_spark.config import TenantConfig
        from mongo_to_clickhouse_spark.plans import backfill

        self.backfill, self.TenantConfig = backfill, TenantConfig

    def instrument(self) -> None:
        t, b = self.tracer, self.backfill
        t.wrap(b, "run_backfill", "plans")
        t.wrap(b, "insert_batch", "sinks")
        t.wrap(b, "load_table", "io")
        t.wrap(b, "optout_dim", "plans")
        t.wrap(b, "optout_active", "plans")

    def one_pass(self) -> float:
        # each call writes its own sinks, so every call's output is checked
        d = os.path.join(self.run_dir, f"call{len(self.calls)}")
        tenant = self.TenantConfig(
            name="t1", source_path=self.inputs,
            sink_main_path=os.path.join(d, "main"),
            sink_optout_path=os.path.join(d, "optout"),
            checkpoint_path=os.path.join(d, "checkpoint"),
            dlq_path=os.path.join(d, "dlq"))
        t0 = time.perf_counter()
        stats = self.backfill.run_backfill(
            self.spark, tenant, self.inputs, self.START, self.END)
        secs = time.perf_counter() - t0
        self.calls.append((stats, secs, tenant))
        self.batch_s.append(secs)
        return secs

    def after_cold(self) -> None:
        self.batch_s = []

    def rows_and_seconds(self) -> tuple[float, float]:
        measured = self.calls[-len(self.pass_s):]
        return (sum(s.processed_docs for s, _, _ in measured),
                sum(secs for _, secs, _ in measured))

    def check(self) -> None:
        import duckdb

        import oracles

        con = duckdb.connect()
        events = os.path.join(self.inputs, "events.parquet")
        lo, hi = (self.START.replace("T", " ") + ":00",
                  self.END.replace("T", " ") + ":00")
        oracles.expected_routing(
            con, os.path.join(self.inputs, "customer.parquet"), [events],
            (lo, hi))
        expect_main, expect_optout = oracles.expected_counts(con)
        self.in_range = con.execute(
            "SELECT count(*) FROM read_parquet(?) WHERE ts BETWEEN ? AND ?",
            [events, lo, hi]).fetchone()[0]
        skipped = self.in_range - expect_main - expect_optout
        for k, (stats, _, t) in enumerate(self.calls):
            bad = oracles.routing_failures(
                con, t.sink_main_path, t.sink_optout_path, t.dlq_path)
            bad["processed_docs"] = abs(
                stats.processed_docs - expect_main - expect_optout)
            bad["failed_docs"] = abs(stats.failed_docs - skipped)
            self.result.attempted += self.in_range
            self.result.failed += sum(bad.values())
            if any(bad.values()):
                self.result.notes.append(f"backfill call {k}: {bad}")
        con.close()

    def layer_metrics(self) -> dict[str, float]:
        n = len(self.pass_s)
        return {
            "backfill.call_s": sum(
                s.seconds for s in self.spans("run_backfill")) / n,
            "backfill.insert_s": sum(
                s.seconds for s in self.spans("insert_batch")) / n,
            "io.rows_read_per_row_in_range":
                self.window.get("input_rows", 0) / (self.in_range * n),
        }


# ---------------------------------------------------------------------------
class QueryMix(Workload):
    """A fixed list of registry ids over a seeded fixture, each materialized
    with a noop write: one cold pass, then warm passes."""

    name = "query_mix"
    COUNT_PER_PASS = False
    # three samples per query, so each query's median drops one outlier
    MIN_PASSES = 3
    IDS = (
        "tpch_q5_local_supplier_volume",
        "dedup_minhash_lsh_pairs",
        "emb_covariance",
        "graph_pagerank",
    )

    def prepare(self) -> None:
        self.inputs = gen.cached(
            self.inputs_root, "query", self.seed,
            gen.write_query_fixture)
        self.per_query: dict[str, list[tuple[float, float, float]]] = {
            q: [] for q in self.IDS}

    def load(self) -> None:
        from mongo_to_clickhouse_spark import queries as registry

        self.registry_mod = registry
        self.reg = registry.registry()

    def instrument(self) -> None:
        # io.load_table as each query module binds it
        for mod in self.registry_mod._MODULES:
            if hasattr(mod, "load_table"):
                self.tracer.wrap(mod, "load_table", "io")

    def _timed(self, name: str, layer: str, fn):
        t0 = time.perf_counter()
        if self.tracer is None:
            out = fn()
        else:
            span = self.tracer.open(name, layer)
            try:
                out = fn()
            finally:
                self.tracer.close(span)
        return out, time.perf_counter() - t0

    def one_pass(self) -> float:
        total = 0.0
        for qid in self.IDS:
            mark = self.counters.mark() if self.counters else None
            df, build = self._timed(f"{qid}.build", "queries",
                                    lambda: self.reg[qid][0](self.spark,
                                                             self.inputs))
            plan = 0.0
            if self.tracer is not None:
                _, plan = self._timed(
                    f"{qid}.plan", "spark",
                    lambda: df._jdf.queryExecution().executedPlan())
            _, run = self._timed(
                f"{qid}.exec", "spark",
                lambda: df.write.format("noop").mode("overwrite").save())
            self.per_query[qid].append((build, plan, run))
            total += build + plan + run
            if mark is not None:
                add_counts(self.window, self.counters.since(mark))
        return total

    def after_cold(self) -> None:
        self.per_query = {q: [] for q in self.IDS}
        self.window = {}

    def batch_seconds(self) -> list[float]:
        """Each id's median time across the warm passes. A percentile over
        every single execution would, with a few passes, be the one slowest
        execution of the slowest id."""
        return [statistics.median(b + p + e for b, p, e in v)
                for v in self.per_query.values()]

    def pass_seconds(self) -> float:
        """Sum over the ids of each id's median time across the warm
        passes."""
        return sum(self.batch_seconds())

    def rows_and_seconds(self) -> tuple[float, float]:
        return self.result_rows, self.pass_seconds()

    def check(self) -> None:
        import oracles

        oh = oracles.query_oracle(self.root)
        con = oh.duck_connection(self.inputs)
        self.result_rows = 0
        for qid in self.IDS:
            fn, sql = self.reg[qid]
            self.result.attempted += 1
            try:
                rec = oh.compare_detailed(fn(self.spark, self.inputs), con,
                                          sql)
            except Exception as exc:  # noqa: BLE001 — counted, reported
                self.result.failed += 1
                self.result.notes.append(f"{qid}: {exc!r}"[:300])
                continue
            self.result_rows += rec["spark_rows"] or 0
            if not rec["hash_match"]:
                self.result.failed += 1
                self.result.notes.append(f"{qid}: {rec['problems']}")
        con.close()

    def layer_metrics(self) -> dict[str, float]:
        n = len(self.pass_s)
        vals = {
            "query.build_s": sum(b for v in self.per_query.values()
                                 for b, _, _ in v) / n,
            "query.plan_s": sum(p for v in self.per_query.values()
                                for _, p, _ in v) / n,
            "query.exec_s": sum(e for v in self.per_query.values()
                                for _, _, e in v) / n,
            "query.jobs": self.window.get("jobs", 0) / n,
            "query.tasks": self.window.get("tasks", 0) / n,
            "query.shuffle_write_mb":
                self.window.get("shuffle_write_mb", 0) / n,
            "query.cold_extra_s": self.cold_s - self.pass_seconds(),
        }
        for qid, v in self.per_query.items():
            for i, part in enumerate(("build", "plan", "exec")):
                vals[f"query.{qid}.{part}_s"] = statistics.median(
                    x[i] for x in v)
        return vals


WORKLOADS = {w.name: w for w in (CdcCatchup, BackfillRange, QueryMix)}
