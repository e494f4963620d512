"""Streaming semantics tests (SURVEY §5 item 4): availableNow drain +
dual-table routing, DLQ capture/replay with an injected failing sink,
checkpoint resume without duplication, multi-tenant fanout."""

from __future__ import annotations

import logging
import os
from dataclasses import replace

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mongo_to_clickhouse_spark.config import TenantConfig
from mongo_to_clickhouse_spark.io import load_table
from mongo_to_clickhouse_spark.plans.pipeline import (
    anonymized_statements,
    optout_active,
    optout_dim,
    statements_from_events,
)
from mongo_to_clickhouse_spark.sinks.dlq import retry_failed_batches
from mongo_to_clickhouse_spark.streaming.pipeline import (
    run_multi_tenant,
    run_tenant_stream,
)

SRC = "/root/testdata/sf0.001"


def _tenant(tmp, name="t1", source=None) -> TenantConfig:
    base = os.path.join(str(tmp), name)
    return TenantConfig(
        name=name,
        source_path=source or os.path.join(base, "source"),
        sink_main_path=os.path.join(base, "main"),
        sink_optout_path=os.path.join(base, "optout"),
        checkpoint_path=os.path.join(base, "checkpoint"),
        dlq_path=os.path.join(base, "dlq"),
        max_retries=2,
        initial_retry_delay_sec=0.01,
    )


def _stage_events(dest_dir: str, parts: int = 1) -> list[str]:
    """Copy the fixture events parquet into a staging dir, optionally split
    into row-slices (one file per part) for incremental-arrival tests.
    Normalized through the same seam as the production staging helper so a
    fixture-encoding change cannot silently skew these tests."""
    from mongo_to_clickhouse_spark.streaming.util import normalize_events_ts

    os.makedirs(dest_dir, exist_ok=True)
    table = normalize_events_ts(pq.read_table(os.path.join(SRC, "events.parquet")))
    n = table.num_rows
    paths = []
    for i in range(parts):
        lo = i * n // parts
        hi = (i + 1) * n // parts
        p = os.path.join(dest_dir, f"part{i}.parquet")
        pq.write_table(table.slice(lo, hi - lo), p)
        paths.append(p)
    return paths


def _expected_counts(spark):
    events = load_table(spark, SRC, "events")
    customer = load_table(spark, SRC, "customer")
    anon = anonymized_statements(statements_from_events(events, customer))
    active = optout_active(optout_dim(customer))
    dim = active.select(F.col("hashed_moodle_id").alias("hashed_value"))
    total = anon.count()
    optout_n = anon.join(dim, "hashed_value", "left_semi").count()
    return total, total - optout_n, optout_n


def _job_descriptions(spark, first_job: int, writes_only: bool = False) -> list:
    """Descriptions of the jobs since ``first_job``, read from the status
    store (the store is fed asynchronously, so drain the bus first);
    ``writes_only`` keeps the jobs with a stage that wrote output rows."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()

    def rows_written(sid: int) -> int:
        try:
            return store.lastStageAttempt(sid).outputRecords()
        except Py4JJavaError:  # never submitted
            return 0

    descs = []
    for jid in range(first_job, sc.dagScheduler().numTotalJobs()):
        j = store.job(jid)
        sids = j.stageIds()
        if writes_only and not any(
                rows_written(sids.apply(i)) for i in range(sids.size())):
            continue
        d = j.description()
        descs.append(None if d.isEmpty() else d.get())
    return descs


def test_stream_drain_and_route(spark, tmp_path):
    t = _tenant(tmp_path)
    staged = _stage_events(t.source_path)
    customer = load_table(spark, SRC, "customer")

    first_job = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
    q = run_tenant_stream(spark, t, customer, available_now=True)
    q.awaitTermination(120)

    # the batch is routed once and both sinks write from that snapshot:
    # the source is read once per row, not once per sink
    staged_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in staged)
    assert sum(p["numInputRows"] for p in q.recentProgress) == staged_rows
    # the sink jobs carry the tenant and batch id
    assert f"{t.name} batch 0" in _job_descriptions(spark, first_job)

    total, main_n, optout_n = _expected_counts(spark)
    main = spark.read.parquet(t.sink_main_path)
    optout = spark.read.parquet(t.sink_optout_path)
    assert main.count() == main_n
    assert optout.count() == optout_n
    assert "created_at" in main.columns
    # anonymization write-back reached the sink: statement JSON carries the
    # hash, never the raw actor name
    row = main.select("statement", "hashed_value").first()
    assert row["hashed_value"] in row["statement"]


def test_stream_output_equals_batch_values(spark, tmp_path):
    """VALUE-level stream ≡ batch equivalence for the flagship: the rows
    the streaming pipeline lands must equal the batch transform's rows
    exactly — not just in count. Rows-only driver checks can't see silent
    value corruption (round 2: every streamed timestamp was 1970-dated
    while counts stayed perfect), so this pins it, plus an explicit
    magnitude canary on the formatted timestamps."""
    from mongo_to_clickhouse_spark.plans.pipeline import cdc_transform

    t = _tenant(tmp_path, name="eq")
    _stage_events(t.source_path)
    customer = load_table(spark, SRC, "customer")
    q = run_tenant_stream(spark, t, customer, available_now=True)
    q.awaitTermination(120)

    cols = ["id", "statement", "timestamp", "hashed_value"]
    streamed = {
        tuple(r) for r in
        spark.read.parquet(t.sink_main_path).select(*cols).collect()
    }
    batch = {
        tuple(r) for r in
        cdc_transform(load_table(spark, SRC, "events"), customer)
        .select(*cols).collect()
    }
    assert streamed == batch
    assert all(r[2].startswith("2024") for r in streamed)


def test_dlq_capture_and_replay(spark, tmp_path, caplog):
    t = _tenant(tmp_path)
    _stage_events(t.source_path)
    customer = load_table(spark, SRC, "customer")

    def always_fail(df, batch_id):
        raise RuntimeError("sink down")

    caplog.set_level(logging.ERROR, logger="mongo_to_clickhouse_spark.sinks")
    q = run_tenant_stream(
        spark, t, customer, available_now=True, fail_injector=always_fail
    )
    q.awaitTermination(120)

    assert not os.path.isdir(t.sink_main_path)  # nothing reached the sink
    # every capture leaves a record naming tenant and batch, with the cause
    captures = [r for r in caplog.records
                if r.name == "mongo_to_clickhouse_spark.sinks.writers"]
    assert captures
    for r in captures:
        assert r.args[0] == t.name and isinstance(r.args[1], int)
        assert r.exc_info and "sink down" in str(r.exc_info[1])
    dlq = spark.read.parquet(t.dlq_path)
    total, main_n, optout_n = _expected_counts(spark)
    assert dlq.count() == total

    # replay with the sink still down: batch must STAY queued, and each
    # kept batch leaves a record naming tenant and batch, with the cause
    active = optout_active(optout_dim(customer))
    caplog.clear()
    assert retry_failed_batches(spark, t, active, fail_injector=always_fail) == 0
    assert spark.read.parquet(t.dlq_path).count() == total
    kept = [r for r in caplog.records
            if r.name == "mongo_to_clickhouse_spark.sinks.dlq"]
    assert kept
    for r in kept:
        assert r.args[0] == t.name and isinstance(r.args[1], int)
        assert r.exc_info and "sink down" in str(r.exc_info[1])

    # sink recovers: replay drains the queue and the data lands routed
    drained = retry_failed_batches(spark, t, active)
    assert drained >= 1
    assert spark.read.parquet(t.sink_main_path).count() == main_n
    assert spark.read.parquet(t.sink_optout_path).count() == optout_n


def test_dlq_requeue_after_checkpoint_loss_is_idempotent(spark, tmp_path):
    """Sink down, batch lands in DLQ; checkpoint wiped; Spark replays the
    batch against the still-down sink → the DLQ must hold the batch ONCE
    (idempotent overwrite), and recovery must produce exactly-once rows."""
    import shutil

    t = _tenant(tmp_path, name="requeue")
    _stage_events(t.source_path)
    customer = load_table(spark, SRC, "customer")

    def always_fail(df, batch_id):
        raise RuntimeError("sink down")

    q1 = run_tenant_stream(
        spark, t, customer, available_now=True, fail_injector=always_fail
    )
    q1.awaitTermination(120)
    total, main_n, optout_n = _expected_counts(spark)
    assert spark.read.parquet(t.dlq_path).count() == total

    shutil.rmtree(t.checkpoint_path)  # token lost while sink still down
    q2 = run_tenant_stream(
        spark, t, customer, available_now=True, fail_injector=always_fail
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(t.dlq_path).count() == total  # once, not twice

    active = optout_active(optout_dim(customer))
    assert retry_failed_batches(spark, t, active) >= 1
    assert spark.read.parquet(t.sink_main_path).count() == main_n


def _flipping_dim(customer, counts_dir):
    """An opt-out dim whose membership flips on every evaluation: the
    n-th evaluation of an active row keeps it iff n is odd (counted in a
    file per hash under ``counts_dir``), so one evaluation keeps every
    active row and a second drops them all."""
    os.makedirs(counts_dir, exist_ok=True)

    def keep(h):
        with open(os.path.join(counts_dir, h), "ab") as f:
            f.write(b".")
            return f.tell() % 2 == 1

    flip = F.udf(keep, "boolean").asNondeterministic()
    return optout_active(optout_dim(customer)).filter(flip("hashed_moodle_id"))


def test_one_optout_snapshot_per_batch(spark, tmp_path):
    """Both sinks are written from ONE evaluation of the opt-out dim: with
    a dim that changes on every evaluation, each row still lands in
    exactly one of main / opt-out (two evaluations put some rows in both
    tables and some in neither). A failing sink puts the whole batch in
    the DLQ exactly once."""
    from mongo_to_clickhouse_spark.sinks.writers import (
        dual_write_batch,
        insert_batch,
    )

    customer = load_table(spark, SRC, "customer")
    anon = anonymized_statements(
        statements_from_events(load_table(spark, SRC, "events"), customer)
    )
    ids = [r.id for r in anon.select("id").collect()]
    dim = _flipping_dim(customer, str(tmp_path / "flips"))

    t = _tenant(tmp_path, name="snap")
    assert insert_batch(anon, 0, replace(t, max_retries=1), dim) == 1
    main = [r.id for r in spark.read.parquet(t.sink_main_path).collect()]
    optout = [r.id for r in spark.read.parquet(t.sink_optout_path).collect()]
    assert sorted(main + optout) == sorted(ids)
    assert optout  # the one evaluation kept every opted-out row

    def sink_down(df, batch_id):
        raise RuntimeError("sink down")

    t = _tenant(tmp_path, name="snapdlq")
    dual_write_batch(anon, 3, t, dim, fail_injector=sink_down)
    dlq = spark.read.parquet(t.dlq_path)
    assert sorted(r.id for r in dlq.collect()) == sorted(ids)
    assert [r.batch_id for r in dlq.select("batch_id").distinct().collect()] == [3]


def test_micro_batch_writes_both_sinks_in_one_job(spark, tmp_path):
    """A one-file micro-batch lands both tables with ONE write job, tagged
    with the tenant and batch id, and leaves only the batch directories."""
    t = _tenant(tmp_path, name="onejob")
    _stage_events(t.source_path)
    first_job = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
    q = run_tenant_stream(spark, t, load_table(spark, SRC, "customer"),
                          available_now=True)
    q.awaitTermination(120)

    writes = _job_descriptions(spark, first_job, writes_only=True)
    assert writes.count(f"{t.name} batch 0") == 1
    # no staging directory is left beside the sinks
    assert sorted(os.listdir(os.path.dirname(t.sink_main_path))) == [
        "checkpoint", "main", "optout", "source"]
    for base in (t.sink_main_path, t.sink_optout_path):
        assert os.listdir(base) == ["batch_id=0"]
        assert spark.read.parquet(base).columns == [
            "id", "statement", "timestamp", "hashed_value", "created_at",
            "batch_id"]
    total, main_n, optout_n = _expected_counts(spark)
    assert spark.read.parquet(t.sink_main_path).count() == main_n
    assert spark.read.parquet(t.sink_optout_path).count() == optout_n


def test_empty_side_leaves_a_schema_only_batch_dir(spark, tmp_path):
    """A batch with no opt-out rows still leaves a readable
    ``batch_id=N`` opt-out directory holding a schema-only file, with the
    schema of a written side."""
    from mongo_to_clickhouse_spark.sinks.writers import insert_batch

    customer = load_table(spark, SRC, "customer")
    anon = anonymized_statements(
        statements_from_events(load_table(spark, SRC, "events"), customer))
    t = _tenant(tmp_path, name="empty")
    no_optouts = optout_active(optout_dim(customer)).filter(F.lit(False))
    assert insert_batch(anon, 4, t, no_optouts) == 1

    main = spark.read.parquet(t.sink_main_path)
    empty = spark.read.parquet(t.sink_optout_path)
    assert main.count() == anon.count()
    assert empty.count() == 0
    assert empty.schema == main.schema
    files = os.listdir(os.path.join(t.sink_optout_path, "batch_id=4"))
    assert "_SUCCESS" in files
    assert [pq.ParquetFile(os.path.join(t.sink_optout_path, "batch_id=4", f))
            .metadata.num_rows for f in files if f.endswith(".parquet")] == [0]


def test_failed_write_leaves_no_staged_files(spark, tmp_path, monkeypatch):
    """A write job that fails part-way leaves no sink directory and no
    staged files, and the batch lands in the DLQ exactly once."""
    from mongo_to_clickhouse_spark.plans import pipeline
    from mongo_to_clickhouse_spark.sinks import writers

    def boom(opt_out):
        if opt_out:
            raise RuntimeError("sink write failed")
        return opt_out

    fail = F.udf(boom, "boolean")
    monkeypatch.setattr(writers, "route", lambda rows, dim: pipeline.route(
        rows, dim).withColumn("opt_out", fail("opt_out")))
    customer = load_table(spark, SRC, "customer")
    anon = anonymized_statements(
        statements_from_events(load_table(spark, SRC, "events"), customer))
    t = _tenant(tmp_path, name="failed")
    writers.dual_write_batch(anon, 5, t, optout_active(optout_dim(customer)))

    assert os.listdir(os.path.dirname(t.sink_main_path)) == ["dlq"]
    dlq = spark.read.parquet(t.dlq_path)
    assert dlq.count() == anon.count()
    assert [r.batch_id for r in dlq.select("batch_id").distinct().collect()] == [5]


def test_dim_plan_built_once_per_stream(spark, tmp_path, monkeypatch):
    """A two-batch drain builds the opt-out dim plan once, not per batch,
    and still routes every row id to exactly one of main / opt-out."""
    from mongo_to_clickhouse_spark.streaming import pipeline

    builds = []

    def counted(customer, *args):
        builds.append(1)
        return optout_dim(customer, *args)

    monkeypatch.setattr(pipeline, "optout_dim", counted)
    t = _tenant(tmp_path, name="once")
    _stage_events(t.source_path, parts=2)
    q = run_tenant_stream(spark, t, load_table(spark, SRC, "customer"),
                          available_now=True)
    q.awaitTermination(120)

    main = spark.read.parquet(t.sink_main_path)
    optout = spark.read.parquet(t.sink_optout_path)
    assert main.select("batch_id").distinct().count() == 2
    assert len(builds) == 1
    ids = [r.id for r in main.union(optout).select("id").collect()]
    total, main_n, optout_n = _expected_counts(spark)
    assert len(ids) == len(set(ids)) == total
    assert (main.count(), optout.count()) == (main_n, optout_n)


def test_tenant_salt_changes_hashes_not_routing(spark, tmp_path):
    """A tenant's own salt reaches both the row hashes and the opt-out
    dim: the hashes change, the routing does not."""
    customer = load_table(spark, SRC, "customer")
    sinks = {}
    for name, salt in (("plain", "fixture-salt"), ("salted", "s3cret")):
        t = replace(_tenant(tmp_path, name=name), encryption_salt=salt)
        _stage_events(t.source_path)
        run_tenant_stream(spark, t, customer,
                          available_now=True).awaitTermination(120)
        sinks[name] = [
            {r.id: r.hashed_value for r in spark.read.parquet(p).collect()}
            for p in (t.sink_main_path, t.sink_optout_path)
        ]
    for plain, salted in zip(sinks["plain"], sinks["salted"]):
        assert plain and set(plain) == set(salted)
        assert not set(plain.values()) & set(salted.values())


def test_route_keeps_one_row_per_input_row(spark):
    """Two dim rows sharing a hash must not duplicate a routed row."""
    from mongo_to_clickhouse_spark.plans.pipeline import route

    customer = load_table(spark, SRC, "customer")
    anon = anonymized_statements(
        statements_from_events(load_table(spark, SRC, "events"), customer)
    )
    active = optout_active(optout_dim(customer))
    once = route(anon, active).groupBy("opt_out").count().collect()
    twice = route(anon, active.union(active)).groupBy("opt_out").count().collect()
    assert sorted(once) == sorted(twice)
    assert sum(r["count"] for r in twice) == anon.count()


def test_insert_retry_backoff_policy(spark, tmp_path):
    """Transient failures are retried with doubling delay; recovery within
    the budget never touches the DLQ; exhaustion raises."""
    import pytest as _pytest

    from mongo_to_clickhouse_spark.plans.pipeline import (
        anonymized_statements,
        statements_from_events,
    )
    from mongo_to_clickhouse_spark.sinks.writers import insert_batch

    t = _tenant(tmp_path, name="retry")
    customer = load_table(spark, SRC, "customer")
    events = load_table(spark, SRC, "events").limit(50)
    anon = anonymized_statements(statements_from_events(events, customer))
    active = optout_active(optout_dim(customer))

    failures = {"left": 2}

    def flaky(df, batch_id):
        if failures["left"] > 0:
            failures["left"] -= 1
            raise RuntimeError("transient")

    attempts = insert_batch(anon, 0, replace(t, max_retries=5), active, flaky)
    assert attempts == 3
    assert not os.path.isdir(t.dlq_path)

    def always(df, batch_id):
        raise RuntimeError("down")

    with _pytest.raises(RuntimeError, match="down"):
        insert_batch(anon, 1, replace(t, max_retries=3), active, always)


def test_checkpoint_resume_no_duplicates(spark, tmp_path):
    t = _tenant(tmp_path)
    os.makedirs(t.source_path, exist_ok=True)
    customer = load_table(spark, SRC, "customer")

    # stage only the first half, drain, stop
    table = pq.read_table(os.path.join(SRC, "events.parquet"))
    n = table.num_rows
    pq.write_table(table.slice(0, n // 2), os.path.join(t.source_path, "a.parquet"))
    q1 = run_tenant_stream(spark, t, customer, available_now=True)
    q1.awaitTermination(120)
    first = spark.read.parquet(t.sink_main_path).count()

    # second half arrives; restart from the SAME checkpoint
    pq.write_table(table.slice(n // 2), os.path.join(t.source_path, "b.parquet"))
    q2 = run_tenant_stream(spark, t, customer, available_now=True)
    q2.awaitTermination(120)

    main = spark.read.parquet(t.sink_main_path)
    _, main_n, _ = _expected_counts(spark)
    assert main.count() == main_n  # all rows exactly once
    assert main.count() > first
    assert main.select("id").distinct().count() == main_n  # no duplicates


def test_multi_tenant_fanout(spark, tmp_path):
    customer = load_table(spark, SRC, "customer")
    tenants = []
    for name in ("t1", "t2"):
        t = _tenant(tmp_path, name=name)
        _stage_events(t.source_path)
        tenants.append(t)
    queries = run_multi_tenant(spark, tenants, customer, available_now=True)
    for q in queries:
        q.awaitTermination(180)
    _, main_n, _ = _expected_counts(spark)
    for t in tenants:
        assert spark.read.parquet(t.sink_main_path).count() == main_n


def test_dlq_replay_after_full_drain_is_noop(spark, tmp_path):
    """A periodic replay loop must survive the cycle AFTER a full drain:
    _drop_partition leaves no empty tenant shell, and a DLQ directory
    with zero parquet files returns 0 instead of raising
    UNABLE_TO_INFER_SCHEMA."""
    t = _tenant(tmp_path, name="drainloop")
    _stage_events(t.source_path)
    customer = load_table(spark, SRC, "customer")

    def always_fail(df, batch_id):
        raise RuntimeError("sink down")

    q = run_tenant_stream(
        spark, t, customer, available_now=True, fail_injector=always_fail
    )
    q.awaitTermination(120)
    active = optout_active(optout_dim(customer))
    assert retry_failed_batches(spark, t, active) >= 1  # drains fully
    # next 60s cycle: must be a clean no-op, twice
    assert retry_failed_batches(spark, t, active) == 0
    assert retry_failed_batches(spark, t, active) == 0


def test_checkpoint_invalidation_recovery(spark, tmp_path):
    """The reference's resume-token-expired path (Mongo error 280 → clear
    token, restart from scratch, /root/reference/src/main.rs:457-501) maps
    to Spark as: checkpoint corrupted → restart against a FRESH checkpoint
    dir → the full source re-drains (at-least-once) and per-batch
    idempotent overwrite keeps the sink exactly-once."""
    import shutil

    t = _tenant(tmp_path, name="ckptloss")
    _stage_events(t.source_path)
    customer = load_table(spark, SRC, "customer")

    q1 = run_tenant_stream(spark, t, customer, available_now=True)
    q1.awaitTermination(120)
    total, main_n, optout_n = _expected_counts(spark)
    assert spark.read.parquet(t.sink_main_path).count() == main_n

    # corrupt the checkpoint (truncate the offset log) — a restart against
    # the same dir must NOT silently succeed
    offsets = os.path.join(t.checkpoint_path, "offsets")
    for f in os.listdir(offsets):
        with open(os.path.join(offsets, f), "w") as fh:
            fh.write("garbage")
    with pytest.raises(Exception):
        q2 = run_tenant_stream(spark, t, customer, available_now=True)
        q2.awaitTermination(120)
        if q2.exception() is not None:
            raise RuntimeError(q2.exception().desc)

    # recovery procedure = the reference's "clear token": fresh checkpoint
    shutil.rmtree(t.checkpoint_path)
    q3 = run_tenant_stream(spark, t, customer, available_now=True)
    q3.awaitTermination(120)
    assert q3.exception() is None
    # re-drain replayed every batch; idempotent overwrite → exactly-once
    assert spark.read.parquet(t.sink_main_path).count() == main_n
    assert spark.read.parquet(t.sink_optout_path).count() == optout_n


def test_rate_limited_trigger_batch_cap(spark, tmp_path):
    """maxFilesPerTrigger caps per-trigger intake (the declarative stand-in
    for the reference's AIMD batch sizing): 4 source files with cap 2 → 2
    micro-batches; cap 1 → 4; total rows invariant."""
    customer = load_table(spark, SRC, "customer")
    total, main_n, _ = _expected_counts(spark)
    seen = {}
    for rate, want_batches in ((2, 2), (1, 4)):
        t = _tenant(tmp_path, name=f"rate{rate}")
        _stage_events(t.source_path, parts=4)
        q = run_tenant_stream(
            spark, t, customer, available_now=True, max_files_per_trigger=rate
        )
        q.awaitTermination(120)
        sink = spark.read.parquet(t.sink_main_path)
        n_batches = sink.select("batch_id").distinct().count()
        assert n_batches == want_batches
        seen[rate] = sink.count()
    assert seen[1] == seen[2] == main_n


def test_dlq_mass_replay_job_count_is_independent_of_batch_count(spark, tmp_path):
    """A mass-outage replay of N queued batches must issue O(1) Spark
    jobs (one unioned routed write per sink + bounded control plane),
    never O(N) — the difference between a minutes-long and an hours-long
    recovery when thousands of micro-batches queued up. Pinned by
    measuring the job count at two different N: it must be EQUAL."""
    from mongo_to_clickhouse_spark.sinks.dlq import append_failed_batch

    customer = load_table(spark, SRC, "customer")
    anon = anonymized_statements(
        statements_from_events(load_table(spark, SRC, "events"), customer)
    )
    active = optout_active(optout_dim(customer))
    tracker = spark.sparkContext.statusTracker()

    def replay_jobs(n_batches: int) -> int:
        t = _tenant(tmp_path, name=f"mass{n_batches}")
        for b in range(n_batches):
            append_failed_batch(
                anon.filter(F.crc32(F.col("id")) % n_batches == b), b, t
            )
        # Count jobs in a dedicated job group: the default group also
        # receives async micro-batch jobs from streaming queries started
        # by earlier tests, which made a None-group count flaky.
        group = f"dlq-replay-{n_batches}"
        spark.sparkContext.setJobGroup(group, "dlq mass replay job count")
        try:
            assert retry_failed_batches(spark, t, active) == n_batches
        finally:
            spark.sparkContext.setJobGroup("", "")
        jobs = len(tracker.getJobIdsForGroup(group) or [])
        main = spark.read.parquet(t.sink_main_path)
        assert main.select("batch_id").distinct().count() == n_batches
        return jobs

    j_small, j_large = replay_jobs(4), replay_jobs(16)
    assert j_small == j_large, (
        f"replay job count grew with batch count ({j_small} -> {j_large}):"
        " the unioned-write path regressed to per-batch jobs"
    )
