"""Runtime-behavior query entries matching SURVEY §2's exact IDs for the
reference's streaming machinery (§2.1 + §2.8). Each runs the REAL
Structured-Streaming pipeline (availableNow) and returns a small relation
describing the observed behavior — rows-only checks by nature (SQL cannot
express "a checkpoint survived a restart").

Every id here runs the same stage → drain → release lifecycle
(``streaming/util.py``): it stages its source into a ``call_work_dir``,
drains its query (``await_drained``; ``drain_staged`` for a tenant's
``run_tenant_stream``, ``drain_to_memory`` for a memory sink), and
returns a result that no longer reads the work dir — memory-sink rows,
a ``localCheckpoint`` of what it read from the sinks, or driver-side
counts — so the dir is removed before the call returns and no temp view
is left behind. A timed-out drain keeps its dir and names it.

These complement the pytest suite (tests/test_streaming*.py), which pins
the same behaviors with assertions; here they are driver-visible.
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import replace
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mongo_to_clickhouse_spark.config import TenantConfig
from mongo_to_clickhouse_spark.io import load_table
from mongo_to_clickhouse_spark.plans.pipeline import optout_active, optout_dim
from mongo_to_clickhouse_spark.streaming.pipeline import (
    EVENTS_SCHEMA,
    run_tenant_stream,
)
from mongo_to_clickhouse_spark.streaming.util import (
    await_drained,
    call_work_dir,
    drain_events_to_memory,
    drain_to_memory,
    events_table,
    stage_batch_files,
    stage_events_source,
)


# stream_stream_outer_join time constants — the sentinel's event-time
# offset is derived from these, so changing either keeps the
# flush-everything guarantee intact (see stream_stream_outer_join).
OUTER_JOIN_WATERMARK_MIN = 30
OUTER_JOIN_WINDOW_HOURS = 1


def _tenant(work: str, name: str) -> TenantConfig:
    base = os.path.join(work, name)
    return TenantConfig(
        name=name,
        source_path=os.path.join(base, "source"),
        sink_main_path=os.path.join(base, "main"),
        sink_optout_path=os.path.join(base, "optout"),
        checkpoint_path=os.path.join(base, "ckpt"),
        dlq_path=os.path.join(base, "dlq"),
        max_retries=2,
        initial_retry_delay_sec=0.01,
    )


@contextlib.contextmanager
def drain_staged(spark: SparkSession, sf_dir: str, name: str, parts: int = 1,
                 **stream_kw) -> Iterator[tuple[TenantConfig, StreamingQuery]]:
    """In a call work dir, stage the events fixture as ``parts`` files,
    build the tenant ``name`` over them and drain its
    ``run_tenant_stream`` (availableNow, ``stream_kw`` passed on). Yields
    the tenant and the drained query; the dir goes when the block exits,
    so read the sinks inside it."""
    with call_work_dir(name) as work:
        tenant = _tenant(work, name)
        stage_events_source(sf_dir, tenant.source_path, parts=parts)
        q = run_tenant_stream(spark, tenant, load_table(spark, sf_dir, "customer"),
                              available_now=True, **stream_kw)
        await_drained(q)
        yield tenant, q


def sink_down(df: DataFrame, batch_id: int) -> None:
    raise RuntimeError("sink down")


def _batch_counts(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.parquet(path)
        .groupBy("batch_id")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("batch_id")
        .localCheckpoint()
    )


def stream_pipeline_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full streaming CDC pipeline end-to-end, and the change-stream
    tail (readStream micro-batch source standing in for collection.watch,
    src/main.rs:313-360): readStream → anonymize → foreachBatch dual-write,
    then read the main sink back."""
    with drain_staged(spark, sf_dir, "cs") as (tenant, _):
        return (spark.read.parquet(tenant.sink_main_path)
                .drop("created_at", "batch_id").localCheckpoint())


def checkpoint_resume_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume-token semantics (src/main.rs:427-439): drain file 1, then
    restart from the SAME checkpoint with file 2 present — only new data
    processed, nothing duplicated. Returns per-batch row counts (2 batches,
    disjoint, summing to the full join cardinality)."""
    with call_work_dir("ck") as work:
        tenant = _tenant(work, "ck")
        _, second = stage_events_source(sf_dir, tenant.source_path, parts=2)
        # the second half arrives after the first drain
        held = os.path.join(work, "held.parquet")
        os.rename(second, held)
        customer = load_table(spark, sf_dir, "customer")
        await_drained(run_tenant_stream(spark, tenant, customer, available_now=True))
        os.rename(held, second)
        # same checkpoint → resumes
        await_drained(run_tenant_stream(spark, tenant, customer, available_now=True))
        return _batch_counts(spark, tenant.sink_main_path)


def sink_dlq_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLQ capture (src/main.rs:918-939): sink down → the serialized batch
    lands in the dead-letter table keyed by (tenant, batch_id). Returns the
    queued batches."""
    with drain_staged(spark, sf_dir, "dlqlog", fail_injector=sink_down) as (tenant, _):
        return (
            spark.read.parquet(tenant.dlq_path)
            .groupBy("tenant", "batch_id")
            .agg(F.count("*").alias("n_rows"))
            .localCheckpoint()
        )


def metric_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throughput metric (docs/sec — the reference's adaptive-batch input,
    src/main.rs:214-228): Spark's per-query progress counters, surfaced as
    a relation."""
    with drain_staged(spark, sf_dir, "tp") as (_, q):
        progress = q.recentProgress or []
    rows = [
        Row(
            batch_id=int(p["batchId"]),
            num_input_rows=int(p["numInputRows"]),
            processed_rows_per_second=float(p["processedRowsPerSecond"]),
        )
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]
    return spark.createDataFrame(
        rows or [Row(batch_id=0, num_input_rows=0, processed_rows_per_second=0.0)]
    )


def stream_microbatch_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch assembly (count/timeout flush, src/main.rs:405-443):
    2 staged files × maxFilesPerTrigger=1 → 2 complete micro-batches.
    Returns per-batch row counts."""
    with drain_staged(spark, sf_dir, "mb", parts=2) as (tenant, _):
        return _batch_counts(spark, tenant.sink_main_path)


def stream_rate_limited_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limited trigger configuration end-to-end — the declarative
    replacement for the reference's AIMD adaptive batch sizing
    (src/main.rs:192-233): 4 staged source files drained twice, with
    maxFilesPerTrigger=2 (→ 2 micro-batches) and =1 (→ 4 micro-batches).
    Returns (rate_limit, n_batches, total_rows) — batch count tracks the
    cap while total intake is invariant."""
    rows = []
    for rate in (2, 1):
        with drain_staged(spark, sf_dir, f"rl{rate}", parts=4,
                          max_files_per_trigger=rate) as (tenant, _):
            agg = spark.read.parquet(tenant.sink_main_path).agg(
                F.countDistinct("batch_id").alias("nb"), F.count("*").alias("nr")
            ).first()
        rows.append(
            Row(rate_limit=rate, n_batches=int(agg["nb"]), total_rows=int(agg["nr"]))
        )
    return spark.createDataFrame(rows)


def stream_cdc_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization end-to-end: the synthesized op log
    (same construction as batch ``cdc_apply_oplog``) is staged as 3
    parquet files, drained one file per trigger through the
    applyInPandasWithState merge (streaming/stateful.py:cdc_state_merge),
    and the per-batch image emissions are reduced to the final table.

    The state merge is arrival-order invariant (per-field last-writer-
    wins keyed by seq), so this MUST equal the batch window
    reconstruction — pinned by pytest (test_stateful.py); here the
    materialized result is the driver-visible relation (rows-only: SQL
    cannot express cross-micro-batch state)."""
    from mongo_to_clickhouse_spark.queries.cdcops import _oplog_sql
    from mongo_to_clickhouse_spark.streaming.stateful import cdc_state_merge

    with call_work_dir("cdcmerge") as work:
        src = os.path.join(work, "source")
        sink = os.path.join(work, "sink")

        events = load_table(spark, sf_dir, "events")
        events.createOrReplaceTempView("cdc_stream_events_src")
        oplog = spark.sql(_oplog_sql("cdc_stream_events_src"))
        oplog.repartition(3).write.parquet(src)

        stream = spark.readStream.schema(oplog.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)

        def _sink(df: DataFrame, batch_id: int) -> None:
            df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
                sink
            )

        q = (
            cdc_state_merge(stream)
            .writeStream.outputMode("update")
            .foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_drained(q)

        latest = (
            spark.read.parquet(sink).groupBy("doc_id")
            .agg(
                F.max_by(
                    F.struct("field_a", "field_b", "n_ops", "deleted"), "batch_id"
                ).alias("s")
            )
            .select("doc_id", "s.field_a", "s.field_b", "s.n_ops", "s.deleted")
        )
        return (latest.filter(~F.col("deleted")).drop("deleted")
                .orderBy("doc_id").localCheckpoint())


def stream_retry_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-backoff insert retry (5 attempts, doubling delay,
    src/main.rs:39-42, 692-743): a sink that fails twice then recovers —
    the batch lands WITHOUT touching the DLQ. Returns (attempts_used,
    rows_written, dlq_rows)."""
    from mongo_to_clickhouse_spark.plans.pipeline import (
        anonymized_statements,
        statements_from_events,
    )
    from mongo_to_clickhouse_spark.sinks.writers import insert_batch

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    anon = anonymized_statements(statements_from_events(events, customer))
    active = optout_active(optout_dim(customer))

    failures = {"left": 2}

    def flaky(df, batch_id):
        if failures["left"] > 0:
            failures["left"] -= 1
            raise RuntimeError("transient sink error")

    with call_work_dir("rb") as work:
        tenant = replace(_tenant(work, "rb"), max_retries=5)
        attempts = insert_batch(anon, 0, tenant, active, flaky)
        written = spark.read.parquet(tenant.sink_main_path).count()
        dlq_rows = (
            spark.read.parquet(tenant.dlq_path).count()
            if os.path.isdir(tenant.dlq_path)
            else 0
        )
    return spark.createDataFrame(
        [Row(attempts_used=attempts, rows_written=written, dlq_rows=dlq_rows)]
    )


def stream_multitenant_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tenant pipeline fanout (one query per tenant, shared session —
    src/main.rs:240-262). Returns per-tenant sink counts (identical)."""
    from mongo_to_clickhouse_spark.streaming.pipeline import run_multi_tenant

    customer = load_table(spark, sf_dir, "customer")
    with call_work_dir("fan") as work:
        tenants = [_tenant(work, name) for name in ("fan_a", "fan_b")]
        for t in tenants:
            stage_events_source(sf_dir, t.source_path)
        for q in run_multi_tenant(spark, tenants, customer, available_now=True):
            await_drained(q)
        rows = [
            Row(tenant=t.name, n_rows=spark.read.parquet(t.sink_main_path).count())
            for t in tenants
        ]
    return spark.createDataFrame(rows)


def stream_cache_invalidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opt-out cache refresh semantics (TCP 'invalidate', src/main.rs
    :800-822, 1019-1056): unnecessary side channel on Spark — the dim plan
    is built once per stream and evaluated per batch, as in
    ``run_tenant_stream``. Demonstrated by recording the dim row count
    observed per micro-batch (2 batches → 2 observations)."""
    from mongo_to_clickhouse_spark.sinks.writers import dual_write_batch
    from mongo_to_clickhouse_spark.streaming.pipeline import streaming_statements

    customer = load_table(spark, sf_dir, "customer")
    active = optout_active(optout_dim(customer))
    with call_work_dir("inv") as work:
        tenant = _tenant(work, "inv")
        stage_events_source(sf_dir, tenant.source_path, parts=2)
        obs_path = os.path.join(work, "observed")
        anon = streaming_statements(spark, tenant.source_path, customer)

        def _batch(df, batch_id):
            n_dim = active.count()  # a fresh read, per batch
            spark.createDataFrame([Row(batch_id=batch_id, dim_rows=n_dim)]).write.mode(
                "append"
            ).parquet(obs_path)
            dual_write_batch(df, batch_id, tenant, active)

        q = (
            anon.writeStream.foreachBatch(_batch)
            .option("checkpointLocation", tenant.checkpoint_path)
            .trigger(availableNow=True)
            .start()
        )
        await_drained(q)
        return spark.read.parquet(obs_path).orderBy("batch_id").localCheckpoint()


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks + time-range condition:
    each 'purchase' event joined to the same user's 'click' events within
    the preceding hour. Both sides buffer state bounded by watermark +
    range (Spark evicts rows once they can no longer match) — the
    streaming feature class the reference has no analogue for.

    Oracle (round 7): an INNER stream-stream join emits every matching
    pair eagerly — the watermark governs only state eviction, never
    emission — and the staged source is a single file, so the drain is
    one micro-batch whose initial watermark is the epoch and no row is
    ever late-dropped. The memory-sink contents therefore equal the
    batch inner join exactly, which is what STREAM_STREAM_JOIN_SQL
    states."""

    def build(src: str) -> DataFrame:
        def _side(types, alias):
            return (
                spark.readStream.schema(EVENTS_SCHEMA)
                .parquet(src)
                .filter(F.col("event_type").isin(*types))
                .selectExpr(
                    f"event_id AS {alias}_id",
                    "user_id",
                    f"ts AS {alias}_ts",
                )
                .withWatermark(f"{alias}_ts", "30 minutes")
            )

        purchases = _side(["purchase"], "purchase")
        clicks = _side(["click", "view", "signup", "error"], "click")
        return purchases.join(
            clicks,
            (purchases.user_id == clicks.user_id)
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("click_ts") <= F.col("purchase_ts")),
            "inner",
        ).select("purchase_id", "click_id", purchases.user_id.alias("user_id"))

    return drain_events_to_memory(sf_dir, build)


def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: purchases with their same-user
    'click' events of the preceding hour, where purchases with NO click
    still emit (null click_id) — but only once the watermark proves no
    matching click can arrive. This null-emission-on-watermark-close is
    the semantics that separates outer from inner stream joins (state for
    an unmatched left row is held until the right side's watermark passes
    its join window, then flushed as a null match). Because the sentinel
    provably flushes EVERY real purchase's state before the drain ends,
    the sink contents equal the batch LEFT JOIN exactly — the oracle
    (STREAM_STREAM_OUTER_JOIN_SQL, round 7) states that equivalence
    over the same window constants.

    Determinism at drain time: a far-future sentinel row (filtered out of
    both sides AFTER the watermark operator, so it advances the event
    clock without joining) pushes the final watermark past every real
    purchase's window; availableNow's trailing no-data micro-batch then
    flushes all remaining unmatched state. Batch-equivalence (== the
    batch LEFT JOIN) is pinned by tests/test_stream_stream_join.py."""
    # A far-future sentinel pushes the final watermark past every real
    # purchase's join window; availableNow's trailing no-data micro-batch
    # then flushes all remaining unmatched state as null matches.
    # Hard-won staging constraints (each found by a failure):
    #
    # - TWO physically distinct source dirs, one per side (data file +
    #   per-side sentinel): two readStreams of the SAME path
    #   deduplicate into one shared file source, and under availableNow
    #   that shared source serves only its first file — the sentinels
    #   are never ingested. Distinct dirs = distinct sources, which is
    #   also the faithful two-topic shape;
    # - each side needs its OWN sentinel bearing that side's event type:
    #   Catalyst pushes the type filter below the EventTimeWatermark
    #   node, so a row filtered from a side never advances that side's
    #   clock — and the global watermark is the MIN of the two sides
    #   (with only real data, the click side's earlier max stalls it);
    # - user_id = -1 keeps sentinels inert against REAL rows (the two
    #   sentinels match each other, harmlessly) and identifiable; they
    #   are dropped from the STATIC read of the sink, NOT by a filter in
    #   the streaming query — a deterministic one-side predicate would
    #   be pushed below the EventTimeWatermark and prune the sentinel
    #   row-groups at the parquet scan (min=max=-1 footer stats), which
    #   is exactly how an earlier version lost its clock advance;
    # - each sentinel is staged as the batch file after the data file
    #   (the file source ignores files older than maxFileAge=7d relative
    #   to the newest).
    table = events_table(sf_dir)
    idx_ts = table.schema.get_field_index("ts")
    idx_et = table.schema.get_field_index("event_type")
    idx_uid = table.schema.get_field_index("user_id")
    ts_col = table.column(idx_ts)
    max_us = pa.compute.max(ts_col.cast(pa.timestamp("us")).cast(pa.int64())).as_py()

    # Sentinel offset DERIVED from the query's own time constants: the
    # last real purchase's unmatched state is provably flushable once
    # watermark > max_us, i.e. sentinel_ts > max_us + watermark delay;
    # add the join window + 1 h margin so the bound holds even if either
    # constant grows.
    wm_us = OUTER_JOIN_WATERMARK_MIN * 60_000_000
    window_us = OUTER_JOIN_WINDOW_HOURS * 3_600_000_000
    sentinel_ts_us = max_us + wm_us + window_us + 3_600_000_000

    with call_work_dir("ssoj") as work:

        def _side(types, alias):
            sent = table.slice(0, 1)
            sent = sent.set_column(
                idx_ts, "ts",
                pa.array([sentinel_ts_us], pa.int64()).cast(pa.timestamp("us")),
            )
            sent = sent.set_column(idx_et, "event_type", pa.array([types[0]]))
            sent = sent.set_column(idx_uid, "user_id", pa.array([-1], pa.int64()))
            side_dir = os.path.join(work, f"side_{types[0]}")
            stage_batch_files(side_dir, [table, sent])
            return (
                spark.readStream.schema(EVENTS_SCHEMA)
                .parquet(side_dir)
                .selectExpr(
                    f"event_id AS {alias}_id",
                    "user_id",
                    f"ts AS {alias}_ts",
                    "event_type",
                )
                # watermark BEFORE the type filter: the sentinel advances the
                # event clock on this side, then drops out of the join input
                .withWatermark(f"{alias}_ts", f"{OUTER_JOIN_WATERMARK_MIN} minutes")
                .filter(F.col("event_type").isin(*types))
                .drop("event_type")
            )

        purchases = _side(["purchase"], "purchase")
        clicks = _side(["click"], "click")
        joined = purchases.join(
            clicks,
            (purchases.user_id == clicks.user_id)
            & (F.col("click_ts")
               >= F.col("purchase_ts") - F.expr(f"INTERVAL {OUTER_JOIN_WINDOW_HOURS} HOUR"))
            & (F.col("click_ts") <= F.col("purchase_ts")),
            "left_outer",
        ).select("purchase_id", "click_id", purchases.user_id.alias("user_id"))
        # sentinel emissions dropped HERE, on the static sink read (see above)
        return drain_to_memory(joined).filter(F.col("user_id") != -1)


def stream_session_timeout_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions emitted ONLY on idle-timeout eviction
    (applyInPandasWithState + EventTimeTimeout) — the reference's
    flush-on-idle batch assembler as a Spark state-lifecycle feature.

    Staging makes eviction deterministic in EVENT TIME: events are cut
    by ts into 3 time-contiguous slices, one file each (sessions
    accumulate state across micro-batches under maxFilesPerTrigger=1),
    then a far-future sentinel row (user_id=-1) whose event time pushes
    the watermark past every real user's `last_event + gap` deadline —
    the post-sentinel eviction batch closes every real session exactly
    once. The sentinel's own session stays open and remains in the
    checkpoint (at-least-once hand-off to the next run).

    Oracle (round 8): the gap exceeds the fixture's whole time range,
    so no real user's deadline (last_event + gap > max_ts) can pass
    before the sentinel batch — no mid-stream eviction, no split
    sessions — and the sentinel batch closes every user exactly once
    with the fully-accumulated state. The update-mode memory sink
    therefore holds ONE row per real user: the plain per-user
    (count, min ts, max ts) aggregate, stated as SQL. Multi-session
    eviction under a small gap stays pinned by tests/test_stateful.py.

    Scale posture: each slice is a filtered scan written by one
    executor task (``stage_batch_files``); the driver only touches
    min/max (1-row agg) and file renames — no table rows ever reach it."""
    from mongo_to_clickhouse_spark.streaming.stateful import idle_session_close

    ev = (
        load_table(spark, sf_dir, "events")
        # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the cast is
        # exact under the session's pinned UTC timezone (session.py).
        .select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
    )
    # control-plane: single-row min/max agg (not a table materialization).
    # min(user_id) also rides along to guard the sentinel key: a real
    # user_id = -1 row would be absorbed into the sentinel's
    # never-closing session and silently vanish from the output while
    # the oracle still counts it — fail loudly instead.
    lo_us, hi_us, lo_user = ev.agg(
        F.min("ts_us"), F.max("ts_us"), F.min("user_id")
    ).first()
    if lo_user is not None and lo_user <= -1:
        raise ValueError(
            f"events.user_id reaches {lo_user}: the -1 sentinel key "
            "would collide — pick a disjoint sentinel for this fixture"
        )
    # gap > the whole table's time range → exactly one session per user;
    # sentinel event time > max + gap + watermark delay → final watermark
    # passes every real user's deadline
    gap_ms = int(hi_us - lo_us) // 1000 + 3_600_000
    sentinel_us = int(hi_us) + (gap_ms + 10_000) * 1_000
    width = int(hi_us - lo_us) // 3 + 1
    slices = [
        ev.where(F.expr(f"(ts_us - {int(lo_us)}) DIV {width}") == k)
        for k in range(3)
    ]
    sentinel = pa.table({"user_id": pa.array([-1], pa.int64()),
                         "ts_us": pa.array([sentinel_us], pa.int64())})

    with call_work_dir("sess") as work:
        src = os.path.join(work, "source")
        stage_batch_files(src, [*slices, sentinel])
        stream = (
            spark.readStream.schema("user_id bigint, ts_us bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withColumn("ts", F.timestamp_micros("ts_us"))
        )
        return drain_to_memory(idle_session_close(stream, gap_ms=gap_ms), "update")


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals on the Spark 4 transformWithStateInPandas
    API (typed ValueState in the state store, RocksDB provider) — the
    forward path for custom stateful operators. The API's state-server
    protocol needs protobuf, which this container cannot install, so the
    op degrades to `running_user_totals_cents`, the applyInPandasWithState
    twin with identical projection, state, and output — either path must
    telescope to the batch aggregate the oracle computes."""
    from pyspark.sql.window import Window

    from mongo_to_clickhouse_spark.streaming.stateful import (
        running_user_totals_cents,
        running_user_totals_tws,
        tws_available,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(conf_key, None)
    use_tws = tws_available()
    if use_tws:
        spark.conf.set(
            conf_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        with call_work_dir("tws") as work:
            src = os.path.join(work, "source")
            stage_batch_files(src, [
                ev.where(F.col("event_id") % 3 == i).drop("event_id")
                for i in range(3)
            ])
            stream = (
                spark.readStream.schema("user_id bigint, value double")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            op = running_user_totals_tws if use_tws else running_user_totals_cents
            snap = drain_to_memory(op(stream), "update")
    finally:
        if use_tws:
            if prior is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prior)
    # final state per user = the max-n emission (totals are monotone in
    # n), which must equal the batch aggregate — oracle-checked
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        snap.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "total_cents")
        .orderBy("user_id")
    )


STREAM_TRANSFORM_WITH_STATE_SQL = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""


def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained stateful operators in ONE streaming query (the
    Spark-3.4+ multiple-stateful-operators capability): hourly tumbling
    counts per event type cascaded into a daily rollup via
    ``window(window_time(w), '1 day')`` — the continuous-aggregate
    hierarchy (hypertable 1h → 1d) every metrics pipeline maintains,
    here incrementally in a single query instead of two jobs.

    Append-mode horizon semantics, mirrored EXACTLY by the oracle: a
    daily window emits once the watermark passes its end — at drain
    time the final (still-open) day has not been emitted yet; a
    continuous deployment emits it on the next day's data. (Closing it
    with far-future sentinel rows does NOT work for chained aggs: the
    second operator's late-record filter is the watermark that the
    sentinel just advanced, so the last day's hourly emissions arrive
    "late" and are dropped — measured, not theorized. The horizon IS
    the correct production contract.) The emitted prefix is
    deterministic, so the memory-sink contents hash-match the oracle's
    closed-day rollup."""

    def build(src: str) -> DataFrame:
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(src)
            .withWatermark("ts", "1 hour")
        )
        hourly = stream.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(F.count("*").alias("n_hourly"))
        return hourly.groupBy(
            F.window(F.window_time("w"), "1 day").alias("d"), "event_type"
        ).agg(
            F.sum("n_hourly").cast("bigint").alias("n_daily"),
            F.count("*").cast("bigint").alias("n_hours"),
        )

    return drain_events_to_memory(sf_dir, build).select(
        F.date_format("d.start", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_daily",
        "n_hours",
    ).orderBy("day", "event_type")


# the oracle rolls up only CLOSED days: the drain-time watermark is
# max(ts) - 1 h, and a daily window emits when the watermark passes its
# end — the final day is still open (see the operator docstring)
STREAM_CHAINED_WINDOWS_SQL = """
    WITH horizon AS (
        SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events
    )
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_daily,
           CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_hours
    FROM events, horizon
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm
    GROUP BY 1, 2
    ORDER BY day, event_type
"""


# Inner stream-stream join == batch inner join: single-file staging =
# one micro-batch, initial watermark at the epoch, inner joins emit on
# match (see the operator docstring).
STREAM_STREAM_JOIN_SQL = """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
      AND c.event_type IN ('click', 'view', 'signup', 'error')
"""

# Outer stream-stream join == batch LEFT JOIN: the far-future sentinel
# pushes the final watermark past every real purchase's join window, so
# all unmatched state flushes as null matches before the drain ends.
STREAM_STREAM_OUTER_JOIN_SQL = f"""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL {OUTER_JOIN_WINDOW_HOURS} HOUR
     AND c.ts <= p.ts
"""


# Horizon oracles (round 7, second batch): each of these ids runs a real
# availableNow drain whose OUTPUT RELATION is nevertheless a pure
# function of the fixture — the oracle states that function.
def _runtime_horizon_sqls() -> dict[str, str]:
    from mongo_to_clickhouse_spark.queries.core import (
        ANON_SQL,
        SINK_CLICKHOUSE_INSERT_SQL,
    )

    # positional halves: staging slices the (file-order == event_id
    # order, asserted 0 inversions at every sf) events table at n//2, so
    # batch membership is the event_id rank — recovered by joining the
    # sink relation back through id = printf('%024x', event_id)
    half_counts = f"""
        WITH ranked AS (
            SELECT event_id,
                   row_number() OVER (ORDER BY event_id) - 1 AS rn,
                   COUNT(*) OVER () AS n
            FROM events
        ),
        sink AS ({SINK_CLICKHOUSE_INSERT_SQL})
        SELECT CAST(CASE WHEN r.rn < r.n // 2 THEN 0 ELSE 1 END
                    AS INTEGER) AS batch_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM sink s JOIN ranked r ON s.id = printf('%024x', r.event_id)
        GROUP BY 1 ORDER BY 1
    """
    return {
        # the drained pipeline sink IS the batch transform
        "source_changestream": SINK_CLICKHOUSE_INSERT_SQL,
        # sink down: the whole (single) batch of PRE-ROUTING anonymized
        # statements is queued once under (tenant, batch_id=0)
        "sink_dlq_log": f"""
            SELECT 'dlqlog' AS tenant, CAST(0 AS INTEGER) AS batch_id,
                   CAST((SELECT COUNT(*) FROM ({ANON_SQL}) a) AS BIGINT)
                       AS n_rows
        """,
        # 2 failures then success under max_retries=5 => exactly 3
        # attempts, the full transform lands, the DLQ stays empty
        "stream_retry_backoff": f"""
            SELECT CAST(3 AS BIGINT) AS attempts_used,
                   CAST((SELECT COUNT(*)
                         FROM ({SINK_CLICKHOUSE_INSERT_SQL}) t)
                        AS BIGINT) AS rows_written,
                   CAST(0 AS BIGINT) AS dlq_rows
        """,
        # 4 files: cap 2 => 2 batches, cap 1 => 4; intake invariant
        "stream_rate_limited_trigger": f"""
            WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_rows
                       FROM ({SINK_CLICKHOUSE_INSERT_SQL}) t)
            SELECT CAST(v.r AS BIGINT) AS rate_limit,
                   CAST(v.b AS BIGINT) AS n_batches, n.total_rows
            FROM (VALUES (2, 2), (1, 4)) AS v(r, b) CROSS JOIN n
            ORDER BY v.r DESC
        """,
        # 2 positional half-files x maxFilesPerTrigger=1 => per-batch
        # transform counts over the event_id-rank halves
        "stream_microbatch_assembly": half_counts,
        # restart-from-checkpoint: the two drains process exactly the
        # two halves — same relation as the microbatch split
        "checkpoint_resume_token": half_counts,
    }


_RUNTIME_HORIZON_SQLS = _runtime_horizon_sqls()


# Horizon oracle (round 7): the stateful CDC fold is commutative and the
# drain is complete, so the final materialized images equal the batch
# last-writer-wins reconstruction over the SAME synthesized op log —
# stated here directly in SQL (n_ops counts every op per doc; a field
# survives only if assigned at-or-after the last base op, strictly after
# a delete; final-delete docs vanish).
def _cdc_state_merge_duck_sql() -> str:
    from mongo_to_clickhouse_spark.queries.cdcops import _oplog_sql

    return f"""
        WITH oplog AS ({_oplog_sql("events")}),
        st AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_ops,
                   arg_max(op, seq) AS max_op,
                   COALESCE(MAX(CASE WHEN op IN
                       ('insert', 'replace', 'delete') THEN seq END), 0)
                       AS base_seq,
                   COALESCE(arg_max(op, seq) FILTER
                       (WHERE op IN ('insert', 'replace', 'delete')), '')
                       AS base_op,
                   COALESCE(MAX(seq) FILTER (WHERE field_a IS NOT NULL),
                            -1) AS a_seq,
                   arg_max(field_a, seq) FILTER
                       (WHERE field_a IS NOT NULL) AS a_val,
                   COALESCE(MAX(seq) FILTER (WHERE field_b IS NOT NULL),
                            -1) AS b_seq,
                   arg_max(field_b, seq) FILTER
                       (WHERE field_b IS NOT NULL) AS b_val
            FROM oplog GROUP BY doc_id
        )
        SELECT doc_id,
               CASE WHEN (CASE WHEN base_op = 'delete'
                               THEN a_seq > base_seq
                               ELSE a_seq >= base_seq END)
                    THEN a_val END AS field_a,
               CASE WHEN (CASE WHEN base_op = 'delete'
                               THEN b_seq > base_seq
                               ELSE b_seq >= base_seq END)
                    THEN b_val END AS field_b,
               n_ops
        FROM st WHERE max_op <> 'delete'
        ORDER BY doc_id
    """


STREAM_CDC_STATE_MERGE_SQL = _cdc_state_merge_duck_sql()


def _fanout_duck_sql() -> str:
    # both tenants drain the SAME fixture through the SAME transform, so
    # each sink's row count is the batch-transform cardinality
    from mongo_to_clickhouse_spark.queries.core import (
        SINK_CLICKHOUSE_INSERT_SQL,
    )

    return f"""
        WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows
                   FROM ({SINK_CLICKHOUSE_INSERT_SQL}) t)
        SELECT t.tenant, n.n_rows
        FROM (VALUES ('fan_a'), ('fan_b')) AS t(tenant) CROSS JOIN n
        ORDER BY t.tenant
    """


STREAM_MULTITENANT_FANOUT_SQL = _fanout_duck_sql()


def _cache_invalidate_duck_sql() -> str:
    # 2 staged files x maxFilesPerTrigger=1 => exactly batches 0 and 1,
    # each observing the full active-dim count from its fresh re-read
    from mongo_to_clickhouse_spark.queries.core import ACTIVE_DIM_SQL

    return f"""
        WITH d AS (SELECT CAST(COUNT(*) AS BIGINT) AS dim_rows
                   FROM ({ACTIVE_DIM_SQL}) a)
        SELECT CAST(v.batch_id AS BIGINT) AS batch_id, d.dim_rows
        FROM (VALUES (0), (1)) AS v(batch_id) CROSS JOIN d
        ORDER BY v.batch_id
    """


STREAM_CACHE_INVALIDATE_SQL = _cache_invalidate_duck_sql()


# one closed session per real user: gap > fixture time range + sentinel
# eviction — see stream_session_timeout_eviction's docstring
STREAM_SESSION_TIMEOUT_EVICTION_SQL = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us,
           'idle_timeout' AS closed_by
    FROM events
    GROUP BY user_id
"""


QUERIES: dict[str, tuple] = {
    "stream_chained_windows": (
        stream_chained_windows,
        STREAM_CHAINED_WINDOWS_SQL,
    ),
    "source_changestream": (stream_pipeline_cdc, _RUNTIME_HORIZON_SQLS["source_changestream"]),
    "stream_stream_join": (stream_stream_join, STREAM_STREAM_JOIN_SQL),
    "stream_stream_outer_join": (
        stream_stream_outer_join,
        STREAM_STREAM_OUTER_JOIN_SQL,
    ),
    "checkpoint_resume_token": (checkpoint_resume_token, _RUNTIME_HORIZON_SQLS["checkpoint_resume_token"]),
    "sink_dlq_log": (sink_dlq_log, _RUNTIME_HORIZON_SQLS["sink_dlq_log"]),
    "metric_throughput": (metric_throughput, None),
    "stream_microbatch_assembly": (stream_microbatch_assembly, _RUNTIME_HORIZON_SQLS["stream_microbatch_assembly"]),
    "stream_retry_backoff": (stream_retry_backoff, _RUNTIME_HORIZON_SQLS["stream_retry_backoff"]),
    "stream_cdc_state_merge": (
        stream_cdc_state_merge,
        STREAM_CDC_STATE_MERGE_SQL,
    ),
    "stream_rate_limited_trigger": (stream_rate_limited_trigger, _RUNTIME_HORIZON_SQLS["stream_rate_limited_trigger"]),
    "stream_multitenant_fanout": (
        stream_multitenant_fanout,
        STREAM_MULTITENANT_FANOUT_SQL,
    ),
    "stream_cache_invalidate": (
        stream_cache_invalidate,
        STREAM_CACHE_INVALIDATE_SQL,
    ),
    "stream_session_timeout_eviction": (
        stream_session_timeout_eviction,
        STREAM_SESSION_TIMEOUT_EVICTION_SQL,
    ),
    "stream_transform_with_state": (
        stream_transform_with_state,
        STREAM_TRANSFORM_WITH_STATE_SQL,
    ),
}
