"""Structured Streaming variant of the CDC pipeline.

Reference architecture being re-expressed (SURVEY §3.1):

- change-stream tail + resume token (/root/reference/src/main.rs:313-360,
  427-439) → ``readStream`` file source + ``checkpointLocation`` (Spark's
  offset log replaces hand-rolled RocksDB resume tokens; token-expired
  restart (error 280, src/main.rs:323-341) ≈ checkpoint invalidation)
- micro-batch assembly: count/5-second flush (src/main.rs:405-407)
  → trigger + ``maxFilesPerTrigger``-style rate options; every micro-batch
  is complete, so the partial-flush machinery (src/main.rs:467-573)
  disappears
- adaptive AIMD batch sizing (src/main.rs:192-233) → AQE + backpressure;
  no user code
- dual-table routing + DLQ → ``foreachBatch`` (sinks/writers.py): each
  micro-batch is routed once (``plans.pipeline.route``) and ONE write job,
  partitioned by the opt-out flag, lands both tables, so the source is
  read and the opt-out dim evaluated once per batch, with nothing cached
- per-tenant task fanout + 60 s restart loop (src/main.rs:240-262)
  → one streaming query per tenant from a shared SparkSession; restart =
  ``start()`` from the same checkpoint
- opt-out cache + TCP ``invalidate`` (src/main.rs:756-822, 1019-1056)
  → the dim plan is built once per stream and evaluated per batch: each
  micro-batch re-reads the dim (cheap, broadcast), so push invalidation
  is unnecessary by construction.

In production the source would be the Mongo Spark connector's change-stream
micro-batch source; fixtures use the parquet file source with identical
downstream semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from mongo_to_clickhouse_spark.config import TenantConfig
from mongo_to_clickhouse_spark.functions.scalars import FIXTURE_SALT
from mongo_to_clickhouse_spark.plans.pipeline import (
    anonymized_statements,
    optout_active,
    optout_dim,
    statements_from_events,
)
from mongo_to_clickhouse_spark.sinks.writers import dual_write_batch

# Schema of the STAGED streaming source (streaming/util.py
# stage_events_source), which normalizes ts to timestamp[us] no-timezone
# whatever the fixture's physical encoding is — so this declared schema is
# stable across fixture regenerations by construction. ts is declared
# TIMESTAMP (not NTZ) because watermarks require it
# (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); under the session's pinned UTC
# timezone the micros read identically to the NTZ batch path.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# raw-nanos variant for sources whose physical ts is int64 epoch-nanos or
# parquet TIMESTAMP(NANOS) (surfaced as long via nanosAsLong)
_EVENTS_SCHEMA_NANOS = T.StructType(
    [f if f.name != "ts" else T.StructField("ts", T.LongType()) for f in EVENTS_SCHEMA]
)


def _probe_ts_is_nanos(source_path: str) -> bool:
    """Probe one source file's PHYSICAL ts type — the streaming twin of
    the reference's runtime field-type probing (src/main.rs:362-397).
    Staged sources (stage_events_source) are always timestamp[us]; this
    makes the live tail on a RAW directory (cli.py ``live``) survive a
    fixture-encoding change too. int64 and timestamp[ns] (read as long
    under nanosAsLong) are the nanos cases; us/ms timestamps read
    directly as TIMESTAMP."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pats = [os.path.join(source_path, "*.parquet"), source_path]
    for pat in pats:
        for f in sorted(glob.glob(pat)):
            if not f.endswith(".parquet"):
                continue
            try:
                t = pq.read_schema(f).field("ts").type
            except Exception:  # noqa: BLE001 — no ts field / unreadable
                return False
            return pa.types.is_integer(t) or (
                pa.types.is_timestamp(t) and t.unit == "ns"
            )
    return False  # empty source dir: files will be staged normalized


def streaming_statements(
    spark: SparkSession,
    source_path: str,
    customer: DataFrame,
    max_files_per_trigger: int = 1,
    salt: str = FIXTURE_SALT,
) -> DataFrame:
    """readStream over the events source → anonymized statement rows.
    The transform chain is the SAME code as batch — one logical plan serves
    both executions (the point of Structured Streaming).

    ``max_files_per_trigger`` is the declarative stand-in for the
    reference's AIMD batch-size controller (src/main.rs:192-233): it caps
    per-trigger intake (the connector equivalent is
    ``maxOffsetsPerTrigger``/``maxChangeStreamBatchSize``), and AQE +
    backpressure handle the adaptive part."""
    if _probe_ts_is_nanos(source_path):
        from pyspark.sql import functions as F

        events = (
            spark.readStream.schema(_EVENTS_SCHEMA_NANOS)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_path)
            .withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        )
    else:
        events = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_path)
        )
    return anonymized_statements(statements_from_events(events, customer), salt)


def run_tenant_stream(
    spark: SparkSession,
    tenant: TenantConfig,
    customer: DataFrame,
    available_now: bool = True,
    fail_injector=None,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """One tenant's pipeline as a streaming query. ``available_now=True``
    drains the source and stops (test/backfill mode); False runs the
    5-second micro-batch cadence of the reference."""
    anon = streaming_statements(spark, tenant.source_path, customer,
                                max_files_per_trigger, tenant.encryption_salt)
    # built once; each batch's write evaluates it afresh, which is the
    # reference's cache invalidation without the TCP side channel
    active = optout_active(optout_dim(customer, tenant.encryption_salt))

    def _batch(df: DataFrame, batch_id: int) -> None:
        dual_write_batch(df, batch_id, tenant, active, fail_injector)

    writer = (
        anon.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", tenant.checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{tenant.flush_seconds} seconds")
    return writer.start()


def run_multi_tenant(
    spark: SparkSession,
    tenants: list[TenantConfig],
    customer: DataFrame,
    available_now: bool = True,
) -> list[StreamingQuery]:
    """Multi-tenant fanout: N independent queries in one session
    (reference: one tokio task per tenant, src/main.rs:240-262). Failure
    isolation comes from per-query lifecycles + per-tenant checkpoints."""
    return [
        run_tenant_stream(spark, t, customer, available_now=available_now)
        for t in tenants
    ]
