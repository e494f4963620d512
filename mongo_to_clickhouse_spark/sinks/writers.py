"""Sink writers: the ``foreachBatch`` body of the streaming pipeline, and
the one sink writer of the live, backfill and DLQ-replay paths.

Reference behavior being reproduced (Spark-idiomatically):

- dual-table routing + bulk insert (/root/reference/src/main.rs:874-913)
  → the batch is routed once and ONE Spark job writes both tables,
    partitioned by the ``opt_out`` flag into a staging directory whose
    two sides are then renamed into place: one query, so one evaluation
    of the opt-out dim, and nothing to persist
- chunked insert with retry (src/main.rs:688-743)
  → Spark task retries handle transient task failure; sink-level errors
    are caught once here and routed to the DLQ
- on persistent failure, the batch is serialized to the DLQ keyed by
  (tenant, db, table, opt_out) (src/main.rs:918-939)
  → DLQ parquet table with the same key columns
- error PROPAGATION follows the historical binary
  (historical_data/src/main.rs:540-545), not the live binary which
  swallows insert errors (src/main.rs:598-609) — SURVEY §7.4 item 6.

Idempotence: writes land under ``batch_id=N`` subdirectories, and publishing
a batch replaces its directory, so a replayed micro-batch overwrites its own
output instead of duplicating it — this is
the strengthening from the reference's at-least-once (resume token saved
after insert, src/main.rs:427-439) to effectively-once, documented per
SURVEY §7.4 item 1.
"""

from __future__ import annotations

import glob
import logging
import os
import shutil
import time
import uuid
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from mongo_to_clickhouse_spark.config import TenantConfig
from mongo_to_clickhouse_spark.sinks import dlq as dlq_mod
from mongo_to_clickhouse_spark.plans.pipeline import route

log = logging.getLogger(__name__)


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Tag this thread's Spark jobs inside the block with ``text``
    (``"<tenant> batch <id>"``, ``"<tenant> dlq replay"``), then restore the
    previous description (a streaming query sets its own per batch)."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def write_sinks(rows: DataFrame, active_dim: DataFrame, tenant: TenantConfig,
                batch_id: int | None) -> None:
    """Route ``rows`` once and write the main and opt-out tables in one
    Spark job. The only code that knows the sink layout: ``created_at`` =
    sink-side now() (reference: ClickHouse now(), src/main.rs:864-866) and
    one ``batch_id=N`` directory per batch and table, replaced on replay.

    The job writes partitioned by ``opt_out`` into a staging directory
    beside the main sink (its ``_`` prefix hides it from readers), so a
    sink directory only ever holds published batches; each side is then
    renamed to ``<sink>/batch_id=N``. A side with no rows gets a
    schema-only file, so both tables always hold the batch's directory.
    ``batch_id=None``: the rows carry a ``batch_id`` column (a DLQ
    replay), partitioned on as well, and every staged batch is published.
    The staging directory is removed on success and failure."""
    out = route(rows, active_dim).withColumn("created_at", F.current_timestamp())
    parts = ["opt_out"] if batch_id is not None else ["opt_out", "batch_id"]
    data_schema = T.StructType([f for f in out.schema if f.name not in parts])
    main = os.path.abspath(tenant.sink_main_path)
    stage = os.path.join(os.path.dirname(main),
                         f"_{os.path.basename(main)}-staging-{uuid.uuid4().hex}")
    try:
        out.write.partitionBy(*parts).parquet(stage)
        if batch_id is None:
            batches = sorted({os.path.basename(p) for p in glob.glob(
                os.path.join(stage, "opt_out=*", "batch_id=*"))})
        for flag, base in (("false", tenant.sink_main_path),
                           ("true", tenant.sink_optout_path)):
            side = os.path.join(stage, f"opt_out={flag}")
            if batch_id is not None:
                _publish(side, os.path.join(base, f"batch_id={batch_id}"),
                         data_schema)
            else:
                for b in batches:
                    _publish(os.path.join(side, b), os.path.join(base, b),
                             data_schema)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _publish(staged: str, target: str, schema: T.StructType) -> None:
    """Replace ``target`` with the ``staged`` directory, or with a
    schema-only parquet file when the side had no rows (a partitioned
    write makes no directory for an empty side), written as Spark writes
    an empty DataFrame: INT96 timestamps, Spark's nullability and the
    Spark schema in the footer."""
    if os.path.isdir(target):
        shutil.rmtree(target)
    if os.path.isdir(staged):
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.move(staged, target)
    else:
        os.makedirs(target)
        arrow = to_arrow_schema(schema).with_metadata(
            {"org.apache.spark.sql.parquet.row.metadata": schema.json()})
        pq.write_table(
            arrow.empty_table(),
            os.path.join(target, f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"),
            use_deprecated_int96_timestamps=True)
    open(os.path.join(target, "_SUCCESS"), "w").close()


def insert_batch(
    batch_df: DataFrame,
    batch_id: int,
    tenant: TenantConfig,
    active_dim: DataFrame,
    fail_injector=None,
) -> int:
    """Route rows by opt-out membership and write both sinks, retrying with
    exponential backoff (attempts ≤ ``tenant.max_retries``, delay doubling
    from ``tenant.initial_retry_delay_sec`` — the reference's per-chunk
    policy, src/main.rs:692-743). Raises after exhausting retries (the
    historical binary's propagating semantics). Returns the number of
    attempts used.

    ``fail_injector(batch_df, batch_id)`` is a test hook that may raise to
    simulate sink unavailability."""
    with job_description(batch_df.sparkSession,
                         f"{tenant.name} batch {batch_id}"):
        delay = tenant.initial_retry_delay_sec
        for attempt in range(1, tenant.max_retries + 1):
            try:
                if fail_injector is not None:
                    fail_injector(batch_df, batch_id)
                write_sinks(batch_df, active_dim, tenant, batch_id)
                return attempt
            except Exception:  # noqa: BLE001
                if attempt == tenant.max_retries:
                    raise
                time.sleep(delay)
                delay *= 2
    raise AssertionError("unreachable")


def dual_write_batch(
    batch_df: DataFrame,
    batch_id: int,
    tenant: TenantConfig,
    active_dim: DataFrame,
    fail_injector=None,
) -> None:
    """foreachBatch body: ``insert_batch``, with any failure (after the
    retry budget) captured to the tenant's DLQ (the stream keeps running;
    the replay job drains later)."""
    with job_description(batch_df.sparkSession,
                         f"{tenant.name} batch {batch_id}"):
        try:
            insert_batch(batch_df, batch_id, tenant, active_dim, fail_injector)
        except Exception:  # noqa: BLE001 — any sink error → DLQ, then continue
            log.error("tenant %s batch %d: sink write failed, batch captured "
                      "to the DLQ", tenant.name, batch_id, exc_info=True)
            dlq_mod.append_failed_batch(batch_df, batch_id, tenant)
