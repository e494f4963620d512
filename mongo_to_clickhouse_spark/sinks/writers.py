"""Sink writers: the ``foreachBatch`` body of the streaming pipeline, and
the one sink writer of the live, backfill and DLQ-replay paths.

Reference behavior being reproduced (Spark-idiomatically):

- dual-table routing + bulk insert (/root/reference/src/main.rs:874-913)
  → the batch is routed once, persisted, and both tables are written
    from that snapshot (the ``foreachBatch`` multi-sink recipe)
- chunked insert with retry (src/main.rs:688-743)
  → Spark task retries handle transient task failure; sink-level errors
    are caught once here and routed to the DLQ
- on persistent failure, the batch is serialized to the DLQ keyed by
  (tenant, db, table, opt_out) (src/main.rs:918-939)
  → DLQ parquet table with the same key columns
- error PROPAGATION follows the historical binary
  (historical_data/src/main.rs:540-545), not the live binary which
  swallows insert errors (src/main.rs:598-609) — SURVEY §7.4 item 6.

Idempotence: writes land under ``batch_id=N`` subdirectories, so a replayed
micro-batch overwrites its own output instead of duplicating it — this is
the strengthening from the reference's at-least-once (resume token saved
after insert, src/main.rs:427-439) to effectively-once, documented per
SURVEY §7.4 item 1.
"""

from __future__ import annotations

import logging
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    """Route ``rows`` once and write the main and opt-out tables from that
    one persisted snapshot. The only code that knows the sink layout:
    ``created_at`` = sink-side now() (reference: ClickHouse now(),
    src/main.rs:864-866) and one ``batch_id=N`` directory per batch,
    written with overwrite. ``batch_id=None``: the rows carry a
    ``batch_id`` column (a DLQ replay), one dynamic-overwrite job per
    table."""
    routed = route(rows, active_dim).persist()
    try:
        for opt_out, base in ((False, tenant.sink_main_path),
                              (True, tenant.sink_optout_path)):
            out = (routed.filter(F.col("opt_out") == opt_out).drop("opt_out")
                   .withColumn("created_at", F.current_timestamp())
                   .write.mode("overwrite"))
            if batch_id is None:
                out.option("partitionOverwriteMode", "dynamic").partitionBy(
                    "batch_id").parquet(base)
            else:
                out.parquet(os.path.join(base, f"batch_id={batch_id}"))
    finally:
        routed.unpersist(blocking=True)


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
