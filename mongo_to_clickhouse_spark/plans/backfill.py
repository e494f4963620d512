"""Historical backfill — parity with the ``historical_data`` binary
(/root/reference/historical_data/src/main.rs).

CLI contract being reproduced (README.MD:4-5, main.rs:900-919):
``backfill <tenant> <startT> <endT>`` with ``%Y-%m-%dT%H:%M`` timestamps,
``end >= start`` validation (main.rs:915-919), the timestamp-range filter
pushed to the source (main.rs:349-365), the same
extract/anonymize/route/insert path as live, and processed/failed counters
reported at the end (main.rs:501-513). Error propagation follows this
binary (fails the job), not the live binary's swallowing — SURVEY §7.4.

Spark shape: one batch job that routes the range and writes both sink
tables (``sinks.writers.write_sinks``); the $gte/$lte filter is a
pushed-down parquet predicate, which prunes no row groups on the fixture's
``timestamp_ntz`` ts (``io.load_table``); counters are ``observe()``
metrics on that job, not driver-side loops.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from mongo_to_clickhouse_spark.config import TenantConfig
from mongo_to_clickhouse_spark.io import load_table
from mongo_to_clickhouse_spark.plans.pipeline import (
    anonymized_statements,
    cdc_transform,
    optout_active,
    optout_dim,
    statements_from_events,
)
from mongo_to_clickhouse_spark.sinks.writers import insert_batch

TIME_FMT = "%Y-%m-%dT%H:%M"


@dataclass(frozen=True)
class BackfillStats:
    processed_docs: int
    failed_docs: int
    duration_sec: float


def parse_cli_timestamp(raw: str) -> datetime:
    """Strict ``%Y-%m-%dT%H:%M`` validation (main.rs:875-878, 912-913)."""
    try:
        return datetime.strptime(raw, TIME_FMT)
    except ValueError as exc:
        raise ValueError(
            f"invalid timestamp {raw!r}; expected format {TIME_FMT}"
        ) from exc


def run_backfill(
    spark: SparkSession,
    tenant: TenantConfig,
    sf_dir: str,
    start: str,
    end: str,
) -> BackfillStats:
    """Batch backfill for one tenant over [start, end]."""
    start_dt, end_dt = parse_cli_timestamp(start), parse_cli_timestamp(end)
    if end_dt < start_dt:
        raise ValueError("end timestamp must be >= start timestamp")

    t0 = time.time()
    events = load_table(
        spark,
        sf_dir,
        "events",
        ts_range=(start_dt.strftime("%Y-%m-%d %H:%M:%S"),
                  end_dt.strftime("%Y-%m-%d %H:%M:%S")),
    )
    customer = load_table(spark, sf_dir, "customer")

    # LEFT join so the counters see every scanned event: an event whose
    # user_id has no customer match must land in failed_docs (the
    # reference counts per document, historical_data/src/main.rs:501-513);
    # the anonymize step's validation filter then drops it. Counting the
    # rows before and after that filter gives failed = scanned - processed.
    stmts = statements_from_events(events, customer, how="left")
    scanned, processed = Observation(), Observation()
    anon = anonymized_statements(
        stmts.observe(scanned, F.count(F.lit(1)).alias("n")),
        tenant.encryption_salt,
    ).observe(processed, F.count(F.lit(1)).alias("n"))
    active = optout_active(optout_dim(customer, tenant.encryption_salt))
    insert_batch(anon, 0, tenant, active)

    n_processed = processed.get["n"]
    return BackfillStats(
        processed_docs=n_processed,
        failed_docs=scanned.get["n"] - n_processed,
        duration_sec=round(time.time() - t0, 3),
    )


def backfill_output(
    spark: SparkSession, sf_dir: str, start: str, end: str
) -> DataFrame:
    """The backfill's main-table relation (query-entry form, no side
    effects): the live transform over the range-filtered events."""
    events = load_table(spark, sf_dir, "events", ts_range=(start, end))
    return cdc_transform(events, load_table(spark, sf_dir, "customer"))
