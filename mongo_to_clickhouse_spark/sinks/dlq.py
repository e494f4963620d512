"""Dead-letter queue as a parquet table + replay job.

Reference: failed batches serialized to RocksDB under key
``failed_batch:{tenant}:{db}:{table}:{opt_out}`` and retried every 60 s
(/root/reference/src/main.rs:918-939, 941-1017). Spark shape: an
append-only parquet DLQ partitioned by (tenant, batch_id); the replay job
re-runs the insert path and rewrites the DLQ without the drained batches
(delete-on-success = overwrite of a partitioned table).

NOTE the live binary's DLQ key parsing panics on every retry
(``splitn(4,':')`` then ``parts[4]``, src/main.rs:952-961); we follow the
fixed historical variant (historical_data/src/main.rs:808-817) — SURVEY
§7.4 item 6.
"""

from __future__ import annotations

import glob
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_to_clickhouse_spark.config import TenantConfig

log = logging.getLogger(__name__)


def _partition_path(tenant: TenantConfig, batch_id: int) -> str:
    return os.path.join(
        tenant.dlq_path, f"tenant={tenant.name}", f"batch_id={batch_id}"
    )


def append_failed_batch(
    batch_df: DataFrame, batch_id: int, tenant: TenantConfig
) -> None:
    """Queue a failed batch, idempotently: the write targets the
    (tenant, batch_id) partition directory directly with overwrite, so a
    batch that fails repeatedly (e.g. replayed after checkpoint loss while
    the sink is still down) is queued exactly once — an appending write
    would double the rows and break the effectively-once sink contract."""
    batch_df.write.mode("overwrite").parquet(_partition_path(tenant, batch_id))


def retry_failed_batches(
    spark: SparkSession,
    tenant: TenantConfig,
    active_dim: DataFrame,
    fail_injector=None,
) -> int:
    """Replay every queued batch through the routed insert path; drop
    drained batches from the DLQ. Returns the number of batches drained.
    Batches that fail again simply stay queued (the reference's 60 s retry
    loop picks them up next cycle).

    Scale shape: the whole drained set is routed once and goes through
    ONE write job for both sinks, partitioned by batch_id — O(1) Spark
    jobs for N queued batches (a mass outage replay would otherwise
    serialize N× through the driver). The write is the live path's own
    ``writers.write_sinks``, so each batch lands in the same
    ``batch_id=N`` directory with the same idempotent replace."""
    from mongo_to_clickhouse_spark.sinks.writers import job_description, write_sinks

    # no DLQ yet, or a fully drained one: its empty tenant=<name> shells
    # would raise UNABLE_TO_INFER_SCHEMA on read
    if not glob.glob(
        os.path.join(tenant.dlq_path, "**", "*.parquet"), recursive=True
    ):
        return 0
    with job_description(spark, f"{tenant.name} dlq replay"):
        dlq = spark.read.parquet(tenant.dlq_path).filter(
            F.col("tenant") == tenant.name
        )
        batch_ids = sorted(
            int(r[0]) for r in dlq.select("batch_id").distinct().collect()
        )
        # the injector hook keeps the reference's per-batch failure
        # granularity: a batch the (still down) sink rejects stays queued
        ok_ids = []
        for bid in batch_ids:
            try:
                if fail_injector is not None:
                    fail_injector(dlq.filter(F.col("batch_id") == bid), bid)
                ok_ids.append(bid)
            except Exception:  # noqa: BLE001 — still failing: keep queued
                log.error("tenant %s batch %d: DLQ replay failed, batch stays "
                          "queued", tenant.name, bid, exc_info=True)
                continue
        if not ok_ids:
            return 0
        rows = dlq.filter(F.col("batch_id").isin(ok_ids)).drop("tenant")
        try:
            write_sinks(rows, active_dim, tenant, None)
        except Exception:  # noqa: BLE001 — sink down mid-replay: keep all queued
            log.error("tenant %s batches %s: DLQ replay sink write failed, "
                      "all stay queued", tenant.name, ok_ids, exc_info=True)
            return 0
    for bid in ok_ids:
        _drop_partition(tenant, bid)
    return len(ok_ids)


def _drop_partition(tenant: TenantConfig, batch_id: int) -> None:
    import shutil

    part = _partition_path(tenant, batch_id)
    if os.path.isdir(part):
        shutil.rmtree(part)
    # remove the tenant shell once its last batch drains, so the replay
    # loop's next cycle sees a cleanly empty DLQ
    tenant_dir = os.path.dirname(part)
    if os.path.isdir(tenant_dir) and not os.listdir(tenant_dir):
        os.rmdir(tenant_dir)
