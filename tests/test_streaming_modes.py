"""Streaming runtime modes beyond availableNow: the live 5-second
micro-batch cadence, and checkpoint-loss recovery (the reference's
token-expired error 280 path: clear and restart — src/main.rs:323-341)."""

from __future__ import annotations

import os
import shutil
import time

from mongo_to_clickhouse_spark.config import TenantConfig
from mongo_to_clickhouse_spark.streaming.pipeline import run_tenant_stream
from mongo_to_clickhouse_spark.io import load_table
from mongo_to_clickhouse_spark.streaming.util import stage_events_source

SRC = "/root/testdata/sf0.001"


def _tenant(tmp, name="live") -> TenantConfig:
    base = os.path.join(str(tmp), name)
    return TenantConfig(
        name=name,
        source_path=os.path.join(base, "source"),
        sink_main_path=os.path.join(base, "main"),
        sink_optout_path=os.path.join(base, "optout"),
        checkpoint_path=os.path.join(base, "checkpoint"),
        dlq_path=os.path.join(base, "dlq"),
        flush_seconds=1,
        max_retries=2,
        initial_retry_delay_sec=0.01,
    )


def test_live_trigger_mode_processes_and_stops(spark, tmp_path):
    """processingTime cadence (the reference's flush timer): data flows
    without draining-and-stopping; graceful stop() completes the batch."""
    t = _tenant(tmp_path)
    stage_events_source(SRC, t.source_path)
    customer = load_table(spark, SRC, "customer")
    q = run_tenant_stream(spark, t, customer, available_now=False)
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not os.path.isdir(t.sink_main_path):
            time.sleep(0.5)
        assert os.path.isdir(t.sink_main_path), "live stream produced no output"
    finally:
        q.stop()
    assert spark.read.parquet(t.sink_main_path).count() > 0


def test_checkpoint_loss_recovery_is_idempotent(spark, tmp_path):
    """Checkpoint wiped (the 280 clear-and-restart path): reprocessing from
    scratch rewrites the same batch_id partitions — deterministic
    batch-keyed overwrite writes keep the sink exactly-once even though
    delivery degraded to at-least-once."""
    t = _tenant(tmp_path, name="ckloss")
    stage_events_source(SRC, t.source_path)
    customer = load_table(spark, SRC, "customer")

    q1 = run_tenant_stream(spark, t, customer, available_now=True)
    q1.awaitTermination(120)
    first = spark.read.parquet(t.sink_main_path).count()
    first_ids = spark.read.parquet(t.sink_main_path).select("id").distinct().count()

    shutil.rmtree(t.checkpoint_path)  # token expired / checkpoint lost
    q2 = run_tenant_stream(spark, t, customer, available_now=True)
    q2.awaitTermination(120)

    main = spark.read.parquet(t.sink_main_path)
    assert main.count() == first
    assert main.select("id").distinct().count() == first_ids


def test_dedup_within_watermark_reemits_after_horizon(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate key arriving WITHIN the
    watermark horizon is suppressed; the same key arriving after the
    horizon has passed EMITS again (plain dropDuplicates would suppress
    it forever, holding its state unboundedly)."""
    import pyarrow as pa

    from mongo_to_clickhouse_spark.streaming.pipeline import EVENTS_SCHEMA
    from mongo_to_clickhouse_spark.streaming.util import (
        drain_to_memory,
        stage_batch_files,
    )

    src = os.path.join(str(tmp_path), "src")

    def _batch(rows):
        # rows = [(event_id, minutes_from_epoch_base, key)]
        base = 1_704_067_200_000_000  # 2024-01-01 00:00 in epoch-us
        return pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [base + r[1] * 60_000_000 for r in rows], pa.int64()
            ).cast(pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([r[2] for r in rows]),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        })

    # horizon = 10 min. t=0 'a' (emit), t=2 'a' dup (suppress), t=5 'b'
    # (emit). State expiry is WATERMARK-driven, and the watermark a batch
    # uses comes from prior batches — so a middle batch ('c' at t=40)
    # advances the clock past 'a's t0+10min expiry, and only then does
    # the final batch's t=60 'a' re-emit (it would be suppressed if it
    # arrived while the state was still live, however far its own
    # event time is).
    stage_batch_files(src, [
        _batch([(1, 0, "a"), (2, 2, "a"), (3, 5, "b")]),
        _batch([(5, 40, "c")]),
        _batch([(6, 45, "d")]),  # wm now t30: 'a' state evicts
        _batch([(4, 60, "a")]),
    ])

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "event_type")
    )
    got = {(r["event_id"], r["event_type"]) for r in drain_to_memory(stream).collect()}
    assert got == {(1, "a"), (3, "b"), (5, "c"), (6, "d"), (4, "a")}, got
