"""Watermark late-data semantics: events arriving in a later micro-batch
with timestamps older than (max event time seen − watermark) must be
DROPPED from append-mode windowed aggregation."""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import functions as F

from mongo_to_clickhouse_spark.streaming.pipeline import EVENTS_SCHEMA
from mongo_to_clickhouse_spark.streaming.util import (
    drain_to_memory,
    stage_batch_files,
)


def _events(rows: list[tuple[int, str]]) -> pa.Table:
    """rows = [(event_id, iso_ts)] with the fixture's column set."""
    import datetime as dt

    ids = [r[0] for r in rows]
    ts = [
        int(dt.datetime.fromisoformat(r[1]).replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        for r in rows
    ]
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["x"] * len(rows)),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        }
    )


def test_late_rows_dropped_beyond_watermark(spark, tmp_path):
    """Spark applies the watermark with a one-batch lag (the watermark used
    by batch N is derived from data through batch N-1), so the too-late row
    is staged two batches after the event that advanced the clock."""
    src = os.path.join(str(tmp_path), "src")
    stage_batch_files(src, [
        # batch 0: events up to 12:00 → watermark (for batch 1+) = 11:50
        _events([(1, "2024-01-01T10:05"), (2, "2024-01-01T10:20"),
                 (3, "2024-01-01T12:00")]),
        # batch 1: benign row — watermark 11:50 now definitely in force
        _events([(4, "2024-01-01T12:05")]),
        # batch 2: too-late row — its [10:00, 11:00) window end is below
        # the 11:50 watermark → must be dropped
        _events([(5, "2024-01-01T10:30")]),
    ])

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("ws"), "n")
    )
    out = {r["ws"]: r["n"] for r in drain_to_memory(stream).collect()}

    # the late 10:30 row must NOT appear in the finalized 10:00 window
    assert out.get("2024-01-01 10:00") == 2, out
    # open windows (12:00) are never emitted in append mode
    assert "2024-01-01 12:00" not in out
