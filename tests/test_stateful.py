"""applyInPandasWithState: state must persist ACROSS micro-batches —
verified by splitting the source into multiple files with
maxFilesPerTrigger=1 and checking the final totals equal the batch
groupBy."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mongo_to_clickhouse_spark.io import load_table
from mongo_to_clickhouse_spark.streaming.pipeline import EVENTS_SCHEMA
from mongo_to_clickhouse_spark.streaming.stateful import running_user_totals
from mongo_to_clickhouse_spark.streaming.util import (
    drain_to_memory,
    stage_events_source,
)

SRC = "/root/testdata/sf0.001"


def test_stateful_running_totals_across_batches(spark, tmp_path):
    src = os.path.join(str(tmp_path), "source")
    stage_events_source(SRC, src, parts=3)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state_out = drain_to_memory(running_user_totals(stream), "update")

    # latest emission per user == batch ground truth
    latest = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    out = (
        state_out.withColumn("rn", F.row_number().over(latest))
        .where("rn = 1")
        .select("user_id", "n_events", "total_value")
    )
    truth = (
        load_table(spark, SRC, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in out.collect()}
    exp = {r["user_id"]: (r["n_events"], r["total_value"]) for r in truth.collect()}
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0]
        assert abs(got[k][1] - exp[k][1]) < 0.05
    # state really crossed micro-batches: some user must have been emitted
    # in more than one batch with growing counts
    multi = state_out.groupBy("user_id").count().where("count > 1")
    assert multi.count() > 0


def test_stream_cdc_merge_equals_batch_reconstruction(spark):
    """The applyInPandasWithState CDC merge, drained file-by-file, must
    produce EXACTLY the batch window reconstruction — same docs, same
    final field values, same op counts (arrival-order invariance)."""
    from mongo_to_clickhouse_spark.queries.cdcops import cdc_apply_oplog
    from mongo_to_clickhouse_spark.queries.streamruntime import (
        stream_cdc_state_merge,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r.doc_id: (r.field_a, r.field_b, r.n_ops)
        for r in cdc_apply_oplog(spark, sf).collect()
    }
    stream = {
        r.doc_id: (r.field_a, r.field_b, r.n_ops)
        for r in stream_cdc_state_merge(spark, sf).collect()
    }
    assert stream == batch


def test_idle_timeout_eviction_closes_each_session_once(spark):
    """Sessions must emit exactly once — on the eviction batch after
    their bucket goes idle — with aggregates equal to the batch ground
    truth; the sentinel key (still open at shutdown) must NOT emit."""
    from mongo_to_clickhouse_spark.queries.streamruntime import (
        stream_session_timeout_eviction,
    )

    rows = stream_session_timeout_eviction(spark, SRC).collect()
    assert rows, "no sessions evicted"
    assert {r.closed_by for r in rows} == {"idle_timeout"}
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users)), "a session closed more than once"
    assert -1 not in users, "sentinel session must stay open in state"

    truth = {
        r.user_id: r
        for r in load_table(spark, SRC, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("first_us"),
            F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("last_us"),
        )
        .collect()
    }
    # the sentinel's event time pushes the final watermark past every
    # real user's last_event + gap deadline — i.e. every real user closes
    emitted = {r.user_id: r for r in rows}
    assert set(emitted) == set(truth)
    for uid, r in emitted.items():
        t = truth[uid]
        assert (r.n_events, r.first_us, r.last_us) == (t.n, t.first_us, t.last_us)


def test_transform_with_state_matches_batch_aggregate(spark):
    """Whichever API carries the op (transformWithStateInPandas when
    protobuf exists, the applyInPandasWithState twin otherwise), the
    final per-user state must equal the batch aggregate."""
    from mongo_to_clickhouse_spark.queries.streamruntime import (
        stream_transform_with_state,
    )

    got = {
        r.user_id: (r.n_events, r.total_cents)
        for r in stream_transform_with_state(spark, SRC).collect()
    }
    want = {
        r.user_id: (r.n, r.cents)
        for r in load_table(spark, SRC, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("cents"),
        )
        .collect()
    }
    assert got == want


def test_transform_with_state_uses_modern_api_when_available(spark):
    """Runs the real transformWithStateInPandas path; skipped where the
    state-server protocol's protobuf dependency is absent."""
    import pytest

    from mongo_to_clickhouse_spark.streaming.stateful import tws_available

    if not tws_available():
        pytest.skip("protobuf not installed: TWS state server unavailable")
    from mongo_to_clickhouse_spark.streaming.stateful import (
        running_user_totals_tws,  # noqa: F401 — exercised via the query
    )
    from mongo_to_clickhouse_spark.queries.streamruntime import (
        stream_transform_with_state,
    )

    assert stream_transform_with_state(spark, SRC).count() > 0
