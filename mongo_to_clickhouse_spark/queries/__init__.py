"""Query registry: every declared operator ID from SURVEY §2 maps to a
``(spark_fn, oracle_sql | None)`` pair. ``__spark_entry__.py`` re-exports
this as the driver contract."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mongo_to_clickhouse_spark.queries import (
    analytics,
    analytics_ext,
    bizops,
    cdcops,
    clickhouseops,
    core,
    corpusops,
    dedupops,
    evalops,
    graphops,
    joinops,
    pipelineops,
    relational_ext,
    sampleops,
    sketchops,
    statsops,
    streamops,
    streamruntime,
    textops,
    tokenizerops,
    tpch,
    tpch_ext,
    vectorops,
    zorderops,
)

_MODULES = [
    analytics,
    analytics_ext,
    bizops,
    cdcops,
    clickhouseops,
    core,
    corpusops,
    dedupops,
    evalops,
    graphops,
    joinops,
    pipelineops,
    relational_ext,
    sampleops,
    sketchops,
    statsops,
    streamops,
    streamruntime,
    textops,
    tokenizerops,
    tpch,
    tpch_ext,
    vectorops,
    zorderops,
]


#: Ids whose function does its work when called: it starts a stream,
#: drains a tenant or writes sinks instead of returning a lazy batch
#: plan. The plan audit, the plan tests and the scale rehearsal skip
#: them; the streaming suites pin them instead.
RUNS_ON_CALL = frozenset({
    "checkpoint_resume_token",
    "metric_throughput",
    "sink_dlq_log",
    "source_changestream",
    "stream_cache_invalidate",
    "stream_cdc_state_merge",
    "stream_chained_windows",
    "stream_dedup_by_key",
    "stream_dedup_within_watermark",
    "stream_dlq_retry_loop",
    "stream_ivf_index_upsert",
    "stream_microbatch_assembly",
    "stream_minhash_index_upsert",
    "stream_multitenant_fanout",
    "stream_pipeline_cdc",
    "stream_rate_limited_trigger",
    "stream_retry_backoff",
    "stream_session_timeout_eviction",
    "stream_stateful_running_agg",
    "stream_stream_join",
    "stream_stream_outer_join",
    "stream_transform_with_state",
    "stream_watermark_late_drop",
})


def registry() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    merged: dict[str, tuple] = {}
    for mod in _MODULES:
        for key, pair in mod.QUERIES.items():
            if key in merged:
                raise KeyError(f"duplicate query id {key!r}")
            merged[key] = pair
    return merged


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: fn for k, (fn, _sql) in registry().items()}


def oracle_sql() -> dict[str, str]:
    return {k: sql for k, (_fn, sql) in registry().items() if sql is not None}
