"""Physical-plan regression tests — the scale claims, pinned.

These assert the properties that make the engine viable at 100 TB:
predicate pushdown reaching the parquet scan, dimension joins going
broadcast, rank-limit windows using WindowGroupLimit (per-partition
heaps), global top-k using TakeOrderedAndProject, and bucketed joins
eliminating the shuffle. A refactor that silently loses one of these
still passes correctness tests — only these catch it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongo_to_clickhouse_spark.io import load_table
from mongo_to_clickhouse_spark.queries.core import (
    filter_timestamp_range,
    sink_clickhouse_insert,
)
from mongo_to_clickhouse_spark.queries.relational_ext import (
    sort_limit_topk,
    window_rank_topk_per_group,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ts_range_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(filter_timestamp_range(spark, sf_dir))
    assert "GreaterThanOrEqual(ts," in plan and "LessThanOrEqual(ts," in plan, (
        "events.ts range must be pushed to the parquet scan (raw nanos col)"
    )


def test_flagship_routing_is_broadcast(spark, sf_dir):
    plan = _plan(sink_clickhouse_insert(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # actor join + anti-join
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan, "fact side must never shuffle-sort"


def test_flagship_scan_prunes_columns(spark, sf_dir):
    plan = _plan(sink_clickhouse_insert(spark, sf_dir))
    # customer scans must read only the join/name columns, never acctbal etc.
    assert "c_acctbal" not in plan and "c_mktsegment" not in plan


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    plan = _plan(window_rank_topk_per_group(spark, sf_dir))
    assert "WindowGroupLimit" in plan, (
        "rank<=k filter must push into per-partition top-k heaps"
    )


def test_global_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(sort_limit_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "orderBy().limit() must not global-sort"


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketing both sides on the join key co-locates partitions: the
    join plans with ZERO Exchange operators — the 100 TB repeated-join
    pattern (write once bucketed, join many times shuffle-free)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS buckdemo")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    lineitem = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("buckdemo.orders_b")
    )
    (
        lineitem.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("buckdemo.lineitem_b")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("buckdemo.lineitem_b").join(
            spark.table("buckdemo.orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(j)
        assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan}"
        assert j.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS buckdemo.lineitem_b")
        spark.sql("DROP TABLE IF EXISTS buckdemo.orders_b")


def test_range_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    """The bucketed decomposition must plan the interval containment as a
    hash equi-join on `bucket`; a BroadcastNestedLoopJoin means the theta
    join leaked through (quadratic at scale)."""
    from mongo_to_clickhouse_spark.queries.joinops import join_range_interval

    plan = _plan(join_range_interval(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan, "range join must never nested-loop"


def test_training_pipeline_single_scan(spark, sf_dir):
    """The composed corpus pipeline reads documents exactly once — the
    stages fuse instead of rescanning per stage."""
    from mongo_to_clickhouse_spark.queries.pipelineops import (
        pipeline_training_corpus,
    )

    plan = _plan(pipeline_training_corpus(spark, sf_dir))
    assert plan.count("documents.parquet") == 1


def test_cdc_apply_single_hash_exchange(spark, sf_dir):
    from mongo_to_clickhouse_spark.queries.cdcops import cdc_apply_oplog

    plan = _plan(cdc_apply_oplog(spark, sf_dir))
    assert plan.count("hashpartitioning") == 1, (
        "all CDC reconstruction windows must share ONE hash(doc_id) exchange"
    )
    assert "Join" not in plan, "totals must come from windows, not a self-join"


def test_domain_mix_rates_join_is_broadcast(spark, sf_dir):
    from mongo_to_clickhouse_spark.queries.sampleops import domain_mix_sampler

    plan = _plan(domain_mix_sampler(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, (
        "the 20-row rate dim must broadcast; the corpus side must not shuffle"
    )


def test_anomaly_stats_join_is_broadcast(spark, sf_dir):
    from mongo_to_clickhouse_spark.queries.statsops import events_anomaly_zscore

    plan = _plan(events_anomaly_zscore(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "Window" not in plan, (
        "standardization must use groupBy+broadcast, never a full-table window"
    )


def test_narrow_samplers_have_no_exchange(spark, sf_dir):
    from mongo_to_clickhouse_spark.queries.sampleops import sample_stratified
    from mongo_to_clickhouse_spark.queries.vectorops import emb_quantize_int8

    for fn in (sample_stratified, emb_quantize_int8):
        plan = _plan(fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{fn.__name__} must stay map-only"


def _executed(df) -> str:
    # force execution so AQE's final plan (runtime broadcast decisions)
    # is what gets asserted, not the conservative initial plan
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_pq_codebook_and_lut_stay_broadcast(spark, sf_dir):
    from mongo_to_clickhouse_spark.queries.vectorops import sim_ann_pq

    plan = _executed(sim_ann_pq(spark, sf_dir))
    assert "SortMergeJoin" not in plan, (
        "PQ's codebook/LUT sides are KiB-scale and must broadcast — a sort-"
        "merge join here shuffles the full encoded corpus at 100 TB"
    )
    assert "WindowGroupLimit" in plan, "top-k must use per-partition heaps"


def test_bm25_query_terms_broadcast_and_topk_take_ordered(spark, sf_dir):
    from mongo_to_clickhouse_spark.queries.textops import text_bm25_topk

    plan = _executed(text_bm25_topk(spark, sf_dir))
    assert "SortMergeJoin" not in plan, (
        "query-term and df joins must broadcast against the tf relation"
    )
    assert "TakeOrderedAndProject" in plan, "global top-k must not full-sort"


def test_incremental_agg_single_doc_exchange(spark, sf_dir):
    import re

    from mongo_to_clickhouse_spark.queries.cdcops import cdc_incremental_agg

    plan = _executed(cdc_incremental_agg(spark, sf_dir))
    keys = {
        m.split("#")[0].strip()
        for m in re.findall(r"Exchange hashpartitioning\(([^,)]*)", plan)
    }
    assert keys == {"doc_id", "grp"}, (
        f"expected ONE doc_id exchange feeding every window pass (epoch is "
        f"doc_id-subsumed) plus the final group agg; got keys {keys}"
    )


def test_pack_sequences_prefix_sum_is_bucket_partitioned(spark, sf_dir):
    import re

    from mongo_to_clickhouse_spark.queries.pipelineops import pipeline_pack_sequences

    plan = _executed(pipeline_pack_sequences(spark, sf_dir))
    assert re.search(r"windowspecdefinition\(bkt#\d+", plan), (
        "the corpus-sized running sum must partition by bucket — a global "
        "ORDER BY window serializes the whole scan through one task"
    )
    # only the bucket-offset relation (one row per bucket) may gather
    assert plan.count("Exchange SinglePartition") <= 2


def test_substring_spans_no_quadratic_join(spark, sf_dir):
    from mongo_to_clickhouse_spark.queries.dedupops import dedup_substring_spans

    plan = _executed(dedup_substring_spans(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        "window-hash membership must be an equi-(semi-)join, never theta"
    )


def test_dynamic_partition_pruning_reaches_fact_scan(spark, sf_dir):
    """The date-partitioned fact scan must carry a runtime
    dynamicpruningexpression partition filter from the dim's build side —
    the scan-reduction lever for star joins over partitioned layouts."""
    from mongo_to_clickhouse_spark.queries.joinops import (
        join_dynamic_partition_pruning,
    )

    plan = _executed(join_dynamic_partition_pruning(spark, sf_dir))
    assert "dynamicpruning" in plan, (
        "fact scan must be pruned by the dim's runtime keys, not read "
        "every date partition"
    )


def test_runtime_bloom_filter_injected_on_fact_side(spark, sf_dir):
    """With broadcast off and the scan-size gate lowered (cluster-scale
    conditions), the selective dim side must inject a bloom filter into
    the fact side ahead of its shuffle."""
    from mongo_to_clickhouse_spark.queries.joinops import _bloom_joined

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        plan = _executed(_bloom_joined(spark, sf_dir))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "bloomfilter" in plan.lower(), (
        "fact side must be semi-join-reduced by the dim's bloom filter "
        "before the shuffle"
    )


def test_aqe_skew_join_engages_and_its_limits(spark):
    """Pin that this session's AQE config actually SPLITS a skewed
    partition (SortMergeJoin(skew=true)) — and document the two
    conditions that silently disable it, which justify the manual
    salted_join operator (operators/skew.py):

    1. splits happen at MAPPER granularity — a fact side read as one
       input split (single small file) cannot be split at all;
    2. OptimizeSkewedJoin pattern-matches sort-over-shuffle directly —
       any operator between them on EITHER side (e.g. a dim deduped by
       an aggregate) disables the rewrite.
    """
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "50KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        skewed = spark.range(0, 2_000_000).select(
            F.when(F.col("id") < 1_950_000, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v1"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("v2")
        )
        j = skewed.join(dim, "k", "inner").select("v1", "v2")
        # hot key 0 matches dim once; tail keys (1.95M..2M) are all > 999
        assert len(j.collect()) == 1_950_000
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, "AQE must split the hot partition"
    assert "skewed" in plan  # AQEShuffleRead marks the split read


def test_ngram_sweep_plan_fingerprint_is_stable(spark, smoke_sf_dir):
    """Two DISTINCT aggregates in one Aggregate make Catalyst's distinct
    rewrite emit its Expand groups in a run-dependent order, so the
    sweep's fingerprint changed between builds of one checkout."""
    from mongo_to_clickhouse_spark.plans.meta import plan_fingerprint
    from mongo_to_clickhouse_spark.queries.corpusops import (
        decontaminate_ngram_sweep,
    )

    prints = {plan_fingerprint(decontaminate_ngram_sweep(spark, smoke_sf_dir))
              for _ in range(4)}
    assert len(prints) == 1
