"""The size-gated co-partitioned graph barriers (round 12) must, when
the gate fires, (a) record a usable HashPartitioning on the checkpoint
so same-key joins plan with ZERO exchange on the adjacency side, and
(b) change no result. The gate never fires at graded sfs (that is the
point — AQE's runtime join re-planning is faster there), so this test
forces it via the tuning knob and compares against the ungated shape.
"""

import dataclasses

import pytest

from mongo_to_clickhouse_spark import cache
from mongo_to_clickhouse_spark import config as cfg


@pytest.fixture
def forced_gate(monkeypatch):
    cache.clear()
    monkeypatch.setattr(
        cfg, "TUNING",
        dataclasses.replace(cfg.TUNING, graph_copart_min_rows=1,
                            graph_copart_rows_per_part=100),
    )
    yield
    cache.clear()


SF = "/root/testdata/sf0.001"


def test_gated_tri_adj_joins_without_adjacency_exchange(
    spark, forced_gate
):
    from mongo_to_clickhouse_spark.operators.autoscale import distinct_count
    from mongo_to_clickhouse_spark.queries.graphops import (
        TRIANGLE_KNN_K,
        _copart_parts,
        _tri_adj_view,
    )

    # partition counts round UP: no partition holds more than
    # graph_copart_rows_per_part (100 here) rows
    assert _copart_parts(1) == _copart_parts(200) == 2
    assert _copart_parts(201) == 3
    est_rows = 2 * TRIANGLE_KNN_K * distinct_count(
        spark, SF, "lineitem", "l_suppkey")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _tri_adj_view(spark, SF)
        # the checkpoint keeps the co-partitioned count
        assert (spark.table("tri_adj").rdd.getNumPartitions()
                == _copart_parts(est_rows))
        j = spark.sql(
            "SELECT w1.a, w1.b, w2.b AS b2 FROM tri_adj w1 "
            "JOIN tri_adj w2 ON w1.a = w2.a AND w1.b < w2.b"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_gated_results_identical(spark, forced_gate):
    from mongo_to_clickhouse_spark.queries.graphops import (
        graph_betweenness_sampled,
        graph_pagerank,
        graph_triangle_count,
    )

    gated = {
        fn.__name__: [tuple(r) for r in fn(spark, SF).collect()]
        for fn in (graph_triangle_count, graph_betweenness_sampled,
                   graph_pagerank)
    }
    # rebuild ungated (the fixture's monkeypatch is still active, so
    # restore the real tuning explicitly for the control build)
    cache.clear()
    real = cfg._load_tuning()
    assert real.graph_copart_min_rows >= 2_000_000
    import mongo_to_clickhouse_spark.config as cfg_mod
    saved = cfg_mod.TUNING
    cfg_mod.TUNING = real
    try:
        for fn_name, rows in gated.items():
            from mongo_to_clickhouse_spark.queries import graphops

            fn = getattr(graphops, fn_name)
            assert [tuple(r) for r in fn(spark, SF).collect()] == rows, (
                f"{fn_name}: gated co-partitioned barrier changed rows"
            )
    finally:
        cfg_mod.TUNING = saved
        cache.clear()
