"""Z-order clustered parquet sink (multi-dimensional file skipping).

The reference's sink tier writes append-only inserts
(`src/main.rs` batch insert path); data layout for read-side pruning is
left to ClickHouse's ORDER BY key, which clusters ONE dimension. This ID
is the lakehouse-side answer for ≥2 filter dimensions: Morton-key
clustering before the parquet write, so min/max footer stats prune files
for BOTH `user_id` and `value` predicates. See operators/zorder.py for
the scale argument and tests/test_zorder.py for the layout pin.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_to_clickhouse_spark.io import cached_work_dir, load_table
from mongo_to_clickhouse_spark.operators.zorder import (
    ZBITS,
    dense_bucket,
    dense_bucket_sql,
    interleave_bits,
    interleave_bits_sql,
)

ZORDER_FILES = 16  # range partitions = parquet files in the clustered layout


def _with_zkey(ev: DataFrame) -> DataFrame:
    """events + Morton key over (user_id, floor(value*100)) buckets."""
    v100 = F.floor(F.col("value") * 100).cast("bigint")
    ev = ev.select("event_id", "user_id", v100.alias("v100"))
    bounds = ev.agg(
        F.min("user_id").alias("mu"),
        F.max("user_id").alias("xu"),
        F.min("v100").alias("mv"),
        F.max("v100").alias("xv"),
    )
    return ev.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "user_id",
        "v100",
        interleave_bits(
            dense_bucket(F.col("user_id"), F.col("mu"), F.col("xu")),
            dense_bucket(F.col("v100"), F.col("mv"), F.col("xv")),
        ).alias("zkey"),
    )


def zorder_write(ev: DataFrame, out: str, n_files: int = ZORDER_FILES) -> None:
    """Cluster by Morton key and write: one range exchange, sorted files,
    bounded per-file min/max spread on BOTH dimensions."""
    (
        _with_zkey(ev)
        .repartitionByRange(n_files, "zkey")
        .sortWithinPartitions("zkey")
        .write.parquet(out)
    )


def sink_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the z-order clustered layout, read it back, and return the
    per-row Morton key assignment — the oracle-checkable contract of the
    write (the file-level clustering property itself is pinned by
    tests/test_zorder.py, which Spark alone can observe)."""
    def _build(root: str) -> None:
        zorder_write(
            load_table(spark, sf_dir, "events"), os.path.join(root, "events_z")
        )

    out = os.path.join(
        cached_work_dir(spark, "zsink", sf_dir, ("events",), _build), "events_z"
    )
    return (
        spark.read.parquet(out)
        .select("event_id", "zkey")
        .orderBy("event_id")
    )


_XB = dense_bucket_sql("user_id", "mu", "xu")
_YB = dense_bucket_sql("v100", "mv", "xv")

SINK_ZORDER_CLUSTER_SQL = f"""
    WITH ev AS (
        SELECT event_id, user_id,
               CAST(floor(value * 100) AS BIGINT) AS v100
        FROM events
    ),
    bounds AS (
        SELECT MIN(user_id) AS mu, MAX(user_id) AS xu,
               MIN(v100) AS mv, MAX(v100) AS xv
        FROM ev
    )
    SELECT event_id, {interleave_bits_sql(f"({_XB})", f"({_YB})", ZBITS)} AS zkey
    FROM ev, bounds
    ORDER BY event_id
"""


COMPACT_SMALL_FILES = 64       # synthesized small-files problem
COMPACT_ADVISORY = "4MB"       # AQE rebalance target per output file


def compact_binpack(spark: SparkSession, src_dir: str, out_dir: str) -> None:
    """Bin-pack compaction of a small-files layout: one AQE REBALANCE
    exchange sized to ``COMPACT_ADVISORY`` per post-shuffle partition →
    one right-sized parquet file each.

    Spark-first shape: REBALANCE is the purpose-built operator — AQE
    both COALESCES undersized partitions and SPLITS oversized
    (skew-safe, unlike coalesce(n) which can only merge and keeps any
    giant partition giant). The advisory size is the one knob; no
    hand-computed file counts, so the same code is correct at 64 files
    or 64 million. This is the maintenance job every append-heavy
    ingest (the reference's insert pattern) needs to keep scans from
    dying of per-file open/footer overhead."""
    conf_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, COMPACT_ADVISORY)
    try:
        df = spark.read.parquet(src_dir)
        df.createOrReplaceTempView("compact_src")
        # plans are optimized at action time — write inside the conf window
        spark.sql("SELECT /*+ REBALANCE */ * FROM compact_src").write.mode(
            "overwrite"
        ).parquet(out_dir)
    finally:
        if saved is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, saved)


def sink_compaction_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the small-files problem (events scattered across
    ``COMPACT_SMALL_FILES`` parquet files — the natural output of many
    micro-batch appends), compact with ``compact_binpack``, and return
    per-type accounting read FROM THE COMPACTED LAYOUT — the
    oracle-checkable contract that compaction is content-preserving.
    The file-count collapse itself is pinned by
    tests/test_zorder.py::test_compaction_binpacks_small_files."""
    def _build(root: str) -> None:
        small = os.path.join(root, "small")
        load_table(spark, sf_dir, "events").repartition(
            COMPACT_SMALL_FILES
        ).write.parquet(small)
        compact_binpack(spark, small, os.path.join(root, "packed"))

    packed = os.path.join(
        cached_work_dir(spark, "compact", sf_dir, ("events",), _build), "packed"
    )
    return (
        spark.read.parquet(packed)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


SINK_COMPACTION_BINPACK_SQL = """
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
"""


from mongo_to_clickhouse_spark.operators.zorder import hilbert_stages_sql

LOCALITY_BUCKET = 64  # rows per simulated file in the locality report


def _hilbert_keys_view(spark: SparkSession, sf_dir: str) -> None:
    """Register ``hilbert_pts`` = events + (hx, hy) dense buckets + zkey
    (Spark Column spellings; the Hilbert stages themselves are
    engine-shared SQL run on top)."""
    ev = load_table(spark, sf_dir, "events")
    v100 = F.floor(F.col("value") * 100).cast("bigint")
    ev = ev.select("event_id", "user_id", v100.alias("v100"))
    bounds = ev.agg(
        F.min("user_id").alias("mu"), F.max("user_id").alias("xu"),
        F.min("v100").alias("mv"), F.max("v100").alias("xv"),
    )
    hx = dense_bucket(F.col("user_id"), F.col("mu"), F.col("xu"))
    hy = dense_bucket(F.col("v100"), F.col("mv"), F.col("xv"))
    ev.crossJoin(F.broadcast(bounds)).select(
        "event_id", "user_id", "v100",
        hx.alias("hx"), hy.alias("hy"),
        interleave_bits(hx, hy).alias("zkey"),
    ).createOrReplaceTempView("hilbert_pts")


def sink_hilbert_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-clustered parquet layout — sink_zorder_cluster's sibling
    on the better curve (every Hilbert step is distance 1, so per-file
    bounding boxes stay tighter than Morton's quadrant jumps; measured
    by profile_layout_locality). Writes the range-partitioned layout,
    reads it back, returns the per-row key assignment; the unrolled
    8-round xy→d ladder is exact BIGINT and engine-shared
    (operators/zorder.py:hilbert_stages_sql, validated exhaustively
    against a pure-Python reference on the full 256x256 lattice).

    Scale posture: bounds are one broadcast 1-row agg; the ladder is 8
    narrow projections; the clustered write is one range exchange —
    identical plan shape to the Morton sink."""
    def _build(root: str) -> None:
        _hilbert_keys_view(spark, sf_dir)
        keyed = spark.sql(
            f"WITH {hilbert_stages_sql('hilbert_pts', 'event_id')}"
            " SELECT event_id, hd AS hkey FROM h8"
        )
        (
            keyed.repartitionByRange(ZORDER_FILES, "hkey")
            .sortWithinPartitions("hkey")
            .write.parquet(os.path.join(root, "events_h"))
        )

    out = os.path.join(
        cached_work_dir(spark, "hsink", sf_dir, ("events",), _build), "events_h"
    )
    return (
        spark.read.parquet(out)
        .select("event_id", "hkey")
        .orderBy("event_id")
    )


_DUCK_PTS = f"""
    ev AS (
        SELECT event_id, user_id,
               CAST(floor(value * 100) AS BIGINT) AS v100
        FROM events
    ),
    bounds AS (
        SELECT MIN(user_id) AS mu, MAX(user_id) AS xu,
               MIN(v100) AS mv, MAX(v100) AS xv
        FROM ev
    ),
    pts AS (
        SELECT event_id, user_id, v100,
               ({dense_bucket_sql("user_id", "mu", "xu")}) AS hx,
               ({dense_bucket_sql("v100", "mv", "xv")}) AS hy,
               {interleave_bits_sql(
                   f"({dense_bucket_sql('user_id', 'mu', 'xu')})",
                   f"({dense_bucket_sql('v100', 'mv', 'xv')})",
                   ZBITS)} AS zkey
        FROM ev, bounds
    )
"""

SINK_HILBERT_CLUSTER_SQL = f"""
    WITH {_DUCK_PTS},
    {hilbert_stages_sql("pts", "event_id")}
    SELECT event_id, hd AS hkey FROM h8 ORDER BY event_id
"""


def _locality_report_sql(unioned_rel: str) -> str:
    """Report half of the locality tail: per-(ordering, bucket) spans →
    per-ordering mean span — shared by the Spark branch plan (which
    builds ``unioned`` itself from three independent rank branches) and
    the oracle CTE chain."""
    return f"""
        per AS (
            SELECT ordering, bucket,
                   MAX(user_id) - MIN(user_id) AS su,
                   MAX(v100) - MIN(v100) AS sv
            FROM {unioned_rel} GROUP BY ordering, bucket
        )
        SELECT ordering,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(floor(SUM(su) * 1000e0 / COUNT(*)) AS BIGINT)
                   AS avg_user_span_milli,
               CAST(floor(SUM(sv) * 1000e0 / COUNT(*)) AS BIGINT)
                   AS avg_value_span_milli
        FROM per GROUP BY ordering ORDER BY ordering
    """


def _locality_tail(ranked_rel: str) -> str:
    """Shared tail over (rk_nat, rk_z, rk_h, user_id, v100): bucket the
    three orderings into {LOCALITY_BUCKET}-row simulated files and
    report each ordering's mean per-file span on BOTH dimensions —
    smaller = better min/max pruning."""
    b = LOCALITY_BUCKET
    return f"""
        unioned AS (
            SELECT 'a_natural' AS ordering,
                   CAST(floor((rk_nat - 1) / {b}e0) AS BIGINT) AS bucket,
                   user_id, v100 FROM {ranked_rel}
            UNION ALL
            SELECT 'b_zorder',
                   CAST(floor((rk_z - 1) / {b}e0) AS BIGINT),
                   user_id, v100 FROM {ranked_rel}
            UNION ALL
            SELECT 'c_hilbert',
                   CAST(floor((rk_h - 1) / {b}e0) AS BIGINT),
                   user_id, v100 FROM {ranked_rel}
        ),
        {_locality_report_sql("unioned")}
    """


def profile_layout_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-quality report: mean per-file (min,max) span of BOTH
    filter dimensions under natural, Morton, and Hilbert orderings —
    see _locality_tail. This is the number that justifies paying for a
    clustered rewrite: the clustered curves cut both spans by orders
    of magnitude vs arrival order, and Hilbert ≤ Morton.

    Scale posture: keys are narrow projections; the three global ranks
    run as ONE fused rank pass over an exploded (ordering, skey)
    relation (round 11: previously the ranks were CHAINED through three
    serial checkpoint barriers, then three INDEPENDENT literal-bounds
    branches — 3 window exchanges + 3 count aggregates, each scanning
    the barriered key relation twice. The branches now ``stack`` into
    one 3n-row relation; the partitioned window keys on
    (ordering, __pid) where __pid is the per-ordering literal-bounds
    bucket expression, so the fused pass costs ONE hash exchange of the
    same total bytes the three branch exchanges moved, scans the
    barrier twice instead of six times, and keeps every boundary from
    the single shared driver aggregate); span aggregation is map-side
    combined on (ordering, bucket)."""
    from mongo_to_clickhouse_spark.operators.materialize import barrier
    from mongo_to_clickhouse_spark.operators.rank import (
        _default_partitions,
        _pid_expr,
        literal_bounds,
    )
    from pyspark.sql.window import Window

    _hilbert_keys_view(spark, sf_dir)
    keyed = barrier(spark.sql(
        f"WITH {hilbert_stages_sql('hilbert_pts', 'event_id, user_id, v100, zkey')}"
        " SELECT event_id, user_id, v100, zkey, hd FROM h8"
    ))
    b = LOCALITY_BUCKET
    # all three orderings' bucket boundaries in ONE driver aggregate
    bounds = literal_bounds(
        keyed,
        {
            k: (F.col(k), F.col("event_id"))
            for k in ("event_id", "zkey", "hd")
        },
        _default_partitions(spark, keyed),
    )

    ex = keyed.select(
        "user_id", "v100", "event_id",
        F.expr(
            "stack(3, 'a_natural', event_id, 'b_zorder', zkey,"
            " 'c_hilbert', hd) AS (ordering, skey)"
        ),
    )
    pid = (
        F.when(F.col("ordering") == "a_natural",
               _pid_expr(bounds["event_id"], F.col("skey"),
                         F.col("event_id")))
        .when(F.col("ordering") == "b_zorder",
              _pid_expr(bounds["zkey"], F.col("skey"), F.col("event_id")))
        .otherwise(_pid_expr(bounds["hd"], F.col("skey"),
                             F.col("event_id")))
    )
    parted = ex.withColumn("__pid", pid)
    order = [F.col("skey"), F.col("event_id")]
    local = parted.withColumn(
        "__lrank",
        F.row_number().over(
            Window.partitionBy("ordering", "__pid").orderBy(*order)
        ),
    )
    counts = parted.groupBy("ordering", "__pid").agg(
        F.count("*").alias("__cnt")
    )
    prior = counts.select(
        F.col("ordering").alias("__qord"),
        F.col("__pid").alias("__qid"),
        F.col("__cnt").alias("__prior"),
    )
    offsets = (
        counts.join(
            F.broadcast(prior),
            (F.col("__qord") == F.col("ordering"))
            & (F.col("__qid") < F.col("__pid")),
            "left",
        )
        .groupBy("ordering", "__pid")
        .agg(F.coalesce(F.sum("__prior"), F.lit(0)).alias("__off"))
    )
    un = (
        local.join(F.broadcast(offsets), ["ordering", "__pid"])
        .select(
            "ordering",
            F.expr(
                f"CAST(floor((__off + __lrank - 1) / {b}e0) AS BIGINT)"
            ).alias("bucket"),
            "user_id", "v100",
        )
    )
    un.createOrReplaceTempView("locality_unioned")
    return spark.sql(f"WITH {_locality_report_sql('locality_unioned')}")


PROFILE_LAYOUT_LOCALITY_SQL = f"""
    WITH {_DUCK_PTS},
    {hilbert_stages_sql("pts", "event_id, user_id, v100, zkey")},
    ranked AS (
        SELECT user_id, v100,
               ROW_NUMBER() OVER (ORDER BY event_id) AS rk_nat,
               ROW_NUMBER() OVER (ORDER BY zkey, event_id) AS rk_z,
               ROW_NUMBER() OVER (ORDER BY hd, event_id) AS rk_h
        FROM h8
    ),
    {_locality_tail("ranked")}
"""


QUERIES: dict[str, tuple] = {
    "sink_hilbert_cluster": (sink_hilbert_cluster, SINK_HILBERT_CLUSTER_SQL),
    "profile_layout_locality": (
        profile_layout_locality,
        PROFILE_LAYOUT_LOCALITY_SQL,
    ),
    "sink_zorder_cluster": (sink_zorder_cluster, SINK_ZORDER_CLUSTER_SQL),
    "sink_compaction_binpack": (
        sink_compaction_binpack,
        SINK_COMPACTION_BINPACK_SQL,
    ),
}
