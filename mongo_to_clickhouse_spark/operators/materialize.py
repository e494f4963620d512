"""Cluster-safe materialization barriers.

``localCheckpoint`` stores blocks executor-local WITHOUT lineage — on a
real cluster an executor loss makes every dependent job unrecoverable.
The replacement here is a RELIABLE ``checkpoint``: rows are written to
the context's checkpoint directory (point ``setCheckpointDir`` at
HDFS/S3 on a cluster; a local temp dir is auto-configured otherwise), so
the materialization survives executor loss, and lineage is truncated,
which iterative algorithms (connected components) need — ``persist``
alone lets per-round plans nest until driver analysis itself OOMs.

Checkpointing also keeps the plan barrier the dedup operators rely on:
the checkpointed relation is scanned as a leaf, so Catalyst cannot
collapse upstream array-building projections into a downstream
``Generate`` (the explode-recompute fix, ~100× measured at sf0.1).

Why not ``persist(DISK_ONLY)``: measured 6× slower end-to-end on the
MinHash-LSH pipeline — Spark's columnar cache encodes/decodes
``array<string>`` shingle columns through the slow generic path, while
checkpoint files store raw rows. Checkpoint is both the fast and the
fault-tolerant option here.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame

from mongo_to_clickhouse_spark import cache


def reliable_checkpoint(
    df: DataFrame, preserve_partitioning: bool = False
) -> DataFrame:
    """Eagerly materialize ``df`` to reliable storage and truncate lineage.

    Partitioning is deliberately left as-is: repartitioning before the
    checkpoint (to parallelize downstream explodes when the source is a
    single parquet split) was measured NET-SLOWER at sf0.1 — the extra
    full-relation shuffle ahead of the checkpoint write costs more than
    the serial explode it saves. At real input sizes the source splits
    provide the parallelism anyway.

    ``preserve_partitioning=True`` is for the opposite regime — iterative
    DP stages whose downstream plan joins MANY checkpointed leaves on one
    key (the unigram soft-EM posterior: ~40 legs). ``Dataset.checkpoint``
    records the physical plan's outputPartitioning in the LogicalRDD it
    leaves behind, but ONLY when the physical plan is not adaptive:
    under AQE the plan is an AdaptiveSparkPlanExec whose partitioning is
    reported unknown, so every downstream join re-exchanges each leaf
    (measured: 63 exchanges in the soft-EM posterior). The flag disables
    AQE just for this materialization, so an explicit
    ``repartition(n, key)`` upstream survives the checkpoint and the
    downstream joins plan with ZERO exchanges — verified by the probe in
    tests/test_plan_budget.py. The caller must pair it with a numbered
    repartition on the join key; AQE is restored immediately after.

    Concurrency: the flag toggles the session-global
    ``spark.sql.adaptive.enabled`` conf for the duration of the
    checkpoint write, so it assumes no other query is being PLANNED on
    the same SparkSession concurrently (executing jobs are unaffected —
    the conf is read at planning time). The query registry is driven
    single-threaded by the harness; a multi-threaded caller must
    serialize preserve_partitioning barriers or use a separate
    session."""
    spark = df.sparkSession
    sc = spark.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(tempfile.mkdtemp(prefix="spark-graft-ckpt-"))
    if not preserve_partitioning:
        return df.checkpoint(eager=True)
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.checkpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


# the materialization barrier used before every explode-heavy consumer
barrier = reliable_checkpoint


def cached_barrier(spark, sf_dir, name, build, tables=("documents",),
                   preserve_partitioning=False):
    """``barrier(build())`` memoized in ``cache``, rebuilt when a source
    table in ``tables`` changes on disk. The materialized (doc_id,
    tokens/shingles/window-hash) relations are pure functions of the
    fixture, and a checkpoint WRITE costs ~0.3-1.1 s at sf0.1 — the
    dominant fixed cost of the gram/minhash family under repeated
    calls. The cached DataFrame re-reads its checkpoint files on reuse."""
    key = f"barrier/{name}" + ("/copart" if preserve_partitioning else "")
    return cache.get(
        spark, sf_dir, key,
        lambda: barrier(build(), preserve_partitioning=preserve_partitioning),
        tables,
    )


def cached_barrier_view(spark, sf_dir, name, build, tables=("documents",),
                        preserve_partitioning=False):
    """``cached_barrier`` + temp view registration on every call (so
    interleaved sf_dirs in one session always see their own data)."""
    cached_barrier(
        spark, sf_dir, name, build, tables,
        preserve_partitioning=preserve_partitioning,
    ).createOrReplaceTempView(name)
    return name
