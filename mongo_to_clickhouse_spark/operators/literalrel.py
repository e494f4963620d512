"""Driver-literal result relations as pure JVM plans.

The iterative Arrow-round operators (PCA power iteration, Lloyd's
k-means, Gonzalez k-center, BPE training) end with a tiny driver-side
result — O(K)/O(d)/O(rounds) control-plane rows. Returning them through
``spark.createDataFrame(list_of_rows)`` looks free but is not: PySpark
ships the rows as a Python RDD sliced over ``defaultParallelism``, so
every downstream action launches one Python worker per slice just to
deserialize a handful of literals (measured at local[32]: ~45 s of
executor time across 32 tasks for a 4-row BPE merge table — worker
startup, not work). ``literal_rows_df`` builds the same relation as one
array-of-structs literal exploded inline: a single-task, zero-Python,
zero-shuffle JVM plan whose values and schema are identical
(every field is ``lit(value).cast(field_type)``). The cast would
coerce a value of the wrong type silently (1.7 → 1 for an int field),
so every row is first checked with the type verifier
``createDataFrame`` uses, and a bad value raises the same
``PySparkTypeError``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _make_type_verifier


def literal_rows_df(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` without the Python-RDD
    slices: one inline array-of-structs literal. ``rows`` must be small
    control-plane payloads (the caller's boundedness argument applies);
    ``schema`` is a DDL string like ``"round int, pair string"`` or a
    ``StructType``."""
    st = (schema if isinstance(schema, StructType)
          else StructType.fromDDL(schema))
    verify = _make_type_verifier(st)
    for row in rows:
        verify(row)
    if not rows:
        return spark.range(0, 1, 1, 1).where(F.lit(False)).select(
            *[F.lit(None).cast(f.dataType).alias(f.name)
              for f in st.fields]
        )
    if len(rows) * len(st.fields) > 64:
        # Wide literal payloads make the inline expression itself the
        # cost (Catalyst folds + codegen-compiles every scalar per
        # action — measured +0.3 s for PCA's 64x3 result). A SINGLE
        # Python-RDD slice keeps one reused-worker task instead of
        # defaultParallelism of them.
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), st
        )
    structs = [
        F.struct(
            *[F.lit(v).cast(f.dataType).alias(f.name)
              for v, f in zip(row, st.fields)]
        )
        for row in rows
    ]
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.array(*structs))
    )
