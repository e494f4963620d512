"""literal_rows_df must be a drop-in for spark.createDataFrame(list):
same rows, same schema, no Python-RDD fan-out (optimization round 2 —
the 32-slice parallelize cost ~45 s of executor time for a 4-row BPE
result at local[32])."""

import pytest
from pyspark.errors import PySparkTypeError

from mongo_to_clickhouse_spark.operators.literalrel import literal_rows_df


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1, "a b", 4), (2, "it's \\ 'quoted'", 3)],
         "round int, pair string, pair_count bigint"),
        ([(0, 17, -3)],
         "component LONG, gram_diag_dev_u LONG, gram_offdiag_dev_u LONG"),
        ([(j, j * 10, 0.25) for j in range(64)],  # > 64 scalars: RDD path
         "i bigint, dir_micro bigint, rayleigh double"),
        ([], "round int, pair string, pair_count bigint"),
    ],
)
def test_matches_createDataFrame(spark, rows, schema):
    got = literal_rows_df(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert [f.simpleString() for f in got.schema.fields] == [
        f.simpleString() for f in ref.schema.fields
    ]
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_unicode_and_newline_strings(spark):
    rows = [(1, "π ≠\n tab\t end", 2)]
    got = literal_rows_df(spark, rows, "r int, pair string, c bigint")
    assert [tuple(r) for r in got.collect()] == rows


def test_small_payload_plans_no_python_stage(spark):
    df = literal_rows_df(spark, [(1, "x", 2)],
                         "r int, pair string, c bigint")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                 "Scan ExistingRDD"):
        assert node not in plan


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1.7,)], "v int"),
        ([(True,)], "v bigint"),
        ([("12",)], "v int"),
        ([(1, "a"), (2.5, "b")], "r int, pair string"),  # second row bad
        ([(j, j, 0.5) for j in range(30)] + [(30, 30, "x")],  # RDD path
         "i bigint, j bigint, x double"),
    ],
)
def test_bad_literal_values_raise_like_createDataFrame(spark, rows, schema):
    # the lit().cast() build would coerce these silently (1.7 -> 1,
    # True -> 1, "12" -> 12); createDataFrame rejects them, so must this
    with pytest.raises(PySparkTypeError):
        spark.createDataFrame(rows, schema)
    with pytest.raises(PySparkTypeError):
        literal_rows_df(spark, rows, schema)
