"""Every declared (query, oracle) pair must match on sf0.01 — the local
replica of the driver's t2 gate."""

from __future__ import annotations

import pytest

from mongo_to_clickhouse_spark.queries import registry
from tests.oracle_harness import compare, duck_connection, rows_digest

REG = registry()
ORACLE_IDS = sorted(k for k, (_f, sql) in REG.items() if sql is not None)
ROWS_ONLY_IDS = sorted(k for k, (_f, sql) in REG.items() if sql is None)


# Ids that share an oracle with another id yet keep their own function,
# because the point of the id is a different path to the same rows.
SHARED_ORACLE_OWN_PATH = {
    "source_jsonl_scan": "JSONL staging round trip of the documents table",
    "source_csv_scan": "quoted multiLine CSV round trip of the same table",
    "source_orc_scan": "ORC stripe round trip of the same table",
    "stream_pipeline_cdc": "live readStream drain of the batch CDC insert",
    "stream_dlq_retry_loop": "DLQ capture then replay of the same drain",
    "checkpoint_resume_token": "two drains resumed from one checkpoint",
    "stream_microbatch_assembly": "one drain over two staged micro-batches",
    "stream_dedup_by_key": "dropDuplicates with state kept forever",
    "stream_dedup_within_watermark": "dropDuplicatesWithinWatermark state",
}


def test_shared_oracle_ids_share_one_function():
    """Registry ids whose oracle SQL is identical must map to the SAME
    function — one implementation per oracle — unless the id's function
    is that of an id listed above with the reason it is a distinct path."""
    own_path = {REG[q][0] for q in SHARED_ORACLE_OWN_PATH}
    by_sql: dict[str, list[str]] = {}
    for qid in ORACLE_IDS:
        by_sql.setdefault(REG[qid][1], []).append(qid)
    shared = [ids for ids in by_sql.values() if len(ids) > 1]
    dupes = []
    for ids in shared:
        rest = [q for q in ids if REG[q][0] not in own_path]
        if len({REG[q][0] for q in rest}) > 1:
            dupes.append(sorted(rest))
    assert not dupes, f"one oracle, several implementations: {dupes}"
    # every exception must still be one: no stale allow-list entries
    in_shared = {q for ids in shared for q in ids}
    assert set(SHARED_ORACLE_OWN_PATH) <= in_shared


def test_rows_digest_ignores_row_and_column_order():
    rows = [(1, "a", None), (2, "b", 1.5)]
    base = rows_digest(["k", "v", "x"], rows)
    assert rows_digest(["k", "v", "x"], rows[::-1]) == base
    assert rows_digest(["x", "K", "v"], [(r[2], r[0], r[1]) for r in rows]) == base
    assert rows_digest(["k", "v", "x"], [(1, "a", None), (2, "b", 2.5)]) != base
    assert rows_digest(["k", "w", "x"], rows) != base


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("qid", ORACLE_IDS)
def test_oracle_parity(qid, spark, sf_dir, duck):
    fn, sql = REG[qid]
    problems = compare(fn(spark, sf_dir), duck, sql)
    assert not problems, f"{qid}: " + "; ".join(problems)


@pytest.mark.parametrize("qid", ROWS_ONLY_IDS)
def test_rows_only_nonempty(qid, spark, sf_dir):
    fn, _ = REG[qid]
    assert fn(spark, sf_dir).count() > 0, f"{qid}: returned 0 rows"


def test_harness_flags_declared_type_drift(spark, duck):
    """The harness must reject results whose DECLARED types differ even when
    the values stringify identically (the driver's value hash is
    type-sensitive: decimal precision/scale, BIGINT vs HUGEINT)."""
    df = spark.range(1).selectExpr("CAST(42.50 AS DECIMAL(12,2)) AS v")
    ok = compare(df, duck, "SELECT CAST(42.50 AS DECIMAL(12,2)) AS v")
    assert not ok
    drift = compare(df, duck, "SELECT CAST(42.50 AS DECIMAL(38,2)) AS v")
    assert any("declared type differs" in p for p in drift)
    hugeint = compare(
        spark.range(1).selectExpr("CAST(7 AS BIGINT) AS v"),
        duck,
        "SELECT CAST(7 AS HUGEINT) AS v",
    )
    assert any("declared type differs" in p for p in hugeint)
