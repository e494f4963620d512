"""Core reference-surface queries (SURVEY §2.1-2.7) with DuckDB oracles.

Each entry: ``ID -> (spark_fn, oracle_sql | None)`` where ``spark_fn(spark,
sf_dir) -> DataFrame``. Column names are aliased identically on both sides
(the driver sorts columns by name before value-hashing).

Determinism rules used throughout (SURVEY §5 "oracle quirks"):
- timestamps are formatted to strings (fixture ``events.ts`` is ns-precision
  parquet, truncated to µs by Spark and DuckDB alike; ms-strings match).
- double AGGREGATES are computed on DECIMAL-cast inputs so both engines do
  exact decimal arithmetic (summation order can differ at scale; raw-column
  doubles need no treatment).
- every computed column is aliased on both sides.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mongo_to_clickhouse_spark.io import load_table
from mongo_to_clickhouse_spark.functions.scalars import (
    email_localpart,
    objectid_hex,
    regex_escape_statement,
    sha256_anonymize,
    timestamp_format,
)
from mongo_to_clickhouse_spark.plans.pipeline import (
    anonymized_statements,
    cdc_transform,
    has_required_fields,
    optout_active,
    optout_dim,
    route,
    statements_from_events,
)

# Shared fixture-range constants
TS_LO = "2024-01-05 00:00:00"
TS_HI = "2024-01-20 00:00:00"

# ---------------------------------------------------------------------------
# Reusable DuckDB SQL fragments mirroring plans/pipeline.py exactly.
# ---------------------------------------------------------------------------

DIM_SQL = """
    SELECT lower(c_name) AS email,
           sha256('fixture-salt' || 't1' || split_part(lower(c_name), '@', 1))
               AS hashed_moodle_id,
           v.version AS version
    FROM customer
    CROSS JOIN (VALUES (1), (2), (3)) AS v(version)
    WHERE c_custkey % 5 = 0 AND v.version <= (c_custkey % 3) + 1
"""

ACTIVE_DIM_SQL = f"""
    SELECT email, hashed_moodle_id, version FROM (
        SELECT *, row_number() OVER (PARTITION BY email ORDER BY version DESC) AS __rn
        FROM ({DIM_SQL})
    ) WHERE __rn = 1
"""

STMTS_SQL = """
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props,
           lower(c.c_name) AS actor_name
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""

ANON_SQL = f"""
    SELECT printf('%024x', event_id) AS id,
           CAST(to_json(struct_pack(
               actor := struct_pack(account := struct_pack(name := hashed_value)),
               verb := event_type,
               object := props)) AS VARCHAR) AS statement,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS "timestamp",
           hashed_value
    FROM (
        SELECT s.*,
               sha256('fixture-salt' || 't1' || split_part(actor_name, '@', 1))
                   AS hashed_value
        FROM ({STMTS_SQL}) s
        WHERE event_id IS NOT NULL AND ts IS NOT NULL AND props IS NOT NULL
          AND actor_name IS NOT NULL
          AND length(split_part(actor_name, '@', 1)) > 0
    )
"""


def _dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return optout_dim(load_table(spark, sf_dir, "customer"))


def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anonymized statements with ``route``'s ``opt_out`` flag."""
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    anon = anonymized_statements(statements_from_events(events, customer))
    return route(anon, optout_active(optout_dim(customer)))


# ---------------------------------------------------------------------------
# §2.1 scans / sources / sinks
# ---------------------------------------------------------------------------

def source_batch_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor scan with pushed-down range filter
    (historical_data/src/main.rs:362-377): parquet scan + Catalyst pushdown
    (the range predicate lands on the raw nanos column → row-group pruning)."""
    ev = load_table(spark, sf_dir, "events", ts_range=(TS_LO, TS_HI))
    return (
        ev.select(
            "event_id",
            "event_type",
            "value",
            timestamp_format(F.col("ts")).alias("ts_ms"),
        )
    )


SOURCE_BATCH_SCAN_SQL = f"""
    SELECT event_id, event_type, value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS ts_ms
    FROM events
    WHERE ts BETWEEN TIMESTAMP '{TS_LO}' AND TIMESTAMP '{TS_HI}'
"""


def source_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_documents(filter) (historical_data/src/main.rs:356-360)."""
    ev = load_table(spark, sf_dir, "events", ts_range=(TS_LO, TS_HI))
    return ev.agg(F.count("*").alias("n_docs"))


SOURCE_COUNT_SQL = f"""
    SELECT count(*) AS n_docs FROM events
    WHERE ts BETWEEN TIMESTAMP '{TS_LO}' AND TIMESTAMP '{TS_HI}'
"""


def source_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion — the wire format most raw training-data drops
    arrive in (one JSON object per line; the reference's BSON documents
    have the same self-describing-record shape, src/main.rs:320). The
    documents table is staged as JSONL once per (session, sf_dir)
    (memoized like the other layout demos), read back with an EXPLICIT
    schema — at 100 TB schema inference is a full extra pass over the
    input, so a production scan always pins the schema — and verified
    by per-source accounting INCLUDING a content signature (summed
    60-bit md5 of the text), so a JSON escape/encoding bug in the
    round-trip hash-mismatches against the oracle computed from the
    original table."""
    from mongo_to_clickhouse_spark.io import cached_work_dir

    def build(root):
        load_table(spark, sf_dir, "documents").coalesce(4).write.mode(
            "overwrite"
        ).json(os.path.join(root, "docs"))

    root = cached_work_dir(spark, "jsonl-scan", sf_dir, ("documents",), build)
    docs = spark.read.schema(
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).json(os.path.join(root, "docs"))
    sig = (
        F.expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)")
        % 1_000_000_000_000
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
            F.sum(sig).cast("bigint").alias("text_sig"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source")
    )


SOURCE_JSONL_SCAN_SQL = """
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
                    % 1000000000000) AS BIGINT) AS text_sig,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM documents GROUP BY source ORDER BY source
"""


def source_dim_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The opt-out dimension load (/root/reference/src/main.rs:771-793):
    latest-version row per email, a window row_number argmax (the
    Spark-idiomatic form of the reference's tuple-IN subquery). Also
    registered as dedup_latest_version."""
    return optout_active(_dim(spark, sf_dir))


def sink_clickhouse_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output relation of the bulk INSERT (id, statement, timestamp,
    hashed_value) (/root/reference/src/main.rs:890-900): the rows whose
    hash is NOT in the opt-out set, a broadcast left-anti join (also
    registered as routing_optout_anti_join). ``created_at`` is sink-side
    now() — non-deterministic, excluded from the compared shape."""
    return cdc_transform(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


SINK_CLICKHOUSE_INSERT_SQL = f"""
    SELECT a.* FROM ({ANON_SQL}) a
    ANTI JOIN ({ACTIVE_DIM_SQL}) d ON a.hashed_value = d.hashed_moodle_id
"""


def sink_dual_table_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-table fanout (/root/reference/src/main.rs:874-913) as one
    relation with a ``route`` column (main | opt_out) from ``route``'s
    flag: one pass over the anonymization transform, and at 100 TB one
    write partitioned by ``route`` — the fanout the reference's two
    INSERTs express."""
    return (
        _routed(spark, sf_dir)
        .withColumn("route",
                    F.when(F.col("opt_out"), "opt_out").otherwise("main"))
        .drop("opt_out")
    )


SINK_DUAL_TABLE_SPLIT_SQL = f"""
    WITH anon AS ({ANON_SQL}),
    dim AS (SELECT DISTINCT hashed_moodle_id FROM ({ACTIVE_DIM_SQL}))
    SELECT a.*,
           CASE WHEN d.hashed_moodle_id IS NULL
                THEN 'main' ELSE 'opt_out' END AS route
    FROM anon a
    LEFT JOIN dim d ON a.hashed_value = d.hashed_moodle_id
"""


def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned lakehouse sink: write events to a
    ``event_date=…``-partitioned parquet layout (the open-table-format
    sibling of the reference's ClickHouse insert — at 100 TB a
    hive-partitioned sink is what makes downstream partition PRUNING
    possible), then read the layout back and return per-partition
    accounting, which is the oracle-checkable contract of the write.

    Scale posture: partitionBy on a low-cardinality derived date keeps
    file counts = O(days × tasks); the repartition by the partition
    column before the write collapses that to O(days) files (the
    small-files problem is a sink-side decision, not a hope)."""
    import tempfile
    import uuid

    out = os.path.join(
        tempfile.mkdtemp(prefix=f"ptsink-{uuid.uuid4().hex[:8]}-"), "events"
    )
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.repartition("event_date").write.partitionBy("event_date").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("event_date")
    )


SINK_PARTITIONED_PARQUET_SQL = """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
           COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1
    ORDER BY 1
"""


# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# ---------------------------------------------------------------------------

def project_extract_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract (_id→hex, statement, timestamp) from the dynamic document
    (/root/reference/src/main.rs:362-397)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        objectid_hex(F.col("event_id")).alias("id"),
        F.col("props").alias("statement"),
        timestamp_format(F.col("ts")).alias("ts_ms"),
    )


PROJECT_EXTRACT_FIELDS_SQL = """
    SELECT printf('%024x', event_id) AS id,
           props AS statement,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS ts_ms
    FROM events
"""


def filter_required_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warn-and-skip on missing required fields
    (/root/reference/src/main.rs:377-397, 445-453) → null/empty filters."""
    stmts = statements_from_events(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )
    return stmts.filter(has_required_fields()).select(
        "event_id", "user_id", "actor_name")


FILTER_REQUIRED_FIELDS_SQL = f"""
    SELECT event_id, user_id, actor_name FROM ({STMTS_SQL})
    WHERE event_id IS NOT NULL AND ts IS NOT NULL AND props IS NOT NULL
      AND actor_name IS NOT NULL
      AND length(split_part(actor_name, '@', 1)) > 0
"""


def filter_timestamp_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$gte/$lte range pushed to the source
    (historical_data/src/main.rs:349-354)."""
    ev = load_table(spark, sf_dir, "events", ts_range=(TS_LO, TS_HI))
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "props",
        timestamp_format(F.col("ts")).alias("ts_ms"),
    )


FILTER_TIMESTAMP_RANGE_SQL = f"""
    SELECT event_id, user_id, event_type, value, props,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS ts_ms
    FROM events
    WHERE ts BETWEEN TIMESTAMP '{TS_LO}' AND TIMESTAMP '{TS_HI}'
"""


def predicate_optout_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row opt-out membership flag (/root/reference/src/main.rs:852):
    ``route``'s broadcast existence join, instead of a driver-side
    HashSet."""
    return _routed(spark, sf_dir).select(
        "id", F.col("opt_out").alias("is_opt_out")
    )


PREDICATE_OPTOUT_MEMBERSHIP_SQL = f"""
    WITH anon AS ({ANON_SQL}), dim AS ({ACTIVE_DIM_SQL})
    SELECT a.id,
           (d.hashed_moodle_id IS NOT NULL) AS is_opt_out
    FROM anon a LEFT JOIN dim d ON a.hashed_value = d.hashed_moodle_id
"""


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

def routing_optout_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows whose hash IS in the opt-out set → broadcast left-semi join
    (/root/reference/src/main.rs:876-882)."""
    return _routed(spark, sf_dir).filter(F.col("opt_out")).drop("opt_out")


ROUTING_OPTOUT_SEMI_JOIN_SQL = f"""
    SELECT a.* FROM ({ANON_SQL}) a
    SEMI JOIN ({ACTIVE_DIM_SQL}) d ON a.hashed_value = d.hashed_moodle_id
"""


def join_tuple_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(email, version) IN (SELECT email, MAX(version) ... GROUP BY email)
    (/root/reference/src/main.rs:774) — Catalyst rewrites to LeftSemi."""
    _dim(spark, sf_dir).createOrReplaceTempView("moodle_ids")
    return spark.sql(
        """
        SELECT email, hashed_moodle_id, version FROM moodle_ids
        WHERE (email, version) IN
              (SELECT email, MAX(version) FROM moodle_ids GROUP BY email)
        """
    )


# DuckDB lacks tuple-IN-subquery; the equivalent relational form is a semi
# join on the aggregated subquery (the same rewrite Catalyst applies).
JOIN_TUPLE_IN_SUBQUERY_SQL = f"""
    WITH moodle_ids AS ({DIM_SQL})
    SELECT m.email, m.hashed_moodle_id, m.version FROM moodle_ids m
    SEMI JOIN (SELECT email, MAX(version) AS mv FROM moodle_ids GROUP BY email) g
      ON m.email = g.email AND m.version = g.mv
"""


def join_fact_dim_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema equi joins (extension ID per SURVEY §2.3): revenue per
    nation, lineitem ⨝ orders ⨝ customer ⨝ nation. Dimensions broadcast;
    the fact side aggregates map-side before the final exchange."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # Integer-micro discipline (PARITY_r02.md): the fixture's money columns
    # are exact 2-dp doubles, so cents × basis-points arithmetic is exact
    # in BIGINT — and the compared output carries NO decimal type (the one
    # class whose canonicalization the driver's hasher disagreed on, two
    # rounds running, despite value-identical results).
    revenue_micro = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (F.lit(10_000) - F.round(F.col("l_discount") * 10_000).cast("bigint"))
    )
    return (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(revenue_micro).alias("revenue_micro"),
            F.count("*").alias("n_items"),
        )
        # integer DIV after the sum: truncation is deterministic and the
        # micro-sum stays in BIGINT end-to-end (no double intermediate)
        .select(
            "n_name",
            F.expr("CAST(revenue_micro DIV 10000 AS BIGINT)").alias("revenue_cents"),
            "n_items",
        )
    )


JOIN_FACT_DIM_EQUI_SQL = """
    SELECT n_name,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (10000 - CAST(round(l_discount * 10000) AS BIGINT)))
                // 10000 AS BIGINT) AS revenue_cents,
           count(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# §2.4 aggregations / §2.5 windows
# ---------------------------------------------------------------------------

def agg_max_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT email, MAX(version) ... GROUP BY email
    (/root/reference/src/main.rs:774)."""
    return _dim(spark, sf_dir).groupBy("email").agg(
        F.max("version").alias("max_version")
    )


AGG_MAX_PER_GROUP_SQL = f"""
    SELECT email, MAX(version) AS max_version FROM ({DIM_SQL}) GROUP BY email
"""


SOURCE_DIM_QUERY_SQL = ACTIVE_DIM_SQL


def agg_count_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count per key (progress accounting analogue,
    historical_data/src/main.rs:356-360)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


AGG_COUNT_BY_KEY_SQL = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"


# ---------------------------------------------------------------------------
# §2.7 scalar functions
# ---------------------------------------------------------------------------

def scalar_email_localpart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity extraction (/root/reference/src/main.rs:627-631). Fixture
    emails are synthesized with an '@domain' so the split is exercised."""
    cust = load_table(spark, sf_dir, "customer")
    email = F.concat(F.lower(F.col("c_name")), F.lit("@example.com"))
    return cust.select(
        F.col("c_custkey"),
        email.alias("email"),
        email_localpart(email).alias("localpart"),
    )


SCALAR_EMAIL_LOCALPART_SQL = """
    SELECT c_custkey,
           lower(c_name) || '@example.com' AS email,
           split_part(lower(c_name) || '@example.com', '@', 1) AS localpart
    FROM customer
"""


def scalar_sha256_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hex(sha256(salt ‖ tenant ‖ localpart))
    (/root/reference/src/main.rs:636-641)."""
    cust = load_table(spark, sf_dir, "customer")
    email = F.concat(F.lower(F.col("c_name")), F.lit("@example.com"))
    return cust.select(
        F.col("c_custkey"), sha256_anonymize(email).alias("hashed_value")
    )


SCALAR_SHA256_ANONYMIZE_SQL = """
    SELECT c_custkey,
           sha256('fixture-salt' || 't1'
                  || split_part(lower(c_name) || '@example.com', '@', 1))
               AS hashed_value
    FROM customer
"""


def scalar_regex_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """process_statement escaping (/root/reference/src/main.rs:647-672) over
    JSON props plus synthesized backslash runs of length event_id % 5."""
    ev = load_table(spark, sf_dir, "events")
    raw = F.concat(
        F.lit('"'),
        F.col("props"),
        F.expr("repeat('\\\\', CAST(event_id % 5 AS INT))"),
        F.lit('"'),
    )
    return ev.select(
        F.col("event_id"),
        raw.alias("raw"),
        regex_escape_statement(raw).alias("escaped"),
    )


SCALAR_REGEX_ESCAPE_SQL = r"""
    WITH raw_t AS (
        SELECT event_id,
               '"' || props || repeat('\', CAST(event_id % 5 AS INT)) || '"' AS raw
        FROM events
    )
    SELECT event_id, raw,
           replace(
             replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(raw, '\\{2}', '\\\\\\\\', 'g'),
                       '\\(?:\\\\)*', '\\\\', 'g'),
                     '\\{4,}', '\\\\\\\\', 'g'),
                   '^"+', '', 'g'),
                 '"+$', '', 'g'),
               '\' || chr(39), '\\' || chr(39)),
             chr(39), '\' || chr(39)) AS escaped
    FROM raw_t
"""


def scalar_json_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """document → JSON string (/root/reference/src/main.rs:382)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id"),
        F.to_json(F.struct(F.col("event_id"), F.col("event_type"))).alias("doc_json"),
    )


SCALAR_JSON_SERIALIZE_SQL = """
    SELECT event_id,
           CAST(to_json(struct_pack(event_id := event_id, event_type := event_type)) AS VARCHAR)
               AS doc_json
    FROM events
"""


def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction over the props column (extension ID)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id"),
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
    )


SCALAR_JSON_EXTRACT_SQL = """
    SELECT event_id, CAST(props->>'$.k' AS INT) AS k FROM events
"""


def scalar_timestamp_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """epoch-millis → '%Y-%m-%d %H:%M:%S%.3f' string
    (/root/reference/src/main.rs:857-862), UTC session timezone."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id"), timestamp_format(F.col("ts")).alias("ts_ms")
    )


SCALAR_TIMESTAMP_FORMAT_SQL = """
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS ts_ms FROM events
"""


def scalar_objectid_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ObjectId → 24-char hex (/root/reference/src/main.rs:367)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id"), objectid_hex(F.col("event_id")).alias("id_hex")
    )


SCALAR_OBJECTID_HEX_SQL = """
    SELECT event_id, printf('%024x', event_id) AS id_hex FROM events
"""


def scalar_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime decomposition over event time (year/month/day/hour/minute +
    epoch seconds) — UTC session timezone throughout."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.unix_timestamp("ts").alias("epoch_sec"),
    )


SCALAR_DATE_PARTS_SQL = """
    SELECT event_id,
           CAST(year(ts) AS INT) AS y,
           CAST(month(ts) AS INT) AS mo,
           CAST(day(ts) AS INT) AS d,
           CAST(hour(ts) AS INT) AS h,
           CAST(minute(ts) AS INT) AS mi,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_sec
    FROM events
"""


def source_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingestion — the third columnar interchange format after
    parquet and the row formats (CSV/JSONL): ORC arrives from Hive/Trino
    estates and Spark reads it natively (no extra jars). The documents
    table is staged as ORC once per (session, sf_dir), read back with an
    EXPLICIT schema, and verified by the same per-source content
    signature as source_jsonl_scan — a stripe-boundary or encoding bug
    hash-mismatches against the oracle computed from the original
    parquet.

    Scale posture: identical to the parquet path — columnar scan with
    column pruning; the aggregate is map-side combined. The staging
    write is memoized per (session, sf_dir)."""
    from mongo_to_clickhouse_spark.io import cached_work_dir

    def build(root):
        load_table(spark, sf_dir, "documents").coalesce(4).write.mode(
            "overwrite"
        ).orc(os.path.join(root, "docs"))

    root = cached_work_dir(spark, "orc-scan", sf_dir, ("documents",), build)
    docs = spark.read.schema(
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).orc(os.path.join(root, "docs"))
    sig = (
        F.expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)")
        % 1_000_000_000_000
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
            F.sum(sig).cast("bigint").alias("text_sig"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source")
    )


def source_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion — the interchange format where quoting/escaping
    bugs actually live (embedded commas, quotes, newlines). The
    documents table is staged as quoted CSV once per (session, sf_dir),
    read back with an EXPLICIT schema (inference is a full extra pass at
    100 TB) and multiLine quoting, and verified by the same per-source
    content signature as source_jsonl_scan — a mis-escaped quote or a
    row split on an embedded newline hash-mismatches against the oracle
    computed from the original table."""
    from mongo_to_clickhouse_spark.io import cached_work_dir

    def build(root):
        load_table(spark, sf_dir, "documents").coalesce(4).write.mode(
            "overwrite"
        ).option("header", True).option("quoteAll", True).csv(
            os.path.join(root, "docs")
        )

    root = cached_work_dir(spark, "csv-scan", sf_dir, ("documents",), build)
    docs = (
        spark.read.schema(
            "doc_id bigint, text string, lang string, source string,"
            " n_chars bigint"
        )
        .option("header", True)
        .option("multiLine", True)
        .csv(os.path.join(root, "docs"))
    )
    sig = (
        F.expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)")
        % 1_000_000_000_000
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
            F.sum(sig).cast("bigint").alias("text_sig"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source")
    )


def source_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read — the lakehouse concern a schemaless Mongo
    source (reference src/main.rs:320: BSON documents with optional
    fields) forces on its sink: two parquet GENERATIONS are staged (old
    writers: doc_id/text/lang; new writers: doc_id/text/source/n_chars
    — a column dropped AND two added), read back as ONE relation with
    ``mergeSchema``, and audited per generation: row counts, per-column
    presence, and a content signature. The absent columns must surface
    as NULLs of the merged schema — a reader that drops generation-1
    rows or misaligns columns hash-mismatches.

    Scale posture: mergeSchema unions footer schemas at planning time
    (no data pass); the audit is one scan + a 2-group aggregate. The
    staging write is memoized per (session, sf_dir) like the other
    layout demos."""
    from mongo_to_clickhouse_spark.io import cached_work_dir

    def build(root):
        docs = load_table(spark, sf_dir, "documents")
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "lang"
        ).coalesce(2).write.mode("overwrite").parquet(
            os.path.join(root, "docs", "gen=1")
        )
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text", "source", "n_chars"
        ).coalesce(2).write.mode("overwrite").parquet(
            os.path.join(root, "docs", "gen=2")
        )

    root = cached_work_dir(spark, "schema-merge", sf_dir, ("documents",),
                           build)
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(root, "docs")
    )
    sig = (
        F.expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)")
        % 1_000_000_000_000
    )
    return (
        merged.groupBy(
            (F.col("doc_id") % 2 + 1).cast("int").alias("generation")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count("lang").cast("bigint").alias("lang_present"),
            F.count("source").cast("bigint").alias("source_present"),
            F.count("n_chars").cast("bigint").alias("n_chars_present"),
            F.sum(sig).cast("bigint").alias("text_sig"),
        )
        .orderBy("generation")
    )


SOURCE_SCHEMA_MERGE_SQL = """
    WITH merged AS (
        SELECT doc_id, text, lang,
               CAST(NULL AS VARCHAR) AS source,
               CAST(NULL AS BIGINT) AS n_chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang, source, n_chars
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT CAST(doc_id % 2 + 1 AS INTEGER) AS generation,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(lang) AS BIGINT) AS lang_present,
           CAST(COUNT(source) AS BIGINT) AS source_present,
           CAST(COUNT(n_chars) AS BIGINT) AS n_chars_present,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
                    % 1000000000000) AS BIGINT) AS text_sig
    FROM merged
    GROUP BY doc_id % 2 + 1
    ORDER BY generation
"""


def scalar_interval_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic surface over order dates: day offsets,
    day difference to a fixed anchor, month-end snap, quarter start,
    ISO weekday — the retention/billing-cycle scalar tier. All integer
    or date results (stringified), so engine comparison is exact."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("order_date"),
        F.date_format(F.date_add(d, 90), "yyyy-MM-dd").alias("due_90d"),
        F.datediff(F.lit("1998-12-01").cast("date"), d)
        .cast("int")
        .alias("days_to_anchor"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_trunc("quarter", d).cast("date"), "yyyy-MM-dd")
        .alias("quarter_start"),
        F.dayofweek(d).cast("int").alias("dow_1_7"),
    )


SCALAR_INTERVAL_MATH_SQL = """
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           strftime(CAST(o_orderdate AS DATE) + 90, '%Y-%m-%d') AS due_90d,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          DATE '1998-12-01') AS INT) AS days_to_anchor,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS month_end,
           strftime(CAST(date_trunc('quarter', CAST(o_orderdate AS DATE))
                         AS DATE), '%Y-%m-%d') AS quarter_start,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow_1_7
    FROM orders
"""


def scalar_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface beyond the email/regex/json scalars:
    padding, case mapping, translate, repeat, reverse, strpos — the
    formatting tier ETL display layers lean on. All byte-deterministic
    on the ASCII fixture names."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.initcap(F.lower("c_mktsegment")).alias("seg_title"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_pad"),
        F.translate("c_name", "#0", "-_").alias("name_translated"),
        F.reverse("c_name").alias("name_rev"),
        F.instr("c_name", "#").cast("int").alias("hash_pos"),
        F.repeat(F.lit("*"), (F.col("c_custkey") % 5 + 1).cast("int"))
        .alias("stars"),
    )


SCALAR_STRING_SUITE_SQL = """
    SELECT c_custkey,
           upper(c_mktsegment) AS seg_upper,
           -- DuckDB has no initcap; the fixture segments are single
           -- words, so title-case is upper(first) || lower(rest)
           upper(substr(lower(c_mktsegment), 1, 1))
               || substr(lower(c_mktsegment), 2) AS seg_title,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
           translate(c_name, '#0', '-_') AS name_translated,
           reverse(c_name) AS name_rev,
           CAST(strpos(c_name, '#') AS INT) AS hash_pos,
           repeat('*', CAST(c_custkey % 5 + 1 AS INT)) AS stars
    FROM customer
"""


def scalar_bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface over event ids: AND/OR/XOR masks, shifts,
    bit extraction — the flag-unpacking tier (feature bitmasks, permission
    words). All BIGINT-exact in both engines; shifts stay under bit 62
    (DuckDB checks BIGINT shifts)."""
    ev = load_table(spark, sf_dir, "events")
    x = F.col("event_id").cast("long")
    return ev.select(
        "event_id",
        (x.bitwiseAND(F.lit(255))).alias("low_byte"),
        (x.bitwiseOR(F.lit(4096))).alias("with_flag"),
        (x.bitwiseXOR(F.lit(0x5A5A))).alias("xored"),
        F.shiftleft(x, 3).alias("shl3"),
        F.shiftright(x, 2).alias("shr2"),
        F.expr("CAST((event_id DIV 32) % 2 AS INT)").alias("bit5"),
    )


SCALAR_BITWISE_OPS_SQL = """
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id | 4096 AS with_flag,
           xor(event_id, 23130) AS xored,
           event_id << 3 AS shl3,
           event_id >> 2 AS shr2,
           CAST((event_id // 32) % 2 AS INT) AS bit5
    FROM events
"""


def scalar_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling surface: coalesce, nullif, null-safe equality — the
    row-skip rules of the reference expressed as first-class operators."""
    ev = load_table(spark, sf_dir, "events")
    maybe_null = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
        F.col("event_type")
    )
    return ev.select(
        "event_id",
        maybe_null.alias("maybe_type"),
        F.coalesce(maybe_null, F.lit("unknown")).alias("type_or_default"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("non_error_type"),
        maybe_null.eqNullSafe(F.col("event_type")).alias("null_safe_eq"),
    )


SCALAR_NULL_SEMANTICS_SQL = """
    SELECT event_id,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS maybe_type,
           COALESCE(CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END,
                    'unknown') AS type_or_default,
           NULLIF(event_type, 'error') AS non_error_type,
           (CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END
            IS NOT DISTINCT FROM event_type) AS null_safe_eq
    FROM events
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, tuple] = {
    "source_batch_scan": (source_batch_scan, SOURCE_BATCH_SCAN_SQL),
    "source_count": (source_count, SOURCE_COUNT_SQL),
    "source_dim_query": (source_dim_query, SOURCE_DIM_QUERY_SQL),
    "source_jsonl_scan": (source_jsonl_scan, SOURCE_JSONL_SCAN_SQL),
    # same accounting contract as jsonl: the oracle reads the ORIGINAL
    # table, so the CSV round-trip must be byte-lossless to match
    "source_csv_scan": (source_csv_scan, SOURCE_JSONL_SCAN_SQL),
    "source_orc_scan": (source_orc_scan, SOURCE_JSONL_SCAN_SQL),
    "source_schema_merge": (source_schema_merge, SOURCE_SCHEMA_MERGE_SQL),
    "sink_clickhouse_insert": (sink_clickhouse_insert, SINK_CLICKHOUSE_INSERT_SQL),
    "sink_dual_table_split": (sink_dual_table_split, SINK_DUAL_TABLE_SPLIT_SQL),
    "sink_partitioned_parquet": (sink_partitioned_parquet, SINK_PARTITIONED_PARQUET_SQL),
    "project_extract_fields": (project_extract_fields, PROJECT_EXTRACT_FIELDS_SQL),
    "filter_required_fields": (filter_required_fields, FILTER_REQUIRED_FIELDS_SQL),
    "filter_timestamp_range": (filter_timestamp_range, FILTER_TIMESTAMP_RANGE_SQL),
    "predicate_optout_membership": (
        predicate_optout_membership,
        PREDICATE_OPTOUT_MEMBERSHIP_SQL,
    ),
    "routing_optout_semi_join": (
        routing_optout_semi_join,
        ROUTING_OPTOUT_SEMI_JOIN_SQL,
    ),
    "routing_optout_anti_join": (
        sink_clickhouse_insert,
        SINK_CLICKHOUSE_INSERT_SQL,
    ),
    "join_tuple_in_subquery": (join_tuple_in_subquery, JOIN_TUPLE_IN_SUBQUERY_SQL),
    "join_fact_dim_equi": (join_fact_dim_equi, JOIN_FACT_DIM_EQUI_SQL),
    "agg_max_per_group": (agg_max_per_group, AGG_MAX_PER_GROUP_SQL),
    "dedup_latest_version": (source_dim_query, SOURCE_DIM_QUERY_SQL),
    "agg_count_by_key": (agg_count_by_key, AGG_COUNT_BY_KEY_SQL),
    "scalar_email_localpart": (scalar_email_localpart, SCALAR_EMAIL_LOCALPART_SQL),
    "scalar_sha256_anonymize": (
        scalar_sha256_anonymize,
        SCALAR_SHA256_ANONYMIZE_SQL,
    ),
    "scalar_regex_escape": (scalar_regex_escape, SCALAR_REGEX_ESCAPE_SQL),
    "scalar_json_serialize": (scalar_json_serialize, SCALAR_JSON_SERIALIZE_SQL),
    "scalar_json_extract": (scalar_json_extract, SCALAR_JSON_EXTRACT_SQL),
    "scalar_timestamp_format": (
        scalar_timestamp_format,
        SCALAR_TIMESTAMP_FORMAT_SQL,
    ),
    "scalar_objectid_hex": (scalar_objectid_hex, SCALAR_OBJECTID_HEX_SQL),
    "scalar_date_parts": (scalar_date_parts, SCALAR_DATE_PARTS_SQL),
    "scalar_interval_math": (scalar_interval_math, SCALAR_INTERVAL_MATH_SQL),
    "scalar_bitwise_ops": (scalar_bitwise_ops, SCALAR_BITWISE_OPS_SQL),
    "scalar_string_suite": (scalar_string_suite, SCALAR_STRING_SUITE_SQL),
    "scalar_null_semantics": (scalar_null_semantics, SCALAR_NULL_SEMANTICS_SQL),
}
