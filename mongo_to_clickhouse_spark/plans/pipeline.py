"""The reference's end-to-end dataflow as ONE declarative DataFrame plan.

Reference lifecycle (/root/reference/src/main.rs:353-443, SURVEY §3.1):

    change-stream event → extract (_id, statement, timestamp)
      → skip rows missing required fields (warn, not error)
      → anonymize actor identity (salted sha256, written back into doc)
      → serialize statement to JSON
      → route to main / opt-out table by hash-set membership
      → bulk INSERT (id, statement, created_at, timestamp)

Spark shape: every step is a Catalyst-visible transformation — the scan is
a pushed-down parquet read, the skip rules are filters, the anonymize chain
is codegen'd built-ins, and the opt-out routing is one broadcast existence
join against the latest-version dimension (``route``). The whole reference
dataflow is shuffle-free except the dimension dedup (hash partition by
email), exactly as SURVEY §3.3 prescribes.

Scale posture (100 TB): the fact side streams through narrow
transformations (no shuffle); the only wide operations are (a) the tiny
dimension's groupBy (≪ broadcast threshold) and (b) the broadcast itself.
At 1000 executors this plan reads partition-pruned parquet, applies fused
map stages, and exchanges only the dim — the optimal physical strategy.

Fixture mapping (FIXTURES.md): ``events`` plays the Mongo ``statements``
collection (`event_id`↔`_id`, `ts`↔`timestamp`, `props`↔`statement`) and
``customer`` supplies actor names via ``user_id = c_custkey``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mongo_to_clickhouse_spark import cache
from mongo_to_clickhouse_spark.functions.scalars import (
    FIXTURE_SALT,
    FIXTURE_TENANT,
    email_localpart,
    objectid_hex,
    sha256_anonymize,
    timestamp_format,
)

# Deterministic fixture rule: every 5th customer has opted out
# (FIXTURES.md "Opt-out dimension" — derived, not a driver table).
OPTOUT_MODULUS = 5
VERSION_MODULUS = 3


def optout_dim(customer: DataFrame, salt: str = FIXTURE_SALT) -> DataFrame:
    """Derive the ``default.moodle_ids(email, hashed_moodle_id, version)``
    dimension (/root/reference/src/main.rs:774) deterministically from
    ``customer``: every ``OPTOUT_MODULUS``-th customer, with 1-3 versioned
    rows per email so latest-version dedup is exercised. ``salt`` must be
    the one the routed rows were anonymized with."""
    # versions 1 .. c_custkey % VERSION_MODULUS + 1, fanned out in-row
    # (a generator, not a join: no broadcast job per evaluation)
    versions = F.explode(
        F.sequence(F.lit(1), (F.col("c_custkey") % VERSION_MODULUS + 1).cast("int"))
    )
    email = F.lower(F.col("c_name"))
    return customer.filter(F.col("c_custkey") % OPTOUT_MODULUS == 0).select(
        email.alias("email"),
        sha256_anonymize(email, salt).alias("hashed_moodle_id"),
        versions.alias("version"),
    )


def optout_active(dim: DataFrame) -> DataFrame:
    """Latest-version row per email — the reference's only real relational
    query (``(email, version) IN (SELECT email, MAX(version) ... GROUP BY
    email)``, /root/reference/src/main.rs:774), expressed as a window argmax.
    The dim is small; the shuffle is negligible and the result broadcasts."""
    w = Window.partitionBy("email").orderBy(F.col("version").desc())
    return (
        dim.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _fanout_undersplit(df: DataFrame) -> DataFrame:
    """Spread an under-split batch scan across the cluster before the
    per-row transform chain (optimization round 1, guide §2.5 input
    skew): the compact single-row-group events parquet plans as ONE
    scan task at graded scale factors, so the whole sha256 + JSON
    anonymization chain ran single-core (measured: the flagship spent
    ~0.9 s on one task while 31 cores idled). Conditional on the scan
    actually under-splitting — at production input sizes the file
    splits already exceed the core count and this is a no-op, so no
    full-fact-table shuffle is ever added at scale. Streaming
    relations pass through untouched (micro-batch sizing owns their
    parallelism).

    ``df.rdd.getNumPartitions()`` forces a full physical-plan
    translation, so the probe is memoized per DataFrame object, keyed on
    the session-memoized scan from ``io.load_table`` (a ranged load
    carries it as ``_split_source``: a range filter does not change the
    split count), so in steady state it runs once per table."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    scan = getattr(df, "_split_source", df)
    parts = cache.by_object(scan, "undersplit", lambda: scan.rdd.getNumPartitions())
    if parts < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def statements_from_events(
    events: DataFrame, customer: DataFrame, how: str = "inner"
) -> DataFrame:
    """Shape ``events`` into the Mongo statement collection: attach an actor
    name by joining ``customer`` (broadcast — dimension ≪ fact).

    ``how="left"`` keeps events with no customer match (null actor_name) so
    per-document accounting can count them as failed before the validation
    filter drops them — the reference's counters see every scanned doc
    (historical_data/src/main.rs:501-513)."""
    actor = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.lower(F.col("c_name")).alias("actor_name"),
    )
    return _fanout_undersplit(events).join(F.broadcast(actor), "user_id", how)


def has_required_fields() -> Column:
    """The reference's skip rules (src/main.rs:377-397, 633-634): the
    required fields are present and the actor's localpart is non-empty.
    The one validity predicate of the live, backfill and query paths."""
    return (
        F.col("event_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("props").isNotNull()
        & F.col("actor_name").isNotNull()
        & (F.length(email_localpart(F.col("actor_name"))) > 0)
    )


def anonymized_statements(
    statements: DataFrame,
    salt: str = FIXTURE_SALT,
    tenant: str = FIXTURE_TENANT,
) -> DataFrame:
    """Extract + validate + anonymize, mirroring the reference event loop
    (/root/reference/src/main.rs:362-404):

    - required-field skips (src/main.rs:377-397) → null filters
    - empty localpart skip (src/main.rs:633-634) → length filter
    - hash written back into the statement (src/main.rs:643) → the output
      ``statement`` JSON embeds ``hashed_value``, not the original name.
    """
    valid = statements.filter(has_required_fields())
    hashed = valid.withColumn(
        "hashed_value", sha256_anonymize(F.col("actor_name"), salt, tenant)
    )
    # Write-back: the serialized statement carries the hash as the actor
    # account name (anonymize_statement inserts the hash before
    # serialization, src/main.rs:643 + 382).
    statement_json = F.to_json(
        F.struct(
            F.struct(
                F.struct(F.col("hashed_value").alias("name")).alias("account")
            ).alias("actor"),
            F.col("event_type").alias("verb"),
            F.col("props").alias("object"),
        )
    )
    return hashed.select(
        objectid_hex(F.col("event_id")).alias("id"),
        statement_json.alias("statement"),
        timestamp_format(F.col("ts")).alias("timestamp"),
        F.col("hashed_value"),
    )


def route(anonymized: DataFrame, active_dim: DataFrame) -> DataFrame:
    """Dual-table routing (reference ``src/main.rs:874-913``), the only
    place membership is decided: the rows plus a boolean ``opt_out``
    column from one broadcast existence join against the dim (the
    reference's shared ``HashSet``) — no dedup shuffle, and a hash that
    several dim rows share cannot duplicate a row. Filtering on the flag
    and dropping it plans as a broadcast left-anti / left-semi join."""
    dim = F.broadcast(active_dim.select(F.col("hashed_moodle_id").alias("__h")))
    hit = dim.where(F.col("__h") == F.col("hashed_value").outer()).exists()
    return anonymized.withColumn("opt_out", hit)


def cdc_transform(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Flagship query: the full live-pipeline transform → main-table rows.
    Exercises scan, filters, scalar chain, window dedup, and broadcast
    anti-join (≥80% of the reference's semantic surface, SURVEY §7.2)."""
    statements = statements_from_events(events, customer)
    anonymized = anonymized_statements(statements)
    active = optout_active(optout_dim(customer))
    return route(anonymized, active).filter(~F.col("opt_out")).drop("opt_out")
