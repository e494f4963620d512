"""Join-shape extensions: as-of join, pivot/unpivot, full-outer.

``join_asof`` is the one operator here Spark genuinely lacks; the
implementation is the scale-correct distributed form — union the probe and
reference sides, one window pass per key, no range cross-join:

    probe(user, ts) ∪ ref(user, ts, payload)
      → window partitionBy(user) orderBy(ts, side)        [one shuffle]
      → last_value(payload, ignorenulls) up to current row
      → keep probe rows

This is O(n log n) per key with a single hash exchange — versus the naive
range-join (quadratic) or per-group ``pd.merge_asof`` (Python). The oracle
is DuckDB's native ASOF LEFT JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mongo_to_clickhouse_spark.io import load_table


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each event: the customer's most recent order at-or-before the
    event time (events.user_id = orders.o_custkey, o_orderdate <= ts)."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")

    # Deduplicate the reference side per (key, time): latest orderkey wins
    # (ASOF is ambiguous under build-side ties in both engines otherwise).
    w_tie = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    ref = (
        orders.withColumn("__rn", F.row_number().over(w_tie))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("t"),
            "o_orderkey",
            "o_totalprice",
        )
    )
    probe = events.select(
        "user_id", F.col("ts").alias("t"), "event_id"
    )
    unioned = probe.select(
        "user_id",
        "t",
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(1).alias("side"),  # probes sort AFTER refs at equal t (>=)
    ).unionByName(
        ref.select(
            "user_id",
            "t",
            F.lit(None).cast("long").alias("event_id"),
            "o_orderkey",
            "o_totalprice",
            F.lit(0).alias("side"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn(
            "matched_orderkey", F.last("o_orderkey", ignorenulls=True).over(w)
        )
        .withColumn(
            "matched_totalprice", F.last("o_totalprice", ignorenulls=True).over(w)
        )
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("t", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
            "matched_orderkey",
            "matched_totalprice",
        )
    )


ASOF_TOLERANCE_DAYS = 3


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness bound (pandas ``merge_asof``
    ``tolerance=`` semantics): each PURCHASE event matches the same
    user's latest VIEW event at-or-before it, but only if that view is
    within {ASOF_TOLERANCE_DAYS} days — older matches become NULL, they
    do NOT fall back to an even older row. The attribution-window shape
    (conversion credited only to a recent touch). On the fixtures the
    bound genuinely bisects: ~70% of purchases keep their match, the
    rest null out.

    Same union→partitioned-window plan as join_asof (one shuffle keyed
    by user, no range join), carrying the matched row's TIME through the
    window so the bound is a post-window filter."""
    events = load_table(spark, sf_dir, "events")
    w_tie = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    ref = (
        events.filter(F.col("event_type") == "view")
        .withColumn("__rn", F.row_number().over(w_tie))
        .filter(F.col("__rn") == 1)
        .select("user_id", F.col("ts").alias("t"),
                F.col("event_id").alias("view_event"))
    )
    probe = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t"), "event_id"
    )
    unioned = probe.select(
        "user_id",
        "t",
        "event_id",
        F.lit(None).cast("long").alias("view_event"),
        F.lit(None).cast("timestamp").alias("ref_t"),
        F.lit(1).alias("side"),
    ).unionByName(
        ref.select(
            "user_id",
            "t",
            F.lit(None).cast("long").alias("event_id"),
            "view_event",
            F.col("t").cast("timestamp").alias("ref_t"),
            F.lit(0).alias("side"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        unioned.withColumn(
            "m_view", F.last("view_event", ignorenulls=True).over(w)
        )
        .withColumn("m_t", F.last("ref_t", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
    )
    # Compare at MICROSECOND precision: unix_timestamp truncates to
    # whole seconds, and fixture timestamps carry µs fractions — a view
    # lying within 1 s past the tolerance boundary would be attributed
    # here but NULL in the oracle's `r.t >= e.ts - INTERVAL n DAY`
    # (round-4 ADVICE repro). unix_micros needs TIMESTAMP, not NTZ;
    # session tz is pinned UTC so the cast is a pure reinterpretation.
    fresh = (
        F.unix_micros(F.col("t").cast("timestamp"))
        - F.unix_micros(F.col("m_t").cast("timestamp"))
    ) <= ASOF_TOLERANCE_DAYS * 86400 * 1_000_000
    return matched.select(
        "event_id",
        "user_id",
        F.date_format("t", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.when(fresh, F.col("m_view")).alias("attributed_view_event"),
    ).orderBy("event_id")


JOIN_ASOF_TOLERANCE_SQL = f"""
    WITH ref AS (
        SELECT user_id, ts AS t, event_id AS view_event
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                         ORDER BY event_id DESC) AS __rn
            FROM events WHERE event_type = 'view'
        ) WHERE __rn = 1
    )
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CASE WHEN r.t >= e.ts - INTERVAL {ASOF_TOLERANCE_DAYS} DAY
                THEN r.view_event END AS attributed_view_event
    FROM (SELECT * FROM events WHERE event_type = 'purchase') e
    ASOF LEFT JOIN ref r ON e.user_id = r.user_id AND e.ts >= r.t
    ORDER BY e.event_id
"""


JOIN_ASOF_SQL = """
    WITH ref AS (
        SELECT o_custkey AS user_id, o_orderdate AS t, o_orderkey, o_totalprice
        FROM (
            SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                         ORDER BY o_orderkey DESC) AS __rn
            FROM orders
        ) WHERE __rn = 1
    )
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           r.o_orderkey AS matched_orderkey,
           r.o_totalprice AS matched_totalprice
    FROM events e
    ASOF LEFT JOIN ref r ON e.user_id = r.user_id AND e.ts >= r.t
"""


def _asof_view_sides(spark: SparkSession, sf_dir: str):
    """Shared probe/ref relations for the directional as-of variants:
    probe = purchase events, ref = view events deduped to one row per
    (user, ts) (latest event_id wins — ASOF is ambiguous under
    build-side ties in both engines otherwise)."""
    events = load_table(spark, sf_dir, "events")
    w_tie = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    ref = (
        events.filter(F.col("event_type") == "view")
        .withColumn("__rn", F.row_number().over(w_tie))
        .filter(F.col("__rn") == 1)
        .select("user_id", F.col("ts").alias("t"),
                F.col("event_id").alias("view_event"))
    )
    probe = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t"), "event_id"
    )
    return probe, ref


_ASOF_REF_CTE = """ref AS (
        SELECT user_id, ts AS t, event_id AS view_event
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                         ORDER BY event_id DESC) AS __rn
            FROM events WHERE event_type = 'view'
        ) WHERE __rn = 1
    )"""


def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (pandas ``merge_asof`` ``direction='forward'``):
    each purchase matches the same user's EARLIEST view at-or-after it —
    the "next touch" shape (time-to-next-engagement, post-purchase
    follow-up attribution).

    Same union→one-window plan as the backward join_asof — one shuffle
    keyed by user, no range join — with the frame reversed:
    first_value(ignorenulls) over [current, unbounded following]. Probes
    carry side=1 and refs side=2 so a ref at the exact probe timestamp
    sorts AFTER the probe and stays eligible (inclusive bound)."""
    probe, ref = _asof_view_sides(spark, sf_dir)
    unioned = probe.select(
        "user_id", "t", "event_id",
        F.lit(None).cast("long").alias("view_event"),
        F.lit(1).alias("side"),
    ).unionByName(
        ref.select(
            "user_id", "t",
            F.lit(None).cast("long").alias("event_id"),
            "view_event",
            F.lit(2).alias("side"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        unioned.withColumn(
            "next_view_event", F.first("view_event", ignorenulls=True).over(w)
        )
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("t", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            "next_view_event",
        )
        .orderBy("event_id")
    )


JOIN_ASOF_FORWARD_SQL = f"""
    WITH {_ASOF_REF_CTE}
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           r.view_event AS next_view_event
    FROM (SELECT * FROM events WHERE event_type = 'purchase') e
    ASOF LEFT JOIN ref r ON e.user_id = r.user_id AND e.ts <= r.t
    ORDER BY e.event_id
"""


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (pandas ``merge_asof`` ``direction='nearest'``):
    each purchase matches the same user's view with the smallest
    |Δt| in EITHER direction; exact ties go backward (the pandas rule).

    Plan: ONE union, ONE user-keyed shuffle, ONE sort — the ref side
    enters twice (side 0 for the backward frame, side 2 for the forward
    frame, probe side 1 between them so the inclusive bound holds both
    ways), then last(ignorenulls) over the preceding frame and
    first(ignorenulls) over the following frame resolve both candidates
    in the same window pass. Deltas compare at MICROSECOND precision
    (unix_micros — the join_asof_tolerance lesson)."""
    probe, ref = _asof_view_sides(spark, sf_dir)
    nul = F.lit(None)
    unioned = probe.select(
        "user_id", "t", "event_id",
        nul.cast("long").alias("view_b"), nul.cast("timestamp").alias("tb"),
        nul.cast("long").alias("view_f"), nul.cast("timestamp").alias("tf"),
        F.lit(1).alias("side"),
    )
    for side, vcol, tcol in ((0, "view_b", "tb"), (2, "view_f", "tf")):
        unioned = unioned.unionByName(
            ref.select(
                "user_id", "t",
                nul.cast("long").alias("event_id"),
                (F.col("view_event") if vcol == "view_b" else nul.cast("long"))
                .alias("view_b"),
                (F.col("t").cast("timestamp") if tcol == "tb"
                 else nul.cast("timestamp")).alias("tb"),
                (F.col("view_event") if vcol == "view_f" else nul.cast("long"))
                .alias("view_f"),
                (F.col("t").cast("timestamp") if tcol == "tf"
                 else nul.cast("timestamp")).alias("tf"),
                F.lit(side).alias("side"),
            )
        )
    back = (
        Window.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    m = (
        unioned
        .withColumn("m_vb", F.last("view_b", ignorenulls=True).over(back))
        .withColumn("m_tb", F.last("tb", ignorenulls=True).over(back))
        .withColumn("m_vf", F.first("view_f", ignorenulls=True).over(fwd))
        .withColumn("m_tf", F.first("tf", ignorenulls=True).over(fwd))
        .filter(F.col("side") == 1)
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    db = us("t") - us("m_tb")
    df_ = us("m_tf") - us("t")
    take_b = F.col("m_tb").isNotNull() & (
        F.col("m_tf").isNull() | (db <= df_)
    )
    take_f = ~take_b & F.col("m_tf").isNotNull()
    return m.select(
        "event_id",
        "user_id",
        F.date_format("t", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.when(take_b, F.col("m_vb"))
        .when(take_f, F.col("m_vf"))
        .alias("nearest_view_event"),
        F.when(take_b, F.lit("backward"))
        .when(take_f, F.lit("forward"))
        .alias("direction"),
    ).orderBy("event_id")


JOIN_ASOF_NEAREST_SQL = f"""
    WITH {_ASOF_REF_CTE},
    e AS (SELECT * FROM events WHERE event_type = 'purchase'),
    b AS (
        SELECT e.event_id, r.view_event AS vb, r.t AS tb
        FROM e ASOF LEFT JOIN ref r
          ON e.user_id = r.user_id AND e.ts >= r.t
    ),
    f AS (
        SELECT e.event_id, r.view_event AS vf, r.t AS tf
        FROM e ASOF LEFT JOIN ref r
          ON e.user_id = r.user_id AND e.ts <= r.t
    )
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CASE WHEN tb IS NOT NULL AND (tf IS NULL OR
                     epoch_us(e.ts) - epoch_us(tb)
                     <= epoch_us(tf) - epoch_us(e.ts))
                THEN vb
                WHEN tf IS NOT NULL THEN vf END AS nearest_view_event,
           CASE WHEN tb IS NOT NULL AND (tf IS NULL OR
                     epoch_us(e.ts) - epoch_us(tb)
                     <= epoch_us(tf) - epoch_us(e.ts))
                THEN 'backward'
                WHEN tf IS NOT NULL THEN 'forward' END AS direction
    FROM e
    JOIN b ON e.event_id = b.event_id
    JOIN f ON e.event_id = f.event_id
    ORDER BY e.event_id
"""


def pivot_wide_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into wide sum columns per returnflag."""
    li = load_table(spark, sf_dir, "lineitem")
    # quantities are exact 2-dp doubles → centi-units in BIGINT (no
    # decimal in the compared output; see join_fact_dim_equi)
    qty_centi = F.round(F.col("l_quantity") * 100).cast("bigint")
    return (
        li.withColumn("qty_centi", qty_centi)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("qty_centi"))
        .withColumnsRenamed({"O": "qty_open_centi", "F": "qty_filled_centi"})
    )


PIVOT_WIDE_AGG_SQL = """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                         THEN CAST(round(l_quantity * 100) AS BIGINT) END)
                AS BIGINT) AS qty_open_centi,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                         THEN CAST(round(l_quantity * 100) AS BIGINT) END)
                AS BIGINT) AS qty_filled_centi
    FROM lineitem GROUP BY l_returnflag
"""


def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot part attributes to (p_partkey, attr, val) long form."""
    part = load_table(spark, sf_dir, "part")
    return part.selectExpr(
        "p_partkey",
        "stack(2, 'size', CAST(p_size AS DOUBLE), "
        "'retailprice', CAST(p_retailprice AS DOUBLE)) AS (attr, val)",
    )


UNPIVOT_LONG_SQL = """
    SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice' AS attr, CAST(p_retailprice AS DOUBLE) FROM part
"""


def join_outer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: even-keyed customers vs per-customer order counts —
    both dangling sides survive with nulls."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 2 == 0
    ).select("c_custkey", "c_name")
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    return customer.join(
        counts, customer.c_custkey == counts.o_custkey, "full_outer"
    ).select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
        "c_name",
        "n_orders",
    )


JOIN_OUTER_FULL_SQL = """
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey, c.c_name, o.n_orders
    FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0) c
    FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                     FROM orders GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
"""


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join on a pathologically skewed key (event_type: ~5 hot
    values over the whole fact table) — semantics identical to the plain
    join, which is exactly what the oracle verifies. Demonstrates the
    100 TB skew-mitigation pattern alongside AQE skew-join."""
    from mongo_to_clickhouse_spark.operators.skew import salted_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    weights = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("type_freq"))
    )
    joined = salted_join(events, weights, "event_type", salt_factor=8)
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.max("type_freq").alias("type_freq"),
        # cents-as-BIGINT, no decimal in compared output (join_fact_dim_equi)
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("total_value_cents"),
    )


JOIN_SKEW_SALTED_SQL = """
    WITH weights AS (
        SELECT event_type, COUNT(*) AS type_freq FROM events GROUP BY event_type
    )
    SELECT e.event_type, COUNT(*) AS n, MAX(w.type_freq) AS type_freq,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
    FROM events e JOIN weights w ON e.event_type = w.event_type
    GROUP BY e.event_type
"""


def scd2_upsert_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / SCD2 emulation without a lakehouse format (the guide's
    anti-join + union + versioning pattern): an update batch (every 10th
    customer gets +100 balance) applied to the customer dim — touched rows
    are closed out (is_current=false) and re-inserted as v2, untouched rows
    pass through. At scale this is the same plan MERGE compiles to: one
    broadcast/shuffle join + union, no row-at-a-time upserts."""
    # cents-as-BIGINT, no decimal in compared output (join_fact_dim_equi)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
    )
    updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", (F.col("acctbal_cents") + F.lit(10_000)).alias("acctbal_cents")
    )
    closed = (
        cust.join(updates.select("c_custkey"), "c_custkey", "left_semi")
        .select("c_custkey", "acctbal_cents", F.lit(False).alias("is_current"),
                F.lit(1).alias("version"))
    )
    untouched = (
        cust.join(updates.select("c_custkey"), "c_custkey", "left_anti")
        .select("c_custkey", "acctbal_cents", F.lit(True).alias("is_current"),
                F.lit(1).alias("version"))
    )
    fresh = updates.select(
        "c_custkey", "acctbal_cents", F.lit(True).alias("is_current"),
        F.lit(2).alias("version")
    )
    return closed.unionByName(untouched).unionByName(fresh)


SCD2_UPSERT_EMULATION_SQL = """
    WITH cust AS (
        SELECT c_custkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
        FROM customer
    ),
    updates AS (
        SELECT c_custkey, acctbal_cents + 10000 AS acctbal_cents
        FROM cust WHERE c_custkey % 10 = 0
    )
    SELECT c.c_custkey, c.acctbal_cents, FALSE AS is_current, 1 AS version
    FROM cust c SEMI JOIN updates u ON c.c_custkey = u.c_custkey
    UNION ALL
    SELECT c.c_custkey, c.acctbal_cents, TRUE AS is_current, 1 AS version
    FROM cust c ANTI JOIN updates u ON c.c_custkey = u.c_custkey
    UNION ALL
    SELECT c_custkey, acctbal_cents, TRUE AS is_current, 2 AS version FROM updates
"""


def _lateral_topk_sql() -> str:
    """Engine-shared LATERAL correlated top-k (identical text): for a
    keyed sample of orders, each order's 2 priciest line items via a
    correlated ORDER BY/LIMIT subquery — the \"top-N related rows per
    driving row\" idiom. Spark DECORRELATES this into the same
    window/rank plan window_rank_topk_per_group writes by hand (the
    point of covering the surface: users write the lateral form and
    Catalyst compiles the scale-safe plan); DuckDB executes the lateral
    join directly. No per-row re-execution in either engine."""
    return """
        SELECT o.o_orderkey, t.l_linenumber, t.price_cents
        FROM (SELECT o_orderkey FROM orders WHERE o_orderkey % 100 = 0) o,
        LATERAL (
            SELECT l_linenumber,
                   CAST(round(l_extendedprice * 100) AS BIGINT)
                       AS price_cents
            FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
            ORDER BY price_cents DESC, l_linenumber LIMIT 2
        ) t
        ORDER BY o.o_orderkey, t.price_cents DESC, t.l_linenumber
    """


def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated top-k join — see _lateral_topk_sql."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_lateral_topk_sql())


JOIN_LATERAL_TOPK_SQL = _lateral_topk_sql()


PIT_CUTOVER = "1995-06-01"   # version-2 validity start for updated keys


def _pit_sql() -> str:
    """Engine-shared point-in-time join (identical text both engines).

    The versioned dim is synthesized from customer exactly like
    scd2_upsert_emulation's output: every 10th customer has v1 (balance)
    valid until {PIT_CUTOVER} and v2 (balance + 100_00 cents) valid
    from it; everyone else has a single open-ended v1. Orders then join
    to the version VALID AT o_orderdate — the feature-store PIT rule
    that prevents training-serving leakage (never read a dim value from
    the future).

    The join is equi on custkey with the validity interval as residual —
    each key carries ≤2 versions, so the fan-out is bounded and the plan
    stays a plain shuffle/broadcast hash join (no interval machinery
    needed when version count per key is small, which SCD dims are)."""
    return f"""
        WITH versions AS (
            SELECT c_custkey,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
                   1 AS version,
                   DATE '1990-01-01' AS valid_from,
                   CASE WHEN c_custkey % 10 = 0
                        THEN DATE '{PIT_CUTOVER}'
                        ELSE DATE '2999-01-01' END AS valid_to
            FROM customer
            UNION ALL
            SELECT c_custkey,
                   CAST(round(c_acctbal * 100) AS BIGINT) + 10000,
                   2,
                   DATE '{PIT_CUTOVER}',
                   DATE '2999-01-01'
            FROM customer WHERE c_custkey % 10 = 0
        )
        SELECT o.o_orderkey, o.o_custkey,
               CAST(o.o_orderdate AS DATE) AS o_orderdate,
               v.version, v.bal_cents
        FROM orders o
        JOIN versions v
          ON o.o_custkey = v.c_custkey
         AND CAST(o.o_orderdate AS DATE) >= v.valid_from
         AND CAST(o.o_orderdate AS DATE) < v.valid_to
        ORDER BY o.o_orderkey
    """


def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join — see _pit_sql."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_pit_sql())


JOIN_POINT_IN_TIME_SQL = _pit_sql()


def _merge_upsert_sql() -> str:
    """Engine-shared MERGE INTO emulation (identical text on both
    engines). Target = even-keyed orders snapshot; source = every 3rd
    order as a change batch (+5000 cents) with every 9th flagged for
    delete. Standard MERGE clause semantics:

    - WHEN MATCHED AND s.delete_flag  THEN DELETE   (row dropped)
    - WHEN MATCHED                    THEN UPDATE   (take source price)
    - WHEN NOT MATCHED AND NOT s.delete_flag THEN INSERT
      (a delete against a missing key is a no-op, per the SQL standard)
    """
    return """
        WITH target AS (
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM orders WHERE o_orderkey % 2 = 0
        ),
        src AS (
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) + 5000
                       AS price_cents,
                   (o_orderkey % 9 = 0) AS delete_flag
            FROM orders WHERE o_orderkey % 3 = 0
        ),
        m AS (
            SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                   t.price_cents AS t_price,
                   s.price_cents AS s_price,
                   COALESCE(s.delete_flag, FALSE) AS delete_flag,
                   (t.o_orderkey IS NOT NULL) AS in_t,
                   (s.o_orderkey IS NOT NULL) AS in_s
            FROM target t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
        )
        SELECT o_orderkey,
               CASE WHEN in_s THEN s_price ELSE t_price END AS price_cents,
               CASE WHEN in_t AND in_s THEN 'update'
                    WHEN in_s THEN 'insert'
                    ELSE 'keep' END AS action
        FROM m
        WHERE NOT (in_s AND delete_flag)
        ORDER BY o_orderkey
    """


def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert + delete) emulation without a lakehouse format
    — the post-merge relation a Delta/Iceberg MERGE would produce,
    compiled to the plan MERGE itself compiles to: ONE full outer join
    on the merge key + per-row CASE action, no row-at-a-time upserts.
    Complements scd2_upsert_emulation (which keeps history): this is the
    overwrite-in-place MERGE with all three WHEN clauses.

    Scale posture: a single equi full-outer join (shuffle on the merge
    key, AQE-skew-splittable) and narrow projections; the rewritten
    table partition-overwrites the target — exactly how a 100 TB
    copy-on-write MERGE executes."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_merge_upsert_sql())


SINK_MERGE_UPSERT_SQL = _merge_upsert_sql()


def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range (interval-containment) join with NO equi key: events
    joined to daily 02:00-08:00 windows derived from the same table, then
    aggregated per window.

    Scale posture — the decomposition is the point: a naive theta join
    (`ts >= lo AND ts < hi`) plans as BroadcastNestedLoopJoin, which is
    quadratic and dies at scale. Instead both sides are mapped to
    fixed-width time buckets (intervals exploded to every bucket they
    overlap, points to their single bucket), turning the theta join into
    an EQUI join on `bucket` with the exact range predicate left as a
    cheap residual filter. The equi key keeps every join strategy
    available to Catalyst: broadcast-hash here (the window dim is tiny),
    shuffle-hash on (bucket) when the interval side is itself huge —
    either way, never a nested loop. This is the standard distributed
    interval-join pattern (cf. Spark's own session windows and the
    ranged variants in Flink's interval join)."""
    ev = load_table(spark, sf_dir, "events")
    bucket_s = 6 * 3600  # bucket width == interval width ⇒ ≤2 buckets/interval
    wins = (
        ev.select(F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
        .select(
            (F.col("day") + F.expr("INTERVAL 2 HOURS")).alias("lo"),
            (F.col("day") + F.expr("INTERVAL 8 HOURS")).alias("hi"),
        )
    )
    win_buckets = wins.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp("lo") / bucket_s),
                F.floor((F.unix_timestamp("hi") - 1) / bucket_s),
            )
        ),
    )
    pts = ev.withColumn("bucket", F.floor(F.unix_timestamp("ts") / bucket_s))
    return (
        pts.join(F.broadcast(win_buckets), "bucket")
        .filter((F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi")))
        .groupBy("lo")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.date_format("lo", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "n_users",
            "min_value",
            "max_value",
        )
    )


JOIN_RANGE_INTERVAL_SQL = """
    WITH wins AS (
        SELECT DISTINCT
               date_trunc('day', ts) + INTERVAL 2 HOUR AS lo,
               date_trunc('day', ts) + INTERVAL 8 HOUR AS hi
        FROM events
    )
    SELECT strftime(w.lo, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           MIN(e.value) AS min_value,
           MAX(e.value) AS max_value
    FROM events e JOIN wins w ON e.ts >= w.lo AND e.ts < w.hi
    GROUP BY w.lo
"""


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders/lineitem as bucketed+sorted tables on the join key.

    Bucketing is THE write-once/join-many lever at 100 TB: both sides
    hash-partitioned into the same bucket count at write time, so every
    later join on the key plans with ZERO Exchange (pinned by
    tests/test_plans.py::test_bucketed_join_query_has_no_shuffle) and,
    with sortBy, a zero-sort merge join. The reference re-shuffles in
    ClickHouse on every query; this is the lakehouse answer.

    Idempotency: the metastore is per-session (in-memory derby) but the
    warehouse directory persists across sessions, so a fresh session's
    ``saveAsTable`` would hit LOCATION_ALREADY_EXISTS on the leftover
    files. Drop-and-purge both (never depend on workspace state)."""
    import os
    import shutil
    from urllib.parse import urlparse

    spark.sql("CREATE DATABASE IF NOT EXISTS buckdemo")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for name in ("orders_cl", "lineitem_cl"):
        spark.sql(f"DROP TABLE IF EXISTS buckdemo.{name}")
        shutil.rmtree(os.path.join(wh, "buckdemo.db", name), ignore_errors=True)
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .bucketBy(16, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("buckdemo.orders_cl")
    )
    (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite")
        .bucketBy(16, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("buckdemo.lineitem_cl")
    )
    return "buckdemo.lineitem_cl", "buckdemo.orders_cl"


def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority over the co-located bucketed layout —
    result identical to the plain join (the oracle runs that), the plan
    shuffle-free on the fact side."""
    li_t, o_t = bucketed_tables(spark, sf_dir)
    # Integer-micro discipline (PARITY_r02.md): price/discount are exact
    # 2-dp doubles in the fixture, so cents-as-BIGINT arithmetic is exact
    # AND removes DECIMAL from the compared output (the one type class the
    # driver's value canonicalization has disagreed on).
    return (
        spark.table(li_t)
        .withColumn("cents", F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .withColumn("disc_bp", F.round(F.col("l_discount") * 10_000).cast("bigint"))
        .join(
            spark.table(o_t),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            # integer DIV, not /: the micro-sum exceeds 2^53 at scale, so
            # a double intermediate would silently round
            F.expr(
                "CAST(SUM(cents * (10000 - disc_bp)) DIV 10000 AS BIGINT)"
            ).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


JOIN_BUCKETED_COLOCATED_SQL = """
    SELECT o_orderpriority,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (10000 - CAST(round(l_discount * 10000) AS BIGINT)))
                // 10000 AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a date-partitioned lakehouse layout:
    events are laid out as ``event_date=…`` hive partitions (the
    ``sink_partitioned_parquet`` layout), then joined to a dim whose
    membership is only known at runtime — the distinct days on which a
    ``purchase`` event occurred (a real curation shape: "process only
    days with conversion activity"). Catalyst injects the dim's
    build-side keys into the fact scan as a ``dynamicpruningexpression``
    partition filter (pinned by tests/test_plans.py), so only matching
    date directories are READ at all.

    Scale posture: this is THE scan-reduction lever for star joins at
    100 TB — static predicate pushdown can't help when the selective
    filter lives on the dim, but DPP turns the broadcast build side into
    a partition filter, cutting fact IO from all-days to matching-days
    before a single fact row is deserialized. The reference re-reads the
    full collection and filters in ClickHouse; this reads only the
    partitions the dim names. The date-partitioned layout is built once
    per process via cached_work_dir (repeat invocations reuse it)."""
    import os as _os

    from mongo_to_clickhouse_spark.io import cached_work_dir

    def _build(root: str) -> None:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        ev.repartition("event_date").write.partitionBy("event_date").parquet(
            _os.path.join(root, "events")
        )

    out = _os.path.join(
        cached_work_dir(spark, "dpp", sf_dir, ("events",), _build), "events"
    )
    fact = spark.read.parquet(out)
    # make the pruning observable at fixture scale: restrict the dim to
    # purchase days in the first week, so most date partitions are skipped
    dim = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.dayofmonth("ts") <= 7)
        )
        .select(F.to_date("ts").alias("event_date"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("event_date")
    )


JOIN_DYNAMIC_PARTITION_PRUNING_SQL = """
    WITH dim AS (
        SELECT DISTINCT CAST(ts AS DATE) AS event_date
        FROM events
        WHERE event_type = 'purchase' AND day(ts) <= 7
    )
    SELECT CAST(e.event_date AS VARCHAR) AS event_date,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM (SELECT CAST(ts AS DATE) AS event_date, user_id FROM events) e
    JOIN dim d ON e.event_date = d.event_date
    GROUP BY e.event_date
    ORDER BY e.event_date
"""


def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter pruning on a shuffle join — the shuffle-side
    sibling of dynamic partition pruning: the selective dim side
    ('1-URGENT' orders, ~1/5 of keys) builds a bloom filter that Catalyst
    injects as ``BloomFilterMightContain`` on the FACT side *before* its
    shuffle, so ~80% of lineitem rows never enter the exchange. At 100 TB
    the shuffle write is the cost center of any non-broadcast join;
    runtime semi-join reduction is how Spark cuts it without a layout
    change (DPP needs partitioning; this works on any scan).

    Local-scale note: the optimization is ON by default but gated behind
    a 10 GB application-side scan threshold and preempted by broadcast
    (both right at cluster scale); the fixture-scale demo scopes
    conf overrides around the materialization — plans are optimized at
    ACTION time, so the result is written inside the conf window and the
    relation read back (the sink-query pattern). Restored in finally.
    Plan pinned by tests/test_plans.py."""
    import os as _os

    from mongo_to_clickhouse_spark.io import cached_work_dir

    def _build(root: str) -> None:
        overrides = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold": "0",
        }
        saved = {k: spark.conf.get(k) for k in overrides}
        try:
            for k, v in overrides.items():
                spark.conf.set(k, v)
            _bloom_joined(spark, sf_dir).write.mode("overwrite").parquet(
                _os.path.join(root, "agg")
            )
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    out = _os.path.join(cached_work_dir(
        spark, "bloom", sf_dir, ("lineitem", "orders"), _build), "agg")
    return spark.read.parquet(out).orderBy("l_returnflag")


def _bloom_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The logical join the bloom filter is injected into (factored out so
    the plan test can inspect it inside its own conf window)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    return (
        li.join(urgent, li.l_orderkey == urgent.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


JOIN_RUNTIME_BLOOM_FILTER_SQL = """
    SELECT l_returnflag, COUNT(*) AS n_items,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# join_spatial_grid — grid-bucketed spatial distance join
# ---------------------------------------------------------------------------

SPATIAL_RADIUS = 150   # match radius, integer coordinate units
_SPATIAL_TOPK = 50
_GRID_SPAN = 10_000    # coordinate domain [0, span)


def _spatial_pts_spark(rel: str, key: str) -> str:
    h = ("CAST(conv(substring(md5(concat('{ax}', CAST(" + key
         + " AS STRING))), 1, 15), 16, 10) AS BIGINT)")
    return f"""
        SELECT {key} AS k,
               {h.format(ax="x")} % {_GRID_SPAN} AS x,
               {h.format(ax="y")} % {_GRID_SPAN} AS y
        FROM {rel}
    """


def _spatial_pts_duck(rel: str, key: str) -> str:
    h = ("CAST(('0x' || substr(md5('{ax}' || CAST(" + key
         + " AS VARCHAR)), 1, 15)) AS BIGINT)")
    return f"""
        SELECT {key} AS k,
               {h.format(ax="x")} % {_GRID_SPAN} AS x,
               {h.format(ax="y")} % {_GRID_SPAN} AS y
        FROM {rel}
    """


def _spatial_body(intdiv: str, gen_dx: str, gen_dy: str) -> str:
    r = SPATIAL_RADIUS
    return f"""
    probes AS (
        SELECT k AS a_key, x AS ax, y AS ay,
               (x {intdiv} {r} + dx) AS cx,
               (y {intdiv} {r} + dy) AS cy
        FROM cust_pts, (SELECT {gen_dx}) dxs, (SELECT {gen_dy}) dys
    ),
    cells AS (
        SELECT k AS b_key, x AS bx, y AS by,
               x {intdiv} {r} AS cx, y {intdiv} {r} AS cy
        FROM supp_pts
    ),
    pairs AS (
        SELECT p.a_key, c.b_key,
               CAST((p.ax - c.bx) * (p.ax - c.bx)
                    + (p.ay - c.by) * (p.ay - c.by) AS BIGINT) AS d2
        FROM probes p JOIN cells c ON c.cx = p.cx AND c.cy = p.cy
        WHERE (p.ax - c.bx) * (p.ax - c.bx)
              + (p.ay - c.by) * (p.ay - c.by)
              <= {r * r}
    )
    SELECT a_key, b_key, d2
    FROM pairs
    ORDER BY d2, a_key, b_key
    LIMIT {_SPATIAL_TOPK}
"""


def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial distance join (radius {SPATIAL_RADIUS}) between the
    customer and supplier point sets via GRID BUCKETING — the standard
    distributed spatial-join decomposition (the GeoSpark/Sedona shape):
    cell side = radius, each left point probes its 3×3 cell
    neighborhood, candidates meet in an EQUI-join on the cell key, the
    exact integer circle test filters — never an all-pairs theta join.
    Coordinates are md5-synthesized integers (the fixture has no geo
    columns — same synthesis discipline as the URL/op-log operators).

    Scale posture: the probe fan-out is a constant ×9; the join is
    hash-partitioned on uniform md5-derived cells; candidate volume
    scales with local density (points per cell), exactly the knob the
    radius/cell ratio tunes. All-integer arithmetic end to end."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("sp_cust")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("sp_supp")
    return spark.sql(
        "WITH cust_pts AS (" + _spatial_pts_spark("sp_cust", "c_custkey")
        + "), supp_pts AS (" + _spatial_pts_spark("sp_supp", "s_suppkey")
        + "), " + _spatial_body(
            "DIV",
            "explode(array(-1, 0, 1)) AS dx",
            "explode(array(-1, 0, 1)) AS dy",
        )
    )


JOIN_SPATIAL_GRID_SQL = (
    "WITH cust_pts AS (" + _spatial_pts_duck("customer", "c_custkey")
    + "), supp_pts AS (" + _spatial_pts_duck("supplier", "s_suppkey")
    + "), " + _spatial_body(
        "//", "unnest([-1, 0, 1]) AS dx", "unnest([-1, 0, 1]) AS dy"
    )
)


# ---------------------------------------------------------------------------
# window_fifo_allocation — FIFO supply↔demand matching as interval algebra
# ---------------------------------------------------------------------------

FIFO_BUCKET_QTY = 64     # cumulative-axis grid width for the overlap join
_FIFO_TOPK = 25


def _fifo_sql(engine: str) -> str:
    """FIFO allocation (inventory costing / lot matching) as CUMULATIVE
    INTERVAL INTERSECTION — the declarative form of the classic
    cursor loop: per part, supply lots ('N' lineitems) and demand
    issues ('R' lineitems) each occupy half-open intervals
    (cum_prev, cum] on the part's cumulative-quantity axis, and the
    FIFO-matched quantity between lot i and issue j is exactly the
    overlap of their intervals:

        matched = max(0, min(sH, dH) − max(sL, dL))

    The pair space is sparse (each lot overlaps O(1 + qty/avg) issues),
    and the overlap join decomposes to an equi-join by bucketing the
    cumulative axis in {FIFO_BUCKET_QTY}-unit cells (the
    join_range_interval / spatial-grid house reduction — never a theta
    BNLJ). All quantities are exact integers; prefix sums ride
    part-partitioned windows (uniform dim keys). Per-part report, top
    {_FIFO_TOPK} by matched quantity."""
    intdiv = "DIV" if engine == "spark" else "//"
    if engine == "spark":
        gen = (f"LATERAL VIEW explode(sequence(lo {intdiv}"
               f" {FIFO_BUCKET_QTY}, hi {intdiv} {FIFO_BUCKET_QTY}))"
               " AS cell")
    else:
        gen = (f", unnest(range(lo // {FIFO_BUCKET_QTY},"
               f" hi // {FIFO_BUCKET_QTY} + 1)) AS g(cell)")
    return f"""
        WITH moves AS (
            SELECT l_partkey AS part, l_returnflag AS side,
                   CAST(floor(l_quantity) AS BIGINT) AS qty,
                   l_shipdate, l_orderkey, l_linenumber
            FROM lineitem
            WHERE l_returnflag IN ('N', 'R')
              AND l_quantity > 0
        ),
        cums AS (
            SELECT part, side, qty,
                   CAST(SUM(qty) OVER (
                       PARTITION BY part, side
                       ORDER BY l_shipdate, l_orderkey, l_linenumber)
                       AS BIGINT) AS hi
            FROM moves
        ),
        ivals AS (
            SELECT part, side, hi - qty AS lo, hi FROM cums
        ),
        cells AS (
            SELECT part, side, lo, hi, cell
            FROM ivals {gen}
        ),
        matches AS (
            SELECT DISTINCT s.part, s.lo AS slo, s.hi AS shi,
                   d.lo AS dlo, d.hi AS dhi
            FROM cells s
            JOIN cells d
              ON d.part = s.part AND d.cell = s.cell
             AND s.side = 'N' AND d.side = 'R'
             AND s.lo < d.hi AND d.lo < s.hi
        ),
        per_part AS (
            SELECT part,
                   CAST(SUM(LEAST(shi, dhi) - GREATEST(slo, dlo))
                        AS BIGINT) AS matched_qty,
                   CAST(COUNT(*) AS BIGINT) AS n_lot_issue_pairs
            FROM matches GROUP BY part
        ),
        totals AS (
            SELECT part,
                   CAST(SUM(CASE WHEN side = 'N' THEN qty ELSE 0 END)
                        AS BIGINT) AS supply_qty,
                   CAST(SUM(CASE WHEN side = 'R' THEN qty ELSE 0 END)
                        AS BIGINT) AS demand_qty
            FROM moves GROUP BY part
        )
        SELECT t.part, t.supply_qty, t.demand_qty,
               CAST(COALESCE(m.matched_qty, 0) AS BIGINT) AS matched_qty,
               t.supply_qty - COALESCE(m.matched_qty, 0)
                   AS unmatched_supply,
               t.demand_qty - COALESCE(m.matched_qty, 0)
                   AS unmatched_demand,
               CAST(COALESCE(m.n_lot_issue_pairs, 0) AS BIGINT)
                   AS n_lot_issue_pairs
        FROM totals t LEFT JOIN per_part m ON m.part = t.part
        ORDER BY matched_qty DESC, t.part
        LIMIT {_FIFO_TOPK}
    """


def window_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot↔issue matching — see _fifo_sql. The matched quantity
    per part provably equals min(total supply, total demand) (interval
    intersection of two partitions of the same axis), which the planted
    test pins — so the per-pair attribution is consistent by
    construction."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_fifo_sql("spark"))


WINDOW_FIFO_ALLOCATION_SQL = _fifo_sql("duck")


QUERIES: dict[str, tuple] = {
    "window_fifo_allocation": (
        window_fifo_allocation,
        WINDOW_FIFO_ALLOCATION_SQL,
    ),
    "join_spatial_grid": (join_spatial_grid, JOIN_SPATIAL_GRID_SQL),
    "join_asof": (join_asof, JOIN_ASOF_SQL),
    "join_asof_tolerance": (join_asof_tolerance, JOIN_ASOF_TOLERANCE_SQL),
    "join_asof_forward": (join_asof_forward, JOIN_ASOF_FORWARD_SQL),
    "join_asof_nearest": (join_asof_nearest, JOIN_ASOF_NEAREST_SQL),
    "join_runtime_bloom_filter": (
        join_runtime_bloom_filter,
        JOIN_RUNTIME_BLOOM_FILTER_SQL,
    ),
    "join_dynamic_partition_pruning": (
        join_dynamic_partition_pruning,
        JOIN_DYNAMIC_PARTITION_PRUNING_SQL,
    ),
    "join_bucketed_colocated": (join_bucketed_colocated, JOIN_BUCKETED_COLOCATED_SQL),
    "join_range_interval": (join_range_interval, JOIN_RANGE_INTERVAL_SQL),
    "join_skew_salted": (join_skew_salted, JOIN_SKEW_SALTED_SQL),
    "scd2_upsert_emulation": (scd2_upsert_emulation, SCD2_UPSERT_EMULATION_SQL),
    "sink_merge_upsert": (sink_merge_upsert, SINK_MERGE_UPSERT_SQL),
    "join_point_in_time": (join_point_in_time, JOIN_POINT_IN_TIME_SQL),
    "join_lateral_topk": (join_lateral_topk, JOIN_LATERAL_TOPK_SQL),
    "pivot_wide_agg": (pivot_wide_agg, PIVOT_WIDE_AGG_SQL),
    "unpivot_long": (unpivot_long, UNPIVOT_LONG_SQL),
    "join_outer_full": (join_outer_full, JOIN_OUTER_FULL_SQL),
}
