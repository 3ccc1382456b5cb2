"""Relational glue queries (SURVEY.md §2.7) with DuckDB oracles.

The reference has no relational engine; these exercise the Spark
built-ins the extraction job composes with (filter/agg/join/window/
sessionization) over the driver-provided tables. Money sums use
integer cents (``round(x*100)::bigint``) so Spark's partition-order
float summation and DuckDB's sequential summation cannot diverge.

Each ``q_*`` function takes (spark, sf_dir) and returns a DataFrame;
``ORACLES[name]`` is the DuckDB SQL producing identical rows (same
column names — the driver hash-compares by sorted column name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_service_spark.sources.tables import read_table


def cents(col) -> F.Column:
    return F.round(col * 100).cast("bigint")


# -- q01: scan + partial-agg groupBy (TPC-H Q1 shape) -----------------------
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_cents"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# -- q02: multi-join with broadcast dims ------------------------------------
def q02_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


# -- q03: window top-k per group ---------------------------------------------
def q03_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("bigint"))  # DuckDB row_number is BIGINT
        .filter(F.col("rn") <= 2)
        .select(
            "o_custkey",
            "o_orderkey",
            cents(F.col("o_totalprice")).alias("totalprice_cents"),
            "rn",
        )
    )


# -- q04: filter + grouped distinct count -------------------------------------
def q04_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderstatus") != "X")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


# -- q08: grouping sets / rollup ------------------------------------------------
def q08_rollup_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
        )
    )


# -- q09: set operations (intersect / except) -------------------------------------
def q09_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    first = orders.filter(y <= 1997).select("o_custkey").distinct()
    second = orders.filter(y >= 1998).select("o_custkey").distinct()
    both = first.intersect(second).withColumn("bucket", F.lit("both"))
    only_early = first.exceptAll(second).withColumn("bucket", F.lit("early_only"))
    return (
        both.unionByName(only_early)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# -- q05: time bucketing -------------------------------------------------------
def q05_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).alias("value_cents"),
        )
    )


# -- q06: gap-based sessionization (stateful window) ---------------------------
SESSION_GAP_S = 1800


def q06_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    return (
        events.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# -- q07: global top-k by aggregate --------------------------------------------
def q07_top_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    totals = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(cents(F.col("value"))).alias("spend_cents"))
    )
    # TakeOrderedAndProject (per-partition heap + driver merge), not a
    # single-partition global window over every per-user aggregate; the
    # window below ranks only the 20 surviving rows.
    top = totals.orderBy(F.col("spend_cents").desc(), F.col("user_id")).limit(20)
    w = Window.orderBy(F.col("spend_cents").desc(), F.col("user_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


# -- q47: two-phase salted aggregation for hot keys --------------------------------
SALT_BUCKETS = 16


def q47_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-phase salted aggregation: events has only a handful
    of event_type values, so a plain groupBy funnels each key through
    one reducer. Phase 1 groups on (key, salt) — SALT_BUCKETS parallel
    partials per hot key — phase 2 combines the tiny partials. For
    algebraic aggregates Spark's map-side partial agg usually makes
    this unnecessary; the explicit form is the pattern for the cases it
    can't cover (high-cardinality state per group, e.g. exact distinct
    counts under a skewed key, where every distinct value would
    otherwise ship to the hot key's single reducer). Counts and sums
    reassemble exactly; the oracle is the plain one-phase SQL."""
    events = read_table(spark, sf_dir, "events")
    salted = events.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS))
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(cents(F.col("value"))).alias("pv"),
    )
    # only salt-INVARIANT aggregates leave this operator (the salt is an
    # engine-internal xxhash64, deliberately not oracle-reproducible)
    return partial.groupBy("event_type").agg(
        F.sum("pn").cast("bigint").alias("n_events"),
        F.sum("pv").cast("bigint").alias("value_cents"),
    )


# -- q45: semi-structured JSON extraction ---------------------------------------
def q45_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction in the hot path: get_json_object is
    JVM-side (no Python), pushed through a partial-agg groupBy. At
    100 TB the right move is extracting once into a typed column at
    ingest; this query is the probe that the extraction semantics
    match a second engine's JSON parser."""
    events = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


ORACLES: dict[str, str] = {
    "q47_salted_hot_key_agg": """
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events GROUP BY 1
    """,
    "q45_json_props_stats": """
        SELECT event_type, count(*) AS n_events,
               CAST(sum(k) AS BIGINT) AS sum_k,
               CAST(min(k) AS BIGINT) AS min_k,
               CAST(max(k) AS BIGINT) AS max_k,
               count(DISTINCT k) AS n_distinct_k
        FROM (
            SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events
        ) GROUP BY 1
    """,
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
               CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY 1, 2
    """,
    "q02_revenue_by_region": """
        SELECT r_name,
               CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
               count(*) AS n_orders,
               count(DISTINCT o_custkey) AS n_customers
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1
    """,
    "q03_top_orders_per_customer": """
        SELECT o_custkey, o_orderkey,
               CAST(round(o_totalprice*100) AS BIGINT) AS totalprice_cents, rn
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= 2
    """,
    "q04_priority_counts": """
        SELECT o_orderpriority, count(*) AS n_orders,
               count(DISTINCT o_custkey) AS n_customers
        FROM orders WHERE o_orderstatus != 'X' GROUP BY 1
    """,
    "q08_rollup_order_totals": """
        SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    "q09_customer_set_ops": """
        WITH first AS (
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) <= 1997
        ),
        second AS (
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) >= 1998
        ),
        buckets AS (
            SELECT o_custkey, 'both' AS bucket FROM (
                SELECT o_custkey FROM first INTERSECT SELECT o_custkey FROM second)
            UNION ALL
            SELECT o_custkey, 'early_only' AS bucket FROM (
                SELECT o_custkey FROM first EXCEPT SELECT o_custkey FROM second)
        )
        SELECT bucket, count(*) AS n_customers FROM buckets GROUP BY 1
    """,
    "q05_events_daily": """
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events GROUP BY 1, 2
    """,
    "q06_user_sessions": f"""
        SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        FROM (
            SELECT user_id,
                   CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_S}
                        OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ) GROUP BY 1
    """,
    "q07_top_purchasers": """
        SELECT user_id, spend_cents,
               row_number() OVER (ORDER BY spend_cents DESC, user_id) AS rank
        FROM (
            SELECT user_id, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS spend_cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ) QUALIFY rank <= 20
    """,
}

QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_revenue_by_region": q02_revenue_by_region,
    "q03_top_orders_per_customer": q03_top_orders_per_customer,
    "q04_priority_counts": q04_priority_counts,
    "q05_events_daily": q05_events_daily,
    "q06_user_sessions": q06_user_sessions,
    "q07_top_purchasers": q07_top_purchasers,
    "q08_rollup_order_totals": q08_rollup_order_totals,
    "q09_customer_set_ops": q09_customer_set_ops,
    "q45_json_props_stats": q45_json_props_stats,
    "q47_salted_hot_key_agg": q47_salted_hot_key_agg,
}
