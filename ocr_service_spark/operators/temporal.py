"""Temporal joins over the events table: as-of join and banded
time-window self-join — the two classic event-pipeline joins Spark has
no native operator for (reference scope: SURVEY.md §2.7 relational
glue; the reference itself is per-request and has neither).

- ``q22_asof_attribution`` — for every purchase, the most recent
  click at-or-before it by the same user (inner as-of join). Spark
  has no ASOF JOIN; a range self-join explodes quadratically on hot
  users. The scale-safe plan is the union trick: tag both sides,
  union, ONE shuffle on (user_id), sort within partition, and carry
  the last click forward with ``last(..., ignorenulls=True)`` over a
  running window. Cost at 100 TB: one hash shuffle of clicks+purchases
  on user_id — same cost as the sessionizer (q06), no join at all.
  DuckDB oracle: native ``ASOF JOIN``. Clicks are pre-deduped to one
  row per (user, timestamp) with max event_id so tie-behavior is
  pinned in both engines.

- ``q23_conversion_pairs`` — all (view, purchase) pairs by the same
  user with 0 < gap <= 1 h. A naive theta-join on the time predicate
  is a cartesian per user; instead timestamps are bucketed into
  window-width bands and each view is exploded into its own band and
  the next, turning the range join into an EQUI join on
  (user_id, band) + a cheap refine filter — each qualifying pair
  matches in exactly one band, so no dedup pass is needed. At 100 TB:
  one shuffle on (user_id, band); band width = the window, so
  per-group size stays bounded by per-user-per-window traffic.

Timestamps are compared in integer microseconds (``unix_micros`` /
DuckDB ``epoch_us``) and bands use exact integer division (``div``)
— double division truncation can be off by one ulp at epoch-micros
magnitude, which would silently drop boundary pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_service_spark.sources.tables import read_table

CONVERSION_WINDOW_US = 3600 * 1_000_000  # 1 hour, integer microseconds


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is TIMESTAMP_NTZ: timestampdiff is tz-free on NTZ (unix_micros
    # would force a session-timezone cast and diverge from DuckDB's
    # naive epoch_us)
    return read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").alias(
            "us"
        ),
    )


# -- q22: as-of join (union + running window; no join operator at all) --------
def q22_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir)

    def _side(event_type: str, tag: int) -> DataFrame:
        return ev.filter(F.col("event_type") == event_type).select(
            "user_id", "us", F.lit(tag).alias("side"), F.col("event_id").alias("eid")
        )

    # side=0 sorts before side=1 on equal us: a click at the exact
    # purchase timestamp IS visible (as-of >= semantics, inclusive).
    # No click pre-dedup shuffle is needed: the running last() over
    # (us, side, eid) order already resolves same-timestamp clicks to
    # the max event_id — only the oracle's ASOF JOIN needs an explicit
    # tie-pinning dedup.
    u = _side("click", 0).unionByName(_side("purchase", 1))
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "side", "eid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_eid = F.last(F.when(F.col("side") == 0, F.col("eid")), ignorenulls=True).over(w)
    click_us = F.last(F.when(F.col("side") == 0, F.col("us")), ignorenulls=True).over(w)
    # both window columns in ONE select: identical specs collapse into a
    # single Window operator (one pass over the sorted partition)
    return (
        u.select(
            "user_id",
            "us",
            "side",
            "eid",
            click_eid.alias("click_event_id"),
            click_us.alias("click_us"),
        )
        .filter((F.col("side") == 1) & F.col("click_event_id").isNotNull())
        .select(
            F.col("eid").alias("purchase_event_id"),
            "user_id",
            F.col("us").alias("purchase_us"),
            "click_event_id",
            "click_us",
            (F.col("us") - F.col("click_us")).alias("gap_us"),
        )
    )


# -- q23: banded time-window self-join (range join -> equi join) --------------
def q23_conversion_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir)
    w_us = CONVERSION_WINDOW_US
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_event_id"),
            F.col("us").alias("view_us"),
            F.expr(f"us div {w_us}").alias("band0"),
        )
        # a view can only convert inside its own band or the next one
        .withColumn("band", F.explode(F.array(F.col("band0"), F.col("band0") + 1)))
        .drop("band0")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("us").alias("purchase_us"),
        F.expr(f"us div {w_us}").alias("band"),
    )
    gap = F.col("purchase_us") - F.col("view_us")
    return (
        views.join(purchases, ["user_id", "band"])
        .filter((gap > 0) & (gap <= w_us))
        .select(
            "user_id",
            "view_event_id",
            "purchase_event_id",
            gap.alias("gap_us"),
        )
    )


# -- q50: running cumulative aggregate ------------------------------------------
def q50_running_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running lifetime spend per user at every purchase — the explicit
    ROWS UNBOUNDED PRECEDING frame. One shuffle on user_id; the frame
    is a single sequential pass within each sorted partition (no
    re-scan per row)."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    sel = ev.select(
        "user_id",
        "event_id",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").alias(
            "us"
        ),
        F.round(F.col("value") * 100).cast("bigint").alias("spend_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sel.select(
        "user_id",
        "event_id",
        "spend_cents",
        F.sum("spend_cents").over(w).cast("bigint").alias("running_cents"),
    )


# -- q49: ordered conversion funnel --------------------------------------------
FUNNEL_STEPS = ("signup", "view", "purchase")


def q49_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: how many users signed up, then viewed AFTER the
    signup, then purchased AFTER that view. One groupBy(user) computing
    the earliest qualifying timestamp per step with conditional min
    aggregates — min(ts) per step cannot express the ORDER constraint,
    so step k uses min(ts where type=step_k) guarded downstream:
    first_view > first_signup, first_purchase > first_view. Single
    shuffle on user_id; the funnel counts are one more tiny agg."""
    ev = _events_us(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("us"))).alias("t_signup")
    )
    # "first view after signup" needs min(view.us WHERE us > t_signup),
    # not min(view.us) — a second conditional pass over the events
    joined = ev.filter(F.col("event_type").isin(*FUNNEL_STEPS)).join(
        firsts, "user_id"
    )
    steps = joined.groupBy("user_id").agg(
        F.min("t_signup").alias("t0"),
        F.min(
            F.when(
                (F.col("event_type") == "view") & (F.col("us") > F.col("t_signup")),
                F.col("us"),
            )
        ).alias("t1"),
    )
    # purchase must follow the first qualifying view (t1)
    purchases = ev.filter(F.col("event_type") == "purchase").join(steps, "user_id")
    t2 = purchases.groupBy("user_id").agg(
        F.min("t0").alias("t0"),
        F.min("t1").alias("t1"),
        F.min(F.when(F.col("us") > F.col("t1"), F.col("us"))).alias("t2"),
    )
    full = steps.join(t2.select("user_id", "t2"), "user_id", "left")
    return full.select(
        F.count(F.when(F.col("t0").isNotNull(), 1)).alias("n_signup"),
        F.count(F.when(F.col("t1").isNotNull(), 1)).alias("n_signup_view"),
        F.count(
            F.when(F.col("t1").isNotNull() & F.col("t2").isNotNull(), 1)
        ).alias("n_signup_view_purchase"),
    )


ORACLES: dict[str, str] = {
    "q50_running_user_spend": """
        SELECT user_id, event_id, spend_cents,
               CAST(sum(spend_cents) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
        FROM (
            SELECT user_id, event_id, epoch_us(ts) AS us,
                   CAST(round(value*100) AS BIGINT) AS spend_cents
            FROM events WHERE event_type = 'purchase'
        )
    """,
    "q49_event_funnel": """
        WITH us AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        f AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup' THEN us END) AS t0
            FROM us GROUP BY 1
        ),
        v AS (
            SELECT us.user_id,
                   min(f.t0) AS t0,
                   min(CASE WHEN event_type = 'view' AND us.us > f.t0 THEN us.us END) AS t1
            FROM us JOIN f ON us.user_id = f.user_id
            GROUP BY 1
        ),
        p AS (
            SELECT v.user_id,
                   min(CASE WHEN event_type = 'purchase' AND us.us > v.t1 THEN us.us END) AS t2
            FROM us JOIN v ON us.user_id = v.user_id
            GROUP BY 1
        )
        SELECT count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS n_signup,
               count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS n_signup_view,
               count(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL THEN 1 END)
                   AS n_signup_view_purchase
        FROM v LEFT JOIN p ON v.user_id = p.user_id
    """,
    "q22_asof_attribution": """
        WITH clicks AS (
            SELECT user_id, epoch_us(ts) AS us, max(event_id) AS click_event_id
            FROM events WHERE event_type = 'click' GROUP BY 1, 2
        ),
        purchases AS (
            SELECT user_id, event_id AS purchase_event_id, epoch_us(ts) AS us
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.purchase_event_id, p.user_id, p.us AS purchase_us,
               c.click_event_id, c.us AS click_us, p.us - c.us AS gap_us
        FROM purchases p ASOF JOIN clicks c
          ON p.user_id = c.user_id AND p.us >= c.us
    """,
    "q23_conversion_pairs": f"""
        SELECT v.user_id, v.event_id AS view_event_id,
               p.event_id AS purchase_event_id,
               epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        FROM events v JOIN events p ON v.user_id = p.user_id
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
          AND epoch_us(p.ts) > epoch_us(v.ts)
          AND epoch_us(p.ts) - epoch_us(v.ts) <= {CONVERSION_WINDOW_US}
    """,
}

QUERIES = {
    "q22_asof_attribution": q22_asof_attribution,
    "q23_conversion_pairs": q23_conversion_pairs,
    "q49_event_funnel": q49_event_funnel,
    "q50_running_user_spend": q50_running_user_spend,
}
