"""Event-analytics extensions — conversion funnel, cohort retention, and
semi-structured (JSON) property extraction over the ``events`` stream table.

These are the batch surfaces of the classic product-analytics trio; each is
pure built-in expressions with an exact DuckDB oracle. The reference has no
event-data surface at all (SURVEY.md §2.4 — streaming "entirely absent");
north-star scope.

Scale shape: every query here shuffles only on ``user_id`` (funnel,
retention) or an enum-sized bucket key (props histogram) — the funnel's
three step-aggregations are co-partitioned on the same key, so at 100 TB
they are one exchange plus map-side work, never an event×event join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


@register(
    "events_funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      GROUP BY e.user_id
    )
    SELECT count(v.v_ts) AS users_view,
           count(c.c_ts) AS users_click_after_view,
           count(p.p_ts) AS users_purchase_after_click
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON c.user_id = p.user_id
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view → click → purchase), strict time order:
    each step's first-event time gates the next step's events. Three
    min-aggregations and three joins, ALL keyed on user_id — one shuffle
    partitioning reused across the whole plan (sort-merge stages share the
    exchange), which is what makes sequence funnels tractable on 100 TB of
    events: nothing ever pairs events with events."""
    ev = sf_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("v_ts"))
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("v_ts").alias("users_view"),
            F.count("c_ts").alias("users_click_after_view"),
            F.count("p_ts").alias("users_purchase_after_click"),
        )
    )


@register(
    "events_cohort_retention",
    """
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT CAST(date_trunc('week', f.first_day) AS DATE) AS cohort_week,
           CAST(floor(datediff('day', f.first_day, a.day) / 7.0) AS BIGINT) AS week_offset,
           count(DISTINCT a.user_id) AS active_users
    FROM activity a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, counted
    per week-offset of later activity. Two aggregations + one join, all on
    user_id; the final rollup keys on (cohort, offset) — a few hundred
    groups regardless of input size, so the last exchange is negligible and
    the heavy lifting is map-side distinct + partial aggregation."""
    ev = sf_table(spark, sf_dir, "events").select("user_id", F.col("ts").cast("date").alias("day"))
    first = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    act = ev.distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            F.date_trunc("week", "first_day").cast("date").alias("cohort_week"),
            F.floor(F.datediff("day", "first_day") / 7.0).cast("bigint").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@register(
    "events_props_json",
    """
    SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10) AS INTEGER)
             AS k_bucket,
           COUNT(*) AS cnt,
           round(AVG(value), 2) AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property extraction: pull ``$.k`` out of the JSON
    ``props`` string, bucket it, aggregate. ``get_json_object`` is a JVM
    expression (no UDF); for hot paths at scale the better layout is
    ``from_json`` into a typed struct column at ingest — extraction per
    query re-parses the JSON for every row, parse-once-store-typed doesn't.
    """
    ev = sf_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(F.floor(k / 10).cast("int").alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("value"), 2).alias("avg_value"))
    )
