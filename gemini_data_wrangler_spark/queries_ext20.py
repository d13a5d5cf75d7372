"""Round-2 extensions, batch 20: linear interpolation, event-order
quality, behavioral set segmentation, and n-gram novelty scoring.

Scale notes:
- Linear interpolation rides the date spine + two IGNORE NULLS windows
  (previous/next known point + their dates) — constant state per row,
  one (series) sort; the standard missing-value treatment between
  zero-fill and forward-fill (`timeseries_gapfill`).
- Disorder ratio is one lag window per user — the event-time vs
  arrival-order health metric that sizes streaming watermarks.
- Behavior segments collapse events to one row per user with `bool_or`
  flags, then one tiny groupBy over the flag combinations.
- N-gram novelty is the inverse of `text_duplicated_spans`: per doc, the
  fraction of its 8-grams that appear in NO other document — the
  contribution-of-new-content score corpus curation ranks sources by.
  Explode + two aggregations, linear in corpus tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Linear interpolation over a sparse daily series
# ---------------------------------------------------------------------------
@register(
    "timeseries_interpolate",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             round(sum(value), 6) AS total
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
    spine AS (
      SELECT unnest(generate_series((SELECT lo FROM bounds),
                                    (SELECT hi FROM bounds),
                                    INTERVAL 1 DAY))::DATE AS d
    ), joined AS (
      SELECT s.d, daily.total,
             last_value(daily.total IGNORE NULLS)
               OVER (ORDER BY s.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
             last_value(CASE WHEN daily.total IS NOT NULL THEN s.d END IGNORE NULLS)
               OVER (ORDER BY s.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
             first_value(daily.total IGNORE NULLS)
               OVER (ORDER BY s.d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             first_value(CASE WHEN daily.total IS NOT NULL THEN s.d END IGNORE NULLS)
               OVER (ORDER BY s.d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
      FROM spine s LEFT JOIN daily ON s.d = daily.d
    )
    SELECT d, total AS observed,
           round(CASE
             WHEN total IS NOT NULL THEN total
             WHEN prev_v IS NULL THEN next_v
             WHEN next_v IS NULL THEN prev_v
             ELSE prev_v + (next_v - prev_v)
                  * date_diff('day', prev_d, d)
                  / CAST(date_diff('day', prev_d, next_d) AS DOUBLE)
           END, 6) AS interpolated
    FROM joined
    """,
)
def timeseries_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing days: build the full date spine,
    carry the previous/next observed (value, date) with IGNORE NULLS
    windows, lerp by day offset. Edge gaps take the nearest observed
    value. One series-ordered sort; per-key time series shard the same
    windows by key (`timeseries_gapfill` shows the zero/forward-fill
    variants on the same spine)."""
    events = sf_table(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(F.round(F.sum("value"), 6).alias("total"))
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("d")
    )
    j = spine.join(daily, "d", "left")
    wb = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.orderBy("d").rowsBetween(0, Window.unboundedFollowing)
    d_if_obs = F.when(F.col("total").isNotNull(), F.col("d"))
    joined = j.select(
        "d",
        "total",
        F.last("total", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(d_if_obs, ignorenulls=True).over(wb).alias("prev_d"),
        F.first("total", ignorenulls=True).over(wf).alias("next_v"),
        F.first(d_if_obs, ignorenulls=True).over(wf).alias("next_d"),
    )
    lerp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * F.datediff(
        "d", "prev_d"
    ) / F.datediff("next_d", "prev_d").cast("double")
    interp = (
        F.when(F.col("total").isNotNull(), F.col("total"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(lerp)
    )
    return joined.select(
        "d", F.col("total").alias("observed"), F.round(interp, 6).alias("interpolated")
    )


# ---------------------------------------------------------------------------
# Event-order health: arrival order vs event time
# ---------------------------------------------------------------------------
@register(
    "events_disorder_stats",
    """
    WITH seq AS (
      SELECT user_id, event_id,
             lag(event_id) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_id
      FROM events
    )
    SELECT user_id, count(*) AS n_events,
           count(*) FILTER (WHERE prev_id IS NOT NULL AND prev_id > event_id)
             AS n_inversions,
           round(CAST(count(*) FILTER (WHERE prev_id IS NOT NULL
                                       AND prev_id > event_id) AS DOUBLE)
                 / count(*), 6) AS disorder_ratio
    FROM seq GROUP BY user_id HAVING count(*) >= 50
    """,
)
def events_disorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival metric: within each user's event-time order,
    count places where the ARRIVAL sequence (event_id) steps backwards —
    adjacent inversions between assignment order and event time. High
    disorder → wider streaming watermarks / late-data allowances. One
    lag window + groupBy; users under 50 events are dropped to keep the
    ratio meaningful."""
    events = sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "event_id", F.lag("event_id").over(w).alias("prev_id")
    )
    inv = F.col("prev_id").isNotNull() & (F.col("prev_id") > F.col("event_id"))
    return (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_if(inv).alias("n_inversions"),
            F.round(F.count_if(inv).cast("double") / F.count(F.lit(1)), 6).alias(
                "disorder_ratio"
            ),
        )
        .filter(F.col("n_events") >= 50)
    )


# ---------------------------------------------------------------------------
# Behavioral set segmentation (did A and B but not C)
# ---------------------------------------------------------------------------
@register(
    "users_behavior_segments",
    """
    WITH flags AS (
      SELECT user_id,
             bool_or(event_type = 'view') AS did_view,
             bool_or(event_type = 'click') AS did_click,
             bool_or(event_type = 'purchase') AS did_purchase
      FROM events GROUP BY user_id
    )
    SELECT did_view, did_click, did_purchase,
           count(*) AS n_users,
           CASE
             WHEN did_purchase THEN 'converted'
             WHEN did_click THEN 'engaged'
             WHEN did_view THEN 'browsed'
             ELSE 'other'
           END AS segment
    FROM flags GROUP BY did_view, did_click, did_purchase
    """,
)
def users_behavior_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-membership segmentation: collapse each user to boolean
    behavior flags (`bool_or` — partial-aggregable, one shuffle), then
    count the 2³ flag combinations and name the marketing segment. The
    'did A and B but not C' audience is a filter over this table,
    never an INTERSECT/EXCEPT of user-id sets."""
    events = sf_table(spark, sf_dir, "events")
    flags = events.groupBy("user_id").agg(
        F.bool_or(F.col("event_type") == "view").alias("did_view"),
        F.bool_or(F.col("event_type") == "click").alias("did_click"),
        F.bool_or(F.col("event_type") == "purchase").alias("did_purchase"),
    )
    segment = (
        F.when(F.col("did_purchase"), F.lit("converted"))
        .when(F.col("did_click"), F.lit("engaged"))
        .when(F.col("did_view"), F.lit("browsed"))
        .otherwise(F.lit("other"))
    )
    return (
        flags.groupBy("did_view", "did_click", "did_purchase")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .withColumn("segment", segment)
    )


# ---------------------------------------------------------------------------
# N-gram novelty: fraction of a doc's 8-grams unseen in any other doc
# ---------------------------------------------------------------------------
_NOV_N = 8


@register(
    "text_ngram_novelty",
    rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
    ), spans AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - {_NOV_N - 1}),
                    i -> array_to_string(ws[i:i+{_NOV_N - 1}], ' '))) AS span
      FROM w WHERE len(ws) >= {_NOV_N}
    ), shared AS (
      SELECT span FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT s.doc_id, count(*) AS n_spans,
           count(*) FILTER (WHERE sh.span IS NOT NULL) AS n_shared,
           round(1.0 - CAST(count(*) FILTER (WHERE sh.span IS NOT NULL) AS DOUBLE)
                 / count(*), 6) AS novelty_ratio
    FROM spans s LEFT JOIN shared sh ON s.span = sh.span
    GROUP BY s.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty score per document: the fraction of its word-8-grams that
    occur in NO other document — the inverse view of
    `text_duplicated_spans`, used to rank sources by how much NEW
    content they contribute. Explode spans once, derive the shared-span
    set with a groupBy, left-join back, aggregate per doc — all linear
    and span-keyed (hash the span to a long at scale)."""
    docs = sf_table(spark, sf_dir, "documents")
    ws = F.split(F.trim("text"), r"\s+")
    spans_expr = F.expr(
        f"transform(sequence(1, size(ws) - {_NOV_N - 1}),"
        f" i -> array_join(slice(ws, i, {_NOV_N}), ' '))"
    )
    # Staged once (round 7): the span explode feeds the shared-span build
    # AND the left-join back — unpersisted, the tokenize+explode ran twice.
    spans = (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= _NOV_N)
        .select("doc_id", F.explode(spans_expr).alias("span"))
        .persist()
    )
    shared = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span", F.lit(1).alias("_sh"))
    )
    j = spans.join(shared, "span", "left")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count_if(F.col("_sh").isNotNull()).alias("n_shared"),
        F.round(
            1.0 - F.count_if(F.col("_sh").isNotNull()).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("novelty_ratio"),
    )
