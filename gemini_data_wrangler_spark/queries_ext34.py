"""Round-2 extensions, batch 34: classical time-series decomposition and
Markov entropy rate of event flows.

Scale notes:
- DECOMPOSITION: daily rollup (one map-side-combined aggregate), a
  centered 7-day moving-average trend (one ordered window over the tiny
  per-day table), day-of-week seasonal means of the detrended series
  (7-row broadcast), residual = observed − trend − seasonal. Every
  window runs over the date spine, never raw events.
- ENTROPY RATE: H = −Σ_s π(s) Σ_t p(t|s) ln p(t|s) over the event-type
  Markov chain — two grouped aggregations over the (tiny) transition
  table that `events_markov_transitions` already builds, weighted by the
  empirical state distribution. A flow whose next step is predictable
  (bot traffic, template replay) shows up as a collapsed entropy rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Classical additive decomposition of daily event value
# ---------------------------------------------------------------------------
@register(
    "timeseries_decompose_classical",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, dayofweek(CAST(ts AS DATE)) AS dow,
             round(sum(value), 6) AS observed
      FROM events GROUP BY 1, 2
    ), trended AS (
      SELECT d, dow, observed,
             CASE WHEN count(*) OVER w = 7
                  THEN avg(observed) OVER w END AS trend
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), seasonal AS (
      SELECT dow, avg(observed - trend) AS s
      FROM trended WHERE trend IS NOT NULL GROUP BY dow
    )
    SELECT t.d, t.observed,
           round(t.trend, 6) AS trend,
           round(s.s, 6) AS seasonal,
           round(t.observed - t.trend - s.s, 6) AS residual
    FROM trended t JOIN seasonal s ON t.dow = s.dow
    WHERE t.trend IS NOT NULL
    """,
)
def timeseries_decompose_classical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily event value: trend = a
    CENTERED 7-day moving average (full windows only — edges have no
    unbiased trend), seasonal = day-of-week mean of the detrended
    series, residual = the rest. The anomaly screen's explainable
    sibling: `timeseries_seasonal_anomaly` flags, this answers "is it
    trend, weekday shape, or genuinely unexplained?". All windows run
    over the per-day rollup; the seasonal table is 7 rows broadcast."""
    events = sf_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date("ts").alias("d"), F.dayofweek(F.to_date("ts")).alias("dow")
    ).agg(F.round(F.sum("value"), 6).alias("observed"))
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.withColumn(
        "trend",
        F.when(F.count(F.lit(1)).over(w) == 7, F.avg("observed").over(w)),
    )
    seasonal = (
        trended.filter(F.col("trend").isNotNull())
        .groupBy("dow")
        .agg(F.avg(F.col("observed") - F.col("trend")).alias("s"))
    )
    return (
        trended.filter(F.col("trend").isNotNull())
        .join(F.broadcast(seasonal), "dow")
        .select(
            "d",
            "observed",
            F.round("trend", 6).alias("trend"),
            F.round("s", 6).alias("seasonal"),
            F.round(
                F.col("observed") - F.col("trend") - F.col("s"), 6
            ).alias("residual"),
        )
    )


# ---------------------------------------------------------------------------
# Entropy rate of the event-type Markov chain
# ---------------------------------------------------------------------------
@register(
    "events_entropy_rate",
    """
    WITH seq AS (
      SELECT user_id, event_type AS s,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t
      FROM events
    ), trans AS (
      SELECT s, t, count(*) AS n FROM seq WHERE t IS NOT NULL GROUP BY s, t
    ), totals AS (
      SELECT s, sum(n) AS n_s FROM trans GROUP BY s
    ), cond AS (
      SELECT tr.s, tot.n_s,
             -sum((CAST(tr.n AS DOUBLE) / tot.n_s)
                  * ln(CAST(tr.n AS DOUBLE) / tot.n_s)) AS h_s
      FROM trans tr JOIN totals tot ON tr.s = tot.s
      GROUP BY tr.s, tot.n_s
    )
    SELECT round(sum((CAST(n_s AS DOUBLE) / (SELECT sum(n_s) FROM cond)) * h_s), 6)
             AS entropy_rate_nats,
           round(ln((SELECT count(DISTINCT event_type) FROM events)), 6)
             AS max_entropy_nats,
           round(sum((CAST(n_s AS DOUBLE) / (SELECT sum(n_s) FROM cond)) * h_s)
                 / ln((SELECT count(DISTINCT event_type) FROM events)), 6)
             AS normalized
    FROM cond
    """,
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain:
    H = −Σ_s π(s) Σ_t p(t|s)·ln p(t|s), with π the empirical state
    frequency — one number for "how predictable is the next step".
    Organic traffic sits near the ln(k) ceiling; bots and template
    replays collapse it (pairs with `events_markov_transitions`, which
    exposes the full matrix, and `text_ngram_novelty`'s corpus
    analogue). One lead window over events, then two aggregations over
    the tiny transition table."""
    events = sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    ).filter(F.col("t").isNotNull())
    trans = seq.groupBy("s", "t").agg(F.count(F.lit(1)).alias("n"))
    totals = trans.groupBy("s").agg(F.sum("n").alias("n_s"))
    p = F.col("n").cast("double") / F.col("n_s")
    cond = (
        trans.join(F.broadcast(totals), "s")
        .groupBy("s", "n_s")
        .agg((-F.sum(p * F.log(p))).alias("h_s"))
    )
    k = events.select("event_type").distinct().count()
    tot = cond.agg(F.sum("n_s").alias("N"))
    rate = F.sum(F.col("n_s").cast("double") / F.col("N") * F.col("h_s"))
    return (
        cond.crossJoin(F.broadcast(tot))
        .agg(
            F.round(rate, 6).alias("entropy_rate_nats"),
            F.round(F.log(F.lit(float(k))), 6).alias("max_entropy_nats"),
            F.round(rate / F.log(F.lit(float(k))), 6).alias("normalized"),
        )
    )
