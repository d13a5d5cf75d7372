"""Round-2 extensions, batch 17: sequence analytics (gaps-and-islands,
cumulative reach, inter-arrival latency) and distribution-shape data
quality (winsorization, Benford screening, rolling correlation).

All value-hash-oracled. Scale notes:
- Gaps-and-islands is the row_number-difference trick: two windows over
  one (user, ts) sort → constant per-row state, no self-joins.
- Cumulative distinct reach avoids windowed COUNT(DISTINCT) (linear
  state per window) by reducing each user to their FIRST day, then
  cumulative-summing the tiny per-day firsts table.
- Inter-arrival latency is lag-diff + exact percentiles per event type —
  the tail-latency profile of any event pipeline.
- Winsorization joins rows against broadcast per-group p01/p99 bounds;
  Benford needs one digit-extraction groupBy. Rolling correlation runs
  corr over a bounded window of the pre-aggregated daily series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Gaps and islands: contiguous daily activity streaks per user
# ---------------------------------------------------------------------------
@register(
    "events_activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ), grp AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS island
      FROM days
    )
    SELECT user_id, min(d) AS streak_start, max(d) AS streak_end,
           count(*) AS streak_days
    FROM grp GROUP BY user_id, island
    """,
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous daily-activity streaks (gaps-and-islands): distinct
    (user, day), then `day − row_number` is constant within a run of
    consecutive days — grouping on it yields the islands. Two shuffles
    total (distinct, ranking+group share the user partitioning); the
    classic replacement for per-user driver loops or self-joins."""
    events = sf_table(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "island", F.date_sub("d", F.row_number().over(w))
    )
    return grp.groupBy("user_id", "island").agg(
        F.min("d").alias("streak_start"),
        F.max("d").alias("streak_end"),
        F.count(F.lit(1)).alias("streak_days"),
    ).drop("island")


# ---------------------------------------------------------------------------
# Cumulative distinct users per day (running reach)
# ---------------------------------------------------------------------------
@register(
    "events_cumulative_users",
    """
    WITH firsts AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS first_d
      FROM events GROUP BY user_id
    ), per_day AS (
      SELECT first_d AS d, count(*) AS new_users FROM firsts GROUP BY first_d
    )
    SELECT d, new_users,
           sum(new_users) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cumulative_users
    FROM per_day
    """,
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user reach per day WITHOUT windowed
    COUNT(DISTINCT): each user collapses to their first-seen day, and the
    cumulative sum runs over the tiny per-day new-user table. The
    windowed-distinct formulation holds O(users) state per frame; this
    one is two partial-aggregated shuffles + a |days|-row window."""
    events = sf_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.to_date(F.date_trunc("day", "ts"))).alias("first_d")
    )
    per_day = firsts.groupBy(F.col("first_d").alias("d")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "d", "new_users", F.sum("new_users").over(w).alias("cumulative_users")
    )


# ---------------------------------------------------------------------------
# Inter-arrival latency profile per event type
# ---------------------------------------------------------------------------
@register(
    "events_interarrival_stats",
    """
    WITH gaps AS (
      SELECT event_type,
             (epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id)) / 1e6 AS gap_s
      FROM events
    )
    SELECT event_type, count(*) AS n_gaps,
           round(avg(gap_s), 6) AS avg_s,
           round(quantile_cont(gap_s, 0.5), 6) AS p50_s,
           round(quantile_cont(gap_s, 0.95), 6) AS p95_s,
           round(max(gap_s), 6) AS max_s
    FROM gaps WHERE gap_s IS NOT NULL GROUP BY event_type
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival latency (gap between consecutive events of
    the same user+type): lag-diff in one (user,type) window, then exact
    percentile aggregates per type — the tail-latency / engagement-cadence
    profile. Gaps derive from exact integer microseconds (`unix_micros` /
    `epoch_us`) scaled to seconds — at second magnitude the engines'
    percentile-interpolation fp noise (~1e-16 relative) sits ten orders
    below the 1e-6 rounding grain, so results hash-match (at raw-micros
    magnitude the same noise lands on the rounding boundary)."""
    events = sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; unix_micros wants TIMESTAMP. The
    # cast interprets it in the session zone — a fixed offset that cancels
    # in the lag difference.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = events.select(
        "event_type", ((us - F.lag(us).over(w)) / F.lit(1e6)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap_s"), 6).alias("avg_s"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 6).alias("p50_s"),
        F.round(F.expr("percentile(gap_s, 0.95)"), 6).alias("p95_s"),
        F.round(F.max("gap_s"), 6).alias("max_s"),
    )


# ---------------------------------------------------------------------------
# Winsorization: clamp to per-group [p01, p99]
# ---------------------------------------------------------------------------
@register(
    "dq_winsorize",
    """
    WITH bounds AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_orderkey, l_linenumber, l.l_returnflag, l_extendedprice,
           round(greatest(lo, least(hi, l_extendedprice)), 6) AS winsorized,
           (l_extendedprice < lo OR l_extendedprice > hi) AS clamped
    FROM lineitem l JOIN bounds b USING (l_returnflag)
    WHERE l_orderkey < 1000
    """,
)
def dq_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clamp each value into its group's [p01, p99] —
    the outlier treatment that keeps rows (unlike dropping screens
    `dq_outlier_zscore`/`dq_outlier_mad`). Exact percentile bounds are a
    tiny per-group table broadcast into a map-side clamp."""
    li = sf_table(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("hi"),
    )
    j = li.filter(F.col("l_orderkey") < 1000).join(F.broadcast(bounds), "l_returnflag")
    p = F.col("l_extendedprice")
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        F.round(F.greatest(F.col("lo"), F.least(F.col("hi"), p)), 6).alias("winsorized"),
        ((p < F.col("lo")) | (p > F.col("hi"))).alias("clamped"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit screening
# ---------------------------------------------------------------------------
@register(
    "dq_benford_digits",
    """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1
    )
    SELECT digit, count(*) AS n,
           round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 6) AS observed_p,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_p
    FROM digits GROUP BY digit
    """,
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen: observed leading-digit shares vs
    the log10(1+1/d) expectation — the classic fabricated-data /
    unit-mixing detector for financial columns. One digit-extraction
    groupBy; the normalizing window runs over 9 rows."""
    orders = sf_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    d = orders.filter(F.col("o_totalprice") >= 1).select(digit.alias("digit"))
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    wall = Window.partitionBy()
    return c.select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wall), 6).alias(
            "observed_p"
        ),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_p"),
    )


# ---------------------------------------------------------------------------
# Rolling correlation between daily revenue and daily order count
# ---------------------------------------------------------------------------
@register(
    "window_rolling_corr",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             round(sum(o_totalprice), 6) AS revenue,
             CAST(count(*) AS DOUBLE) AS n_orders
      FROM orders GROUP BY 1
    ), win AS (
      SELECT d, revenue, n_orders,
             sum(revenue) OVER w AS sx, sum(n_orders) OVER w AS sy,
             sum(revenue * n_orders) OVER w AS sxy,
             sum(revenue * revenue) OVER w AS sxx,
             sum(n_orders * n_orders) OVER w AS syy,
             row_number() OVER (ORDER BY d) AS rn
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT d, revenue, n_orders,
           round((sxy - sx * sy / 14)
                 / nullif(sqrt((sxx - sx * sx / 14) * (syy - sy * sy / 14)), 0),
                 6) AS corr14
    FROM win WHERE rn >= 14
    """,
)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 14-day correlation between daily revenue and order count —
    the co-movement monitor behind metric-drift alerts. Pearson r is
    spelled out from windowed co-moment sums with a nullif-guarded
    denominator: a constant 14-day frame yields NULL instead of the
    divide-by-zero built-in `corr` raises under ANSI mode, and the
    identical formula text on both engines keeps results hash-equal.
    Full frames only, so both engines see the same 14-point samples."""
    orders = sf_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("d")
    ).agg(
        F.round(F.sum("o_totalprice"), 6).alias("revenue"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    wn = Window.orderBy("d")
    x, y = F.col("revenue"), F.col("n_orders")
    win = daily.select(
        "d",
        "revenue",
        "n_orders",
        F.sum(x).over(w).alias("sx"),
        F.sum(y).over(w).alias("sy"),
        F.sum(x * y).over(w).alias("sxy"),
        F.sum(x * x).over(w).alias("sxx"),
        F.sum(y * y).over(w).alias("syy"),
        F.row_number().over(wn).alias("rn"),
    ).filter(F.col("rn") >= 14)
    num = F.col("sxy") - F.col("sx") * F.col("sy") / 14
    den = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / 14)
        * (F.col("syy") - F.col("sy") * F.col("sy") / 14)
    )
    return win.select(
        "d",
        "revenue",
        "n_orders",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("corr14"),
    )
