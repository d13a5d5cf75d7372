"""Round-2 extensions, batch 73: sequential-pattern support, running
max-drawdown, longest rising streak.

Scale notes:
- SEQUENTIAL PAIRS avoids the per-user quadratic self-join entirely:
  "some a-event precedes some b-event for this user" ⟺ min_ts(a) <
  max_ts(b), so support comes from one (user, type) min/max aggregate
  joined per-user — linear in events, one shuffle by user, and the
  pair expansion happens on the tiny per-user type list (≤ |event
  types|² per user).
- MAX DRAWDOWN is two ordered window passes per customer (running sum,
  then running max of it) — the partitioned-sort shape AQE handles at
  any key count; no self-joins.
- RISING STREAK is the gaps-and-islands row_number-difference trick on
  the daily axis: the grouping key (rn_all − rn_rising) is computed in
  one window pass over the ~|days| aggregate, so the heavy input scan
  reduces first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


_SEQ_MIN_USERS = 50


@register(
    "events_sequential_pairs",
    f"""
    WITH spans AS (
      SELECT user_id, event_type, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id, event_type
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_users
    FROM spans a JOIN spans b
      ON a.user_id = b.user_id AND a.event_type <> b.event_type
     AND a.first_ts < b.last_ts
    GROUP BY a.event_type, b.event_type
    HAVING count(*) >= {_SEQ_MIN_USERS}
    """,
)
def events_sequential_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support for ordered type pairs: the number of
    users with SOME a-event strictly before SOME b-event (the k=2
    sequence mine of PrefixSpan, not the adjacent-bigram Markov count).
    The precedence test collapses to min_ts(a) < max_ts(b), so the plan
    is one per-(user, type) min/max aggregate + a per-user join over
    the tiny type lists — linear in events where the naive event-level
    self-join is quadratic."""
    events = sf_table(spark, sf_dir, "events")
    spans = events.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    a = spans.select(
        "user_id", F.col("event_type").alias("type_a"), "first_ts"
    )
    b = spans.select(
        "user_id", F.col("event_type").alias("type_b"), "last_ts"
    )
    return (
        a.join(b, "user_id")
        .filter(
            (F.col("type_a") != F.col("type_b"))
            & (F.col("first_ts") < F.col("last_ts"))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") >= _SEQ_MIN_USERS)
    )


@register(
    "running_max_drawdown",
    """
    SELECT o_custkey,
           round(max(run_peak - bal), 6) AS max_drawdown
    FROM (
      SELECT o_custkey, bal,
             max(bal) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_peak
      FROM (
        SELECT o_custkey, o_orderdate, o_orderkey,
               sum(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
        FROM orders
      )
    )
    GROUP BY o_custkey
    """,
)
def running_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each customer's cumulative spend series:
    running peak minus current value, maximized — the canonical
    risk/regression-detection window composition. Two ordered window
    passes then one grouped max; everything stays in the per-customer
    sort, no self-joins."""
    orders = sf_table(spark, sf_dir, "orders")
    w_ord = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    bal = F.sum("o_totalprice").over(
        w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The running peak must follow the SERIES order (date, orderkey), not
    # bal — carry the ordering as a row_number computed in the same sort.
    w_ord2 = Window.partitionBy("o_custkey").orderBy("rn")
    series = orders.select(
        "o_custkey",
        F.row_number().over(w_ord).alias("rn"),
        bal.alias("bal"),
    )
    run_peak = F.max("bal").over(
        w_ord2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        series.select("o_custkey", "bal", run_peak.alias("run_peak"))
        .groupBy("o_custkey")
        .agg(F.round(F.max(F.col("run_peak") - F.col("bal")), 6).alias("max_drawdown"))
    )


@register(
    "timeseries_rising_streak",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             sum(o_totalprice) AS v
      FROM orders GROUP BY 1
    ),
    flagged AS (
      SELECT d, v,
             CASE WHEN v > lag(v) OVER (ORDER BY d) THEN 1 ELSE 0 END AS rising
      FROM daily
    ),
    islands AS (
      SELECT d, rising,
             row_number() OVER (ORDER BY d)
               - sum(rising) OVER (ORDER BY d) AS grp
      FROM flagged
    )
    SELECT max(len) AS longest_rising_streak, count(*) AS n_streaks
    FROM (
      SELECT grp, sum(rising) AS len
      FROM islands GROUP BY grp HAVING sum(rising) > 0
    )
    """,
)
def timeseries_rising_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest strictly-rising streak of daily revenue via the
    gaps-and-islands row_number-difference identity (rn − running
    rising-count is constant within a maximal run). The input reduces
    to the |days| daily aggregate BEFORE any window, so the single-
    partition ordered pass touches thousands of rows, not the fact
    table."""
    orders = sf_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.date_trunc("day", "o_orderdate").cast("date").alias("d")
        ).agg(F.sum("o_totalprice").alias("v"))
    )
    w = Window.orderBy("d")
    rising = F.when(F.col("v") > F.lag("v").over(w), 1).otherwise(0)
    flagged = daily.select("d", rising.alias("rising"))
    grp = F.row_number().over(w) - F.sum("rising").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    streaks = (
        flagged.select("rising", grp.alias("grp"))
        .groupBy("grp")
        .agg(F.sum("rising").alias("len"))
        .filter(F.col("len") > 0)
    )
    return streaks.agg(
        F.max("len").alias("longest_rising_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )
