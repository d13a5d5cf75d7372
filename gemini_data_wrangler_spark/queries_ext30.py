"""Round-2 extensions, batch 30: sweep-line interval analytics (backlog,
peak concurrency) and the nearest-event temporal join.

Scale notes:
- SWEEP-LINE: interval membership questions (how many open at time t)
  answered with ±1 boundary events and a prefix sum — O(n log n)総 work,
  versus the day×interval range join's O(n·days). The prefix sum runs
  over the PER-DAY delta table (metadata-sized) for the backlog, and as
  a two-level carry (partition-local running + tiny per-hour prefix) for
  concurrency — no global single-partition window touches raw rows.
- NEAREST EVENT generalizes the as-of join (backward-only) to
  either-direction nearest within a tolerance: one backward and one
  forward candidate per anchor (two ordered windows), then a row-local
  argmin. Cost = two sorts of the union table, same as as-of.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Order backlog over time (sweep-line over open intervals)
# ---------------------------------------------------------------------------
@register(
    "ops_backlog_sweepline",
    """
    WITH iv AS (
      SELECT CAST(o_orderdate AS DATE) AS open_d,
             CAST(o_orderdate AS DATE)
               + CAST(15 + o_orderkey % 60 AS INTEGER) AS close_d
      FROM orders
    ), deltas AS (
      SELECT open_d AS d, count(*) AS delta FROM iv GROUP BY open_d
      UNION ALL
      SELECT close_d AS d, -count(*) AS delta FROM iv GROUP BY close_d
    ), daily AS (
      SELECT d, sum(delta) AS delta FROM deltas GROUP BY d
    )
    SELECT d, sum(delta) OVER (ORDER BY d
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS backlog
    FROM daily
    """,
)
def ops_backlog_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog per day via the sweep-line trick: each order
    contributes +1 on its open day and −1 on its (derived) close day;
    the running sum of per-day deltas IS the count of concurrently open
    orders — O(n) versus the day×interval range join's O(n·days). The
    raw table collapses to per-day deltas FIRST (map-side combined), so
    the running-sum window scans only the tiny date spine."""
    orders = sf_table(spark, sf_dir, "orders")
    iv = orders.select(
        F.to_date("o_orderdate").alias("open_d"),
        F.date_add(
            F.to_date("o_orderdate"),
            (15 + F.col("o_orderkey") % 60).cast("int"),
        ).alias("close_d"),
    )
    opens = iv.groupBy(F.col("open_d").alias("d")).agg(
        F.count(F.lit(1)).alias("delta")
    )
    closes = iv.groupBy(F.col("close_d").alias("d")).agg(
        (-F.count(F.lit(1))).alias("delta")
    )
    daily = opens.unionAll(closes).groupBy("d").agg(F.sum("delta").alias("delta"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select("d", F.sum("delta").over(w).alias("backlog"))


# ---------------------------------------------------------------------------
# Peak concurrency per hour (two-level sweep: no global window on raw rows)
# ---------------------------------------------------------------------------
_CONC_HOLD_S = 300

@register(
    "events_peak_concurrency",
    f"""
    WITH pts AS (
      SELECT ts AS t, 1 AS delta FROM events
      UNION ALL
      SELECT ts + INTERVAL {_CONC_HOLD_S} SECOND AS t, -1 AS delta FROM events
    ), run AS (
      SELECT t, date_trunc('hour', t) AS h,
             sum(delta) OVER (ORDER BY t, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS active
      FROM pts
    )
    SELECT h AS hour, max(active) AS peak_concurrency
    FROM run GROUP BY h
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent activity per hour, where each event holds a slot
    for {_CONC_HOLD_S} s: ±1 boundary points, running count, max per
    hour. Half-open intervals — at equal timestamps the −1 sorts before
    the +1 (ORDER BY t, delta), so back-to-back holds don't double
    count. The running count is a TWO-LEVEL prefix sum (hour-local
    running via a partitioned window + carry-in from a per-hour prefix
    over the tiny hour table) — the global ORDER BY window the oracle
    states would drag every point through one partition at 100 TB;
    this shape never does."""
    events = sf_table(spark, sf_dir, "events")
    up = events.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
    down = events.select(
        F.expr(f"ts + INTERVAL {_CONC_HOLD_S} SECOND").alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = up.unionAll(down).withColumn("h", F.date_trunc("hour", "t"))
    w_in = (
        Window.partitionBy("h")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = pts.withColumn("_run", F.sum("delta").over(w_in))
    hour_sum = pts.groupBy("h").agg(F.sum("delta").alias("_hsum"))
    w_h = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, -1)
    carry = hour_sum.select(
        "h", F.coalesce(F.sum("_hsum").over(w_h), F.lit(0)).alias("_carry")
    )
    active = within.join(F.broadcast(carry), "h").withColumn(
        "active", F.col("_run") + F.col("_carry")
    )
    return active.groupBy(F.col("h").alias("hour")).agg(
        F.max("active").alias("peak_concurrency")
    )


# ---------------------------------------------------------------------------
# Nearest-event join (either direction, bounded tolerance)
# ---------------------------------------------------------------------------
_NEAREST_TOL_S = 3600

@register(
    "join_nearest_click",
    f"""
    WITH p AS (
      SELECT event_id, user_id, ts, epoch_us(ts) AS pus
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts AS c_ts, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'
    ), cand AS (
      SELECT p.event_id, p.user_id, p.ts,
             c.c_ts,
             abs(p.pus - c.cus) AS dist_us
      FROM p JOIN c ON p.user_id = c.user_id
       AND abs(p.pus - c.cus) <= CAST({_NEAREST_TOL_S} AS BIGINT) * 1000000
    ), ranked AS (
      SELECT event_id, user_id, ts, c_ts, dist_us,
             row_number() OVER (PARTITION BY event_id
                                ORDER BY dist_us, c_ts) AS rn
      FROM cand
    )
    SELECT event_id, user_id, ts, c_ts AS nearest_click_ts,
           dist_us // 1000000 AS dist_s
    FROM ranked WHERE rn = 1
    """,
)
def join_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-click join: for each purchase, the click closest in time
    in EITHER direction within ±{_NEAREST_TOL_S} s (ties → earlier
    click) — the bidirectional completion of `asof_purchase_last_click`
    (backward-only) and `asof_purchase_click_tolerance`. Candidates come
    from the per-user time-band join; the argmin is one window per
    anchor. At 100 TB band the join by coarse time bucket exactly like
    `join_band_acctbal` quantizes a scalar."""
    events = sf_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", us("ts").alias("pus")
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        us("ts").alias("cus"),
    )
    dist = F.abs(F.col("pus") - F.col("cus"))
    cand = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (dist <= _NEAREST_TOL_S * 1_000_000),
    ).withColumn("dist_us", dist)
    w = Window.partitionBy("event_id").orderBy("dist_us", "c_ts")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("c_ts").alias("nearest_click_ts"),
            F.expr("dist_us div 1000000").alias("dist_s"),
        )
    )
