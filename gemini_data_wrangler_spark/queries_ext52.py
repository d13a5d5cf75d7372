"""Round-2 extensions, batch 52: position-based attribution, burst
detection, Little's-law consistency.

Scale notes:
- POSITION-BASED (U-shaped) attribution reuses the bucketed
  user+time-range join of `attribution_time_decay`; the position
  weights are two ranking windows per purchase (ascending and
  descending), so per-purchase state is O(touches in window).
- BURST DETECTION runs over the bounded (type × hour) aggregate; the
  trailing median is a moving window on that small axis, never raw
  events.
- LITTLE'S LAW is a CROSS-METHOD consistency check: the time-average
  backlog from the sweepline integral must equal arrival-rate × mean
  latency computed directly — two independent computations over the
  same events whose exact integer-microsecond agreement (ratio = 1)
  certifies both the sweepline and the latency pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# U-shaped (position-based) multi-touch attribution
# ---------------------------------------------------------------------------
_PB_WINDOW_S = 1800  # attribution window before each purchase


@register(
    "attribution_position_based",
    f"""
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) AS pus
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'
    ), touches AS (
      SELECT p.event_id, c.click_id,
             row_number() OVER (PARTITION BY p.event_id ORDER BY c.cus, c.click_id) AS pos,
             count(*) OVER (PARTITION BY p.event_id) AS n
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.cus < p.pus AND c.cus >= p.pus - {_PB_WINDOW_S} * 1000000
    )
    SELECT event_id, click_id,
           n AS n_touches,
           round(CASE WHEN n = 1 THEN 1.0
                      WHEN n = 2 THEN 0.5
                      WHEN pos = 1 OR pos = n THEN 0.4
                      ELSE 0.2 / (n - 2) END, 6) AS credit
    FROM touches
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: first and
    last click before each purchase get 40% credit each, the middles
    share 20% (1 touch → 100%, 2 → 50/50) — the model marketing teams
    use when both discovery and closing matter; `attribution_time_decay`
    is the recency-weighted sibling and `asof_purchase_last_click` the
    last-touch degenerate case. Same bucketed user+time-range join; the
    position comes from one ranking window per purchase."""
    events = sf_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("pus")
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        us.alias("cus"),
    )
    touches = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("cus") < F.col("pus"))
        & (F.col("cus") >= F.col("pus") - _PB_WINDOW_S * 1_000_000),
    )
    wpos = Window.partitionBy("event_id").orderBy("cus", "click_id")
    wall = Window.partitionBy("event_id")
    t = touches.withColumn("pos", F.row_number().over(wpos)).withColumn(
        "n", F.count(F.lit(1)).over(wall)
    )
    credit = (
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), 0.4)
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return t.select(
        "event_id",
        "click_id",
        F.col("n").alias("n_touches"),
        F.round(credit, 6).alias("credit"),
    )


# ---------------------------------------------------------------------------
# Burst detection: hourly rate vs trailing 24-hour median
# ---------------------------------------------------------------------------
_BURST_FACTOR = 3.0
_BURST_MIN = 10


@register(
    "events_burst_detection",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1, 2
    ), w AS (
      SELECT event_type, h, n,
             median(n) OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS med24,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hourly
    )
    SELECT event_type, h AS hour, n AS n_events, round(med24, 6) AS trailing_median
    FROM w
    WHERE rn > 24 AND n >= {_BURST_MIN} AND n > {_BURST_FACTOR} * med24
    """,
)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: hours where an event type's rate exceeds
    {_BURST_FACTOR}× its own trailing 24-hour median (with an absolute
    floor of {_BURST_MIN} so quiet types don't alert on noise) — the
    median makes the baseline robust to previous bursts, which a
    trailing MEAN would absorb. Runs entirely over the bounded
    (type × hour) aggregate; full 24-row frames only, so both engines
    take the median of the same 24 values."""
    events = sf_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    wmed = (
        Window.partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
    )
    wrn = Window.partitionBy("event_type").orderBy("h")
    w = hourly.withColumn(
        "med24", F.expr("percentile(n, 0.5)").over(wmed)
    ).withColumn(
        "rn", F.row_number().over(wrn)
    )
    return (
        w.filter(
            (F.col("rn") > 24)
            & (F.col("n") >= _BURST_MIN)
            & (F.col("n") > _BURST_FACTOR * F.col("med24"))
        )
        .select(
            "event_type",
            F.col("h").alias("hour"),
            F.col("n").alias("n_events"),
            F.round("med24", 6).alias("trailing_median"),
        )
    )


# ---------------------------------------------------------------------------
# Little's law consistency: sweepline backlog integral vs λ·W
# ---------------------------------------------------------------------------
@register(
    "ops_little_law",
    """
    WITH d AS (
      SELECT epoch_us(o.o_orderdate) AS a, epoch_us(f.ship) AS b
      FROM orders o
      JOIN (SELECT l_orderkey, min(l_shipdate) AS ship FROM lineitem GROUP BY 1) f
        ON o.o_orderkey = f.l_orderkey
      WHERE f.ship >= o.o_orderdate
    ), pts AS (
      SELECT a AS t, 1 AS delta FROM d
      UNION ALL SELECT b, -1 FROM d
    ), sweep AS (
      SELECT t,
             sum(delta) OVER (ORDER BY t, delta
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS backlog,
             lead(t) OVER (ORDER BY t, delta) AS nxt
      FROM pts
    ), integral AS (
      SELECT sum(backlog * (nxt - t)) AS area_us FROM sweep WHERE nxt IS NOT NULL
    ), direct AS (
      SELECT count(*) AS n, sum(b - a) AS dur_us,
             max(b) - min(a) AS horizon_us
      FROM d
    )
    SELECT round(area_us / CAST(horizon_us AS DOUBLE), 6) AS avg_backlog_l,
           round(n / (horizon_us / 86400000000.0), 6) AS lambda_per_day,
           round(dur_us / CAST(n AS DOUBLE) / 86400000000.0, 6) AS w_days,
           round(area_us / CAST(dur_us AS DOUBLE), 6) AS littles_ratio
    FROM integral CROSS JOIN direct
    """,
)
def ops_little_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's-law consistency check, L = λ·W: the time-average order
    backlog measured INDEPENDENTLY by the sweepline integral (sum of
    backlog × interval over all order/ship boundary points) must equal
    arrival-rate × mean-latency computed directly — `littles_ratio` is
    the integral over Σdurations and equals exactly 1.0 in integer
    microsecond arithmetic, certifying both the sweepline and the
    latency pipelines against each other (ship-before-order rows are
    excluded; they belong to `ops_businessday_latency`'s DQ buckets).
    The step-function integral is evaluated by the exact telescoping
    identity Σᵢ backlogᵢ·(tᵢ₊₁−tᵢ) = Σⱼ δⱼ·(t_max−tⱼ) — each +1/-1
    boundary contributes its distance to the horizon end — so the
    sweepline needs NO ordered window at all: one broadcast max and one
    windowless integer sum over the boundary points, fully distributed
    at any scale."""
    li = sf_table(spark, sf_dir, "lineitem")
    orders = sf_table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship"))
    # Staged once (round 7): `d` feeds FOUR subtrees (both unionAll
    # branches of the boundary points, the direct latency rollup, and
    # through them the max/integral) — unpersisted, the orders⋈first_ship
    # join re-ran per consumer. Two narrow longs per order: tiny blocks.
    d = (
        orders.join(first_ship, orders["o_orderkey"] == first_ship["l_orderkey"])
        .filter(F.col("ship") >= F.col("o_orderdate"))
        .select(
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("a"),
            F.unix_micros(F.col("ship").cast("timestamp")).alias("b"),
        )
        .localCheckpoint()
    )
    pts = d.select(F.col("a").alias("t"), F.lit(1).alias("delta")).unionAll(
        d.select(F.col("b").alias("t"), F.lit(-1).alias("delta"))
    )
    mx = pts.agg(F.max("t").alias("t_max"))
    integral = pts.crossJoin(F.broadcast(mx)).agg(
        F.sum(F.col("delta") * (F.col("t_max") - F.col("t"))).alias("area_us")
    )
    direct = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("b") - F.col("a")).alias("dur_us"),
        (F.max("b") - F.min("a")).alias("horizon_us"),
    )
    day_us = 86400000000.0
    return integral.crossJoin(F.broadcast(direct)).select(
        F.round(F.col("area_us") / F.col("horizon_us").cast("double"), 6).alias(
            "avg_backlog_l"
        ),
        F.round(F.col("n") / (F.col("horizon_us") / day_us), 6).alias(
            "lambda_per_day"
        ),
        F.round(
            F.col("dur_us") / F.col("n").cast("double") / day_us, 6
        ).alias("w_days"),
        F.round(F.col("area_us") / F.col("dur_us").cast("double"), 6).alias(
            "littles_ratio"
        ),
    )
