"""Round-2 extensions, batch 26: pipeline-operations analytics — backfill
planning, sliding-window distinct reach, conversion latency percentiles,
and watermark late-data accounting.

Scale notes:
- BACKFILL PLAN: gaps-and-islands over the DISTINCT processed days —
  the metadata table (one row per partition-day) is tiny regardless of
  data volume; the plan is two windows over it. This is the decision
  layer of an orchestrator's catch-up run.
- SLIDING DISTINCT REACH: count(DISTINCT user) per 7-day window cannot
  ride a window-frame aggregate (no DISTINCT in frames). The distributed
  shape: dedup to (user, day) once — tiny vs the raw events — then a
  bounded range self-join of days-to-windows and a count-distinct per
  window. Work is |user-days| × 7, never |events| × 7.
- CONVERSION LATENCY: per-user as-of pairing (purchase → latest earlier
  click) then global percentile_cont over the delays. One window per
  side, one small aggregate.
- LATE-DATA ACCOUNTING: for each event, lateness = max event time seen
  so far (a running max in arrival order) minus its own event time; the
  fraction beyond a candidate watermark is exactly the data a streaming
  job with that watermark would drop — measured here in batch over the
  same table, which is how you SIZE a watermark before deploying it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Backfill plan: contiguous missing-day ranges per event type
# ---------------------------------------------------------------------------
@register(
    "ops_backfill_plan",
    """
    WITH present AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS d
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), bounds AS (
      SELECT min(CAST(ts AS DATE)) AS d_min, max(CAST(ts AS DATE)) AS d_max
      FROM events
    ), expected AS (
      SELECT p.event_type, e.d
      FROM (SELECT DISTINCT event_type FROM present) p
      CROSS JOIN (
        SELECT unnest(generate_series(d_min, d_max, INTERVAL 1 DAY))::DATE AS d
        FROM bounds
      ) e
    ), missing AS (
      SELECT ex.event_type, ex.d
      FROM expected ex LEFT JOIN present pr
        ON pr.event_type = ex.event_type AND pr.d = ex.d
      WHERE pr.d IS NULL
    ), grouped AS (
      SELECT event_type, d,
             CAST(d - CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                           AS INTEGER) AS DATE) AS grp
      FROM missing
    )
    SELECT event_type, min(d) AS gap_start, max(d) AS gap_end,
           count(*) AS n_days
    FROM grouped GROUP BY event_type, grp
    """,
)
def ops_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill plan: which contiguous day ranges are MISSING per event
    type across the table's date span — the ranges an orchestrator's
    catch-up run would submit. Present days collapse to a tiny distinct
    (type, day) table first (metadata-sized, whatever the event volume);
    the calendar spine is a sequence-explode; missing days group into
    islands with the date-minus-row_number trick. The synthetic corpus
    has no true gaps, so the plan is usually empty — row-count zero IS
    the assertion that ingestion is complete (the test fabricates gaps to
    prove the island logic)."""
    events = sf_table(spark, sf_dir, "events")
    present = (
        events.filter(F.col("event_type").isin("signup", "purchase"))
        .select("event_type", F.to_date("ts").alias("d"))
        .distinct()
    )
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d_min"), F.max(F.to_date("ts")).alias("d_max")
    )
    spine = bounds.select(
        F.explode(F.sequence("d_min", "d_max")).alias("d")
    )
    expected = present.select("event_type").distinct().crossJoin(spine)
    missing = expected.join(present, ["event_type", "d"], "left_anti")
    w = Window.partitionBy("event_type").orderBy("d")
    grouped = missing.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    return grouped.groupBy("event_type", "grp").agg(
        F.min("d").alias("gap_start"),
        F.max("d").alias("gap_end"),
        F.count(F.lit(1)).alias("n_days"),
    ).drop("grp")


# ---------------------------------------------------------------------------
# Sliding 7-day distinct users (rolling reach)
# ---------------------------------------------------------------------------
_REACH_DAYS = 7

@register(
    "window_sliding_distinct_users",
    f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), days AS (
      SELECT DISTINCT d FROM ud
    )
    SELECT w.d AS window_end,
           count(DISTINCT u.user_id) AS reach_7d
    FROM days w JOIN ud u
      ON u.d <= w.d AND u.d > w.d - {_REACH_DAYS}
    GROUP BY w.d
    """,
)
def window_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct-user reach per day. DISTINCT cannot ride a
    window frame, and re-scanning raw events per window multiplies the
    heaviest table by the window width — so dedup to (user, day) ONCE
    (orders of magnitude smaller), then a bounded range join of windows
    to their ≤{_REACH_DAYS} contributing days and a count-distinct per
    window. Work scales with |user-days| × width; the raw event table is
    read exactly once. (The streaming mirror of this shape is an HLL
    sketch per day merged across the window — `sketch_hll_mergeable`.)"""
    events = sf_table(spark, sf_dir, "events")
    ud = events.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select("d").distinct().select(F.col("d").alias("window_end"))
    return (
        days.join(
            ud,
            (F.col("d") <= F.col("window_end"))
            & (F.col("d") > F.date_sub(F.col("window_end"), _REACH_DAYS)),
        )
        .groupBy("window_end")
        .agg(F.count_distinct("user_id").alias("reach_7d"))
    )


# ---------------------------------------------------------------------------
# Click→purchase conversion latency percentiles
# ---------------------------------------------------------------------------
@register(
    "events_conversion_latency",
    """
    WITH purch AS (
      SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
    ), paired AS (
      SELECT p.user_id, p.p_ts, max(c.c_ts) AS last_click
      FROM purch p JOIN clicks c
        ON c.user_id = p.user_id AND c.c_ts <= p.p_ts
      GROUP BY p.user_id, p.p_ts
    )
    SELECT count(*) AS n_conversions,
           round(quantile_cont((epoch_us(p_ts) - epoch_us(last_click)) // 1000000, 0.5), 6)
             AS latency_p50_s,
           round(quantile_cont((epoch_us(p_ts) - epoch_us(last_click)) // 1000000, 0.9), 6)
             AS latency_p90_s,
           round(quantile_cont((epoch_us(p_ts) - epoch_us(last_click)) // 1000000, 0.99), 6)
             AS latency_p99_s
    FROM paired
    """,
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for every purchase, the delay
    since that user's latest earlier click (the as-of pairing
    `asof_purchase_last_click` returns row-wise), summarized to p50/p90/
    p99 — the funnel-health numbers an experimentation dashboard plots.
    The pairing is a range join grouped per purchase; percentiles are one
    global aggregate. Delays are integer seconds, so percentile
    interpolation is exact in double math on both engines."""
    events = sf_table(spark, sf_dir, "events")
    purch = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    paired = (
        purch.join(
            clicks,
            (purch["user_id"] == clicks["user_id"]) & (F.col("c_ts") <= F.col("p_ts")),
        )
        .groupBy(purch["user_id"], "p_ts")
        .agg(F.max("c_ts").alias("last_click"))
    )
    delay = F.expr(
        "(unix_micros(cast(p_ts as timestamp))"
        " - unix_micros(cast(last_click as timestamp))) div 1000000"
    )
    return paired.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.percentile(delay, 0.5), 6).alias("latency_p50_s"),
        F.round(F.percentile(delay, 0.9), 6).alias("latency_p90_s"),
        F.round(F.percentile(delay, 0.99), 6).alias("latency_p99_s"),
    )


# ---------------------------------------------------------------------------
# Watermark sizing: how much data would each candidate watermark drop?
# ---------------------------------------------------------------------------
@register(
    "ops_watermark_sizing",
    """
    WITH arr AS (
      SELECT ts,
             max(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS high_water
      FROM events
    ), lat AS (
      SELECT (epoch_us(high_water) - epoch_us(ts)) // 1000000 AS late_s FROM arr
    )
    SELECT wm_minutes,
           count(*) FILTER (WHERE late_s > wm_minutes * 60) AS dropped,
           round(count(*) FILTER (WHERE late_s > wm_minutes * 60)
                 / CAST(count(*) AS DOUBLE), 6) AS dropped_frac
    FROM lat CROSS JOIN (
      SELECT unnest([5, 15, 30, 60, 120]) AS wm_minutes
    )
    GROUP BY wm_minutes
    """,
)
def ops_watermark_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing from historical data: replay events in ARRIVAL
    order (event_id), track the running max event time (the stream's
    high-watermark), and compute each event's lateness against it; then,
    for candidate watermarks {{5,15,30,60,120}} minutes, the exact count
    and fraction of events a streaming job would have dropped. This is
    the batch measurement that turns "pick a watermark" from a guess into
    a percentile read-off.

    The running max is computed as a distributed two-level prefix max
    (the same shape as `pack_sequences`' prefix sum): within-block
    running max over arrival blocks of 4096 events (partition-local
    window), block maxima prefix-maxed over the tiny block table, then
    combined — a global ORDER BY window would drag every event through
    one partition; this never does."""
    events = sf_table(spark, sf_dir, "events")
    # Staged once (round 7): `blk` feeds BOTH the within-block window and
    # the block-maxima aggregate — unpersisted, the events scan +
    # timestamp decode ran twice. Narrow 4-column frame, eager blocks.
    blk = events.select(
        "ts",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_t"),
        (F.col("event_id") / 4096).cast("long").alias("_b"),
        "event_id",
    ).localCheckpoint()
    w_in = (
        Window.partitionBy("_b")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = blk.withColumn("_run", F.max("_t").over(w_in))
    block_max = blk.groupBy("_b").agg(F.max("_t").alias("_bmax"))
    w_blocks = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    prev = block_max.select(
        "_b", F.max("_bmax").over(w_blocks).alias("_prev_max")
    )
    arr = within.join(F.broadcast(prev), "_b").select(
        "_t",
        F.greatest(F.col("_run"), F.coalesce("_prev_max", F.col("_run"))).alias(
            "_hw"
        ),
    )
    lat = arr.select(
        F.expr("(_hw - _t) div 1000000").alias("late_s")
    )
    cands = lat.sparkSession.createDataFrame(
        [(m,) for m in (5, 15, 30, 60, 120)], "wm_minutes int"
    )
    joined = lat.crossJoin(F.broadcast(cands))
    dropped = F.sum(
        F.when(F.col("late_s") > F.col("wm_minutes") * 60, 1).otherwise(0)
    )
    return joined.groupBy("wm_minutes").agg(
        dropped.alias("dropped"),
        F.round(dropped / F.count(F.lit(1)).cast("double"), 6).alias("dropped_frac"),
    )
