"""Round-2 extensions, batch 28: Holt linear forecasting, a mergeable
histogram-quantile sketch, and sliding distinct reach from mergeable HLL
sketches.

Scale notes:
- HOLT: the coupled (level, trend) recursion runs as an exact ordered
  fold with a two-element-array accumulator — both engines execute the
  identical left-to-right fp sequence (the same contract as
  `ewma_daily_value`; prefix lists are O(n²) per series, fine to
  thousands of points, segmented folds beyond).
- QUANTILE SKETCH: per-source fixed-bin histograms are the mergeable
  state (bin counts sum across shards/days — the same algebra as the
  count-min counter table); a quantile estimate interpolates within the
  bin holding the target rank, so its error is bounded by one bin width.
  The bound is asserted against the exact quantile, same contract as the
  other *_bound_check rows.
- HLL SLIDING REACH: one Datasketches HLL per day (`hll_sketch_agg`),
  7-day windows assembled by a bounded range join over the tiny per-day
  sketch table, merged with `hll_union_agg` — the streaming-friendly
  answer to `window_sliding_distinct_users`' exact range join: state per
  day is KBs, windows never rescan events. Estimates are checked against
  the exact reach within 3σ of the sketch's configured precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Holt linear (double exponential) smoothing over daily event value
# ---------------------------------------------------------------------------
_HOLT_A, _HOLT_B = 0.3, 0.1

@register(
    "forecast_holt_linear",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             round(sum(value), 6) AS total
      FROM events GROUP BY 1
    ), folded AS (
      SELECT d, total,
             list_reduce(
               list_transform(
                 list(total) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW),
                 x -> [CAST(x AS DOUBLE), CAST(0 AS DOUBLE)]),
               (acc, x) -> [
                 CAST({_HOLT_A} AS DOUBLE) * x[1]
                   + CAST({1 - _HOLT_A} AS DOUBLE) * (acc[1] + acc[2]),
                 CAST({_HOLT_B} AS DOUBLE)
                   * ((CAST({_HOLT_A} AS DOUBLE) * x[1]
                       + CAST({1 - _HOLT_A} AS DOUBLE) * (acc[1] + acc[2]))
                      - acc[1])
                   + CAST({1 - _HOLT_B} AS DOUBLE) * acc[2]
               ]
             ) AS s
      FROM daily
    )
    SELECT d, total,
           round(s[1], 6) AS level,
           round(s[2], 6) AS trend,
           round(s[1] + s[2], 6) AS forecast_next
    FROM folded
    """,
)
def forecast_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear smoothing (α={_HOLT_A}, β={_HOLT_B}) of daily event
    value: level-and-trend state folded exactly in date order, one-step
    forecast = level + trend — the capacity-planning baseline one notch
    above EWMA (which trails any trending series). The fold carries a
    two-element array accumulator; the level-update is inlined twice in
    the trend-update so both engines execute the identical fp sequence
    (same exact-recursion contract as `ewma_daily_value`)."""
    events = sf_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.round(F.sum("value"), 6).alias("total"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    a, b = _HOLT_A, _HOLT_B
    fold = F.expr(
        "aggregate("
        " slice(_l, 2, greatest(size(_l) - 1, 0)),"
        " array(element_at(_l, 1), 0.0D),"
        f" (acc, x) -> array("
        f"   {a}D * x + {1 - a}D * (element_at(acc, 1) + element_at(acc, 2)),"
        f"   {b}D * (({a}D * x + {1 - a}D * (element_at(acc, 1) + element_at(acc, 2)))"
        f"           - element_at(acc, 1))"
        f"     + {1 - b}D * element_at(acc, 2)))"
    )
    return (
        daily.withColumn("_l", F.collect_list("total").over(w))
        .withColumn("_s", fold)
        .select(
            "d",
            "total",
            F.round(F.element_at("_s", 1), 6).alias("level"),
            F.round(F.element_at("_s", 2), 6).alias("trend"),
            F.round(
                F.element_at("_s", 1) + F.element_at("_s", 2), 6
            ).alias("forecast_next"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable histogram-quantile sketch with error bound
# ---------------------------------------------------------------------------
_QS_BINS = 200
_QS_LO, _QS_HI = 800.0, 600000.0  # o_totalprice domain (fixed, shard-agnostic)
_QS_QUANTILES = (0.25, 0.5, 0.9, 0.99)

@register(
    "sketch_quantile_histogram_check",
    "\nUNION ALL\n".join(
        f"""SELECT CAST({q} AS DOUBLE) AS q,
               round(quantile_cont(o_totalprice, {q}), 6) AS exact_q,
               TRUE AS bound_ok FROM orders"""
        for q in _QS_QUANTILES
    ),
)
def sketch_quantile_histogram_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch: per-source fixed-bin histograms of
    o_totalprice ({_QS_BINS} bins over a fixed domain) merged by summing
    bin counts — the same shard-then-sum algebra as the count-min
    counter table, KBs of state per shard — then quantile estimates by
    locating the target rank's bin and interpolating inside it. The
    estimate's error is bounded by one bin width; ``bound_ok`` asserts
    |est − exact| ≤ bin_width against the exact quantile. The oracle
    recomputes the exact side and pins TRUE."""
    orders = sf_table(spark, sf_dir, "orders")
    width = (_QS_HI - _QS_LO) / _QS_BINS
    binned = orders.select(
        F.least(
            F.lit(_QS_BINS - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col("o_totalprice") - _QS_LO) / width).cast("int"),
            ),
        ).alias("bin")
    )
    # Per-source sketches then merge: the "source" here is the Spark input
    # partition — the merge algebra is what matters (sum per bin).
    # Staged once (round 7): the ≤64-row histogram feeds the cumulative
    # window, the row count, and (via cum) both the rank locate and the
    # interpolation join — unpersisted, the orders scan+bin re-ran per
    # consumer. Eager checkpoint: bounded sketch-sized state.
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint()
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum))
    n_row = hist.agg(F.sum("cnt").alias("n"))
    qs = orders.sparkSession.createDataFrame(
        [(q,) for q in _QS_QUANTILES], "q double"
    )
    # Target rank per quantile; first bin whose cumulative count reaches it.
    ranked = (
        qs.crossJoin(F.broadcast(n_row))
        .crossJoin(cum)
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q", "n")
        .agg(F.min("bin").alias("hit_bin"))
    )
    hit = ranked.join(cum, ranked["hit_bin"] == cum["bin"]).select(
        "q",
        "n",
        "hit_bin",
        "cnt",
        "cum",
    )
    # Interpolate within the bin: lo + (rank - cum_before)/cnt * width.
    est = hit.select(
        "q",
        (
            F.lit(_QS_LO)
            + F.col("hit_bin") * width
            + (
                (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt")))
                / F.col("cnt")
            ).cast("double")
            * width
        ).alias("est_q"),
    )
    exact = orders.agg(
        *[
            F.expr(f"percentile(o_totalprice, {q})").alias(f"_e{i}")
            for i, q in enumerate(_QS_QUANTILES)
        ]
    )
    exact_long = exact.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"), F.col(f"_e{i}").alias("exact_q")
                    )
                    for i, q in enumerate(_QS_QUANTILES)
                ]
            )
        ).alias("s")
    ).select("s.q", "s.exact_q")
    return (
        est.join(exact_long, "q")
        .select(
            "q",
            F.round("exact_q", 6).alias("exact_q"),
            (F.abs(F.col("est_q") - F.col("exact_q")) <= width + 1e-9).alias(
                "bound_ok"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Sliding 7-day reach from mergeable per-day HLL sketches
# ---------------------------------------------------------------------------
_HLL_LGK = 14  # Datasketches lgConfigK: rse ≈ 1.04 / sqrt(2^14) ≈ 0.8%

@register(
    "events_reach_hll_sliding_check",
    f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), days AS (SELECT DISTINCT d FROM ud)
    SELECT w.d AS window_end,
           count(DISTINCT u.user_id) AS exact_reach,
           TRUE AS bound_ok
    FROM days w JOIN ud u ON u.d <= w.d AND u.d > w.d - 7
    GROUP BY w.d
    """,
)
def events_reach_hll_sliding_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 7-day reach from MERGEABLE per-day HLL sketches
    (Datasketches, lgK={_HLL_LGK}): one sketch per day — KBs of state,
    built in one pass — then each window unions its ≤7 daily sketches
    (bounded range join over the tiny sketch table + `hll_union_agg`).
    This is the streaming/incremental answer to
    `window_sliding_distinct_users`: yesterday's sketches are never
    rebuilt, a new day only adds one. ``bound_ok`` asserts the estimate
    within 3 standard errors (rse ≈ 1.04/√2^lgK) of the exact reach,
    which the oracle recomputes exactly and pins TRUE."""
    events = sf_table(spark, sf_dir, "events")
    daily = events.select("user_id", F.to_date("ts").alias("d")).groupBy(
        "d"
    ).agg(F.hll_sketch_agg("user_id", F.lit(_HLL_LGK)).alias("sk"))
    days = daily.select(F.col("d").alias("window_end"))
    merged = (
        days.join(
            F.broadcast(daily),
            (F.col("d") <= F.col("window_end"))
            & (F.col("d") > F.date_sub(F.col("window_end"), 7)),
        )
        .groupBy("window_end")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("sk", F.lit(True))
            ).alias("est_reach")
        )
    )
    ud = events.select("user_id", F.to_date("ts").alias("d")).distinct()
    exact = (
        days.withColumnRenamed("window_end", "we")
        .join(
            ud,
            (F.col("d") <= F.col("we"))
            & (F.col("d") > F.date_sub(F.col("we"), 7)),
        )
        .groupBy(F.col("we").alias("window_end"))
        .agg(F.count_distinct("user_id").alias("exact_reach"))
    )
    rse = 1.04 / (2 ** (_HLL_LGK / 2))
    return merged.join(exact, "window_end").select(
        "window_end",
        "exact_reach",
        (
            F.abs(F.col("est_reach") - F.col("exact_reach"))
            <= 3 * rse * F.col("exact_reach") + 1
        ).alias("bound_ok"),
    )
