"""Round-2 extensions, batch 60: seasonal-naive MASE backtest and
Holt–Winters additive seasonal smoothing.

Scale notes:
- MASE (Hyndman & Koehler 2006) is the scale-free forecast metric:
  MAE of the candidate model over the MAE of the one-step naive — a
  pair of lag windows over the bounded day axis, nothing else. Any
  model with MASE ≥ 1 is losing to "yesterday's number".
- HOLT–WINTERS extends the Holt fold with a 7-slot seasonal state:
  the accumulator is a 10-element array (level, trend, n, s₀..s₆)
  folded exactly in date order; both engines execute the identical
  floating-point sequence (the level update is inlined everywhere it
  appears — same exact-recursion contract as `forecast_holt_linear`).
  The fold is per-day over the bounded daily aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


_DAILY_EVENTS_SQL = """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             round(sum(value), 6) AS total
      FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Seasonal-naive backtest with MASE
# ---------------------------------------------------------------------------
_SN_PERIOD = 7


@register(
    "forecast_seasonal_naive_mase",
    f"""
    WITH daily AS ({_DAILY_EVENTS_SQL}),
    lagged AS (
      SELECT d, total,
             lag(total, {_SN_PERIOD}) OVER (ORDER BY d) AS season_pred,
             lag(total, 1) OVER (ORDER BY d) AS naive_pred
      FROM daily
    )
    SELECT count(*) AS n_scored,
           round(avg(abs(total - season_pred)), 6) AS mae_seasonal,
           round(avg(abs(total - naive_pred)), 6) AS mae_naive,
           round(avg(abs(total - season_pred)) / avg(abs(total - naive_pred)), 6)
             AS mase
    FROM lagged WHERE season_pred IS NOT NULL
    """,
)
def forecast_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest: predict each day with the value
    {_SN_PERIOD} days earlier, scored by MASE = MAE(seasonal) /
    MAE(one-step naive) — the scale-free benchmark every forecasting
    model must beat (MASE < 1 ⇒ the weekly pattern carries signal the
    naive lacks; the Holt/Holt-Winters rows compare against the same
    denominator). Two lag windows on the bounded day axis; rows where
    the seasonal lag is undefined are excluded from BOTH numerators so
    the ratio compares like for like."""
    events = sf_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.round(F.sum("value"), 6).alias("total"))
    w = Window.orderBy("d")
    lagged = daily.select(
        "total",
        F.lag("total", _SN_PERIOD).over(w).alias("season_pred"),
        F.lag("total", 1).over(w).alias("naive_pred"),
    ).filter(F.col("season_pred").isNotNull())
    return lagged.agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.round(F.avg(F.abs(F.col("total") - F.col("season_pred"))), 6).alias(
            "mae_seasonal"
        ),
        F.round(F.avg(F.abs(F.col("total") - F.col("naive_pred"))), 6).alias(
            "mae_naive"
        ),
        F.round(
            F.avg(F.abs(F.col("total") - F.col("season_pred")))
            / F.avg(F.abs(F.col("total") - F.col("naive_pred"))),
            6,
        ).alias("mase"),
    )


# ---------------------------------------------------------------------------
# Holt–Winters additive seasonal smoothing (period 7)
# ---------------------------------------------------------------------------
_HW_A, _HW_B, _HW_G = 0.3, 0.1, 0.2
_HW_M = 7

# Accumulator layout (1-based): [level, trend, n, s0..s6].
# Seed from the first observation: level = x1, trend = 0, n = 1, s = 0s.
# Update (inlined identically on both engines):
#   sidx  = (n mod 7) + 4           -- seasonal slot of the incoming day
#   sold  = acc[sidx]
#   lvl'  = a*(x - sold) + (1-a)*(acc[1] + acc[2])
#   trd'  = b*(lvl' - acc[1]) + (1-b)*acc[2]
#   s'    = g*(x - lvl') + (1-g)*sold
_HW_SEED_DUCK = "[x, CAST(0 AS DOUBLE), CAST(1 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]"


def _hw_update_duck(a: float, b: float, g: float) -> str:
    lvl = (
        f"({a} * (x[1] - acc[CAST(CAST(acc[3] AS BIGINT) % {_HW_M} AS INT) + 4])"
        f" + {1 - a} * (acc[1] + acc[2]))"
    )
    return f"""(acc, x) -> list_concat(
      [
        {lvl},
        {b} * ({lvl} - acc[1]) + {1 - b} * acc[2],
        acc[3] + 1
      ],
      list_transform(generate_series(1, {_HW_M}), i ->
        CASE WHEN i = CAST(CAST(acc[3] AS BIGINT) % {_HW_M} AS INT) + 1
             THEN {g} * (x[1] - {lvl})
                  + {1 - g} * acc[CAST(CAST(acc[3] AS BIGINT) % {_HW_M} AS INT) + 4]
             ELSE acc[i + 3] END)
    )"""


@register(
    "forecast_holt_winters",
    f"""
    WITH daily AS ({_DAILY_EVENTS_SQL}),
    folded AS (
      SELECT d, total,
             list_reduce(
               list_transform(
                 list(total) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW),
                 x -> {_HW_SEED_DUCK}),
               {_hw_update_duck(_HW_A, _HW_B, _HW_G)}
             ) AS s,
             row_number() OVER (ORDER BY d) AS rn
      FROM daily
    )
    SELECT d, total,
           round(s[1], 6) AS level,
           round(s[2], 6) AS trend,
           round(s[CAST(CAST(s[3] AS BIGINT) % {_HW_M} AS INT) + 4], 6)
             AS season_next,
           round(s[1] + s[2]
                 + s[CAST(CAST(s[3] AS BIGINT) % {_HW_M} AS INT) + 4], 6)
             AS forecast_next
    FROM folded WHERE rn >= {2 * _HW_M}
    """,
)
def forecast_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters additive seasonal smoothing (α={_HW_A}, β={_HW_B},
    γ={_HW_G}, period {_HW_M}) of daily event value: level, trend, and
    a 7-slot seasonal state folded exactly in date order; the one-step
    forecast adds the seasonal slot the NEXT day will occupy. The
    accumulator is a 10-element array rebuilt per step with the updated
    slot substituted via a bounded transform — identical fp sequence on
    both engines (level update inlined in the trend and seasonal
    updates). Rows before two full seasons are withheld (state still
    warming). Completes the forecasting ladder: EWMA → Holt →
    Holt-Winters, all exact distributed folds."""
    events = sf_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.round(F.sum("value"), 6).alias("total"))
    a, b, g, m = _HW_A, _HW_B, _HW_G, _HW_M
    lvl = (
        f"({a}D * (x - element_at(acc, CAST(CAST(element_at(acc, 3) AS BIGINT) % {m} AS INT) + 4))"
        f" + {1 - a}D * (element_at(acc, 1) + element_at(acc, 2)))"
    )
    fold = F.expr(
        "aggregate("
        " slice(_l, 2, greatest(size(_l) - 1, 0)),"
        " array(element_at(_l, 1), 0.0D, 1.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D),"
        f" (acc, x) -> concat("
        f"   array("
        f"     {lvl},"
        f"     {b}D * ({lvl} - element_at(acc, 1)) + {1 - b}D * element_at(acc, 2),"
        f"     element_at(acc, 3) + 1.0D),"
        f"   transform(sequence(1, {m}), i ->"
        f"     CASE WHEN i = CAST(CAST(element_at(acc, 3) AS BIGINT) % {m} AS INT) + 1"
        f"          THEN {g}D * (x - {lvl})"
        f"               + {1 - g}D * element_at(acc,"
        f"                   CAST(CAST(element_at(acc, 3) AS BIGINT) % {m} AS INT) + 4)"
        f"          ELSE element_at(acc, i + 3) END))"
        ")"
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wr = Window.orderBy("d")
    sidx = F.expr(
        f"CAST(CAST(element_at(_s, 3) AS BIGINT) % {m} AS INT) + 4"
    )
    return (
        daily.withColumn("_l", F.collect_list("total").over(w))
        .withColumn("_s", fold)
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") >= 2 * m)
        .select(
            "d",
            "total",
            F.round(F.element_at("_s", 1), 6).alias("level"),
            F.round(F.element_at("_s", 2), 6).alias("trend"),
            F.round(F.element_at(F.col("_s"), sidx), 6).alias("season_next"),
            F.round(
                F.element_at("_s", 1)
                + F.element_at("_s", 2)
                + F.element_at(F.col("_s"), sidx),
                6,
            ).alias("forecast_next"),
        )
    )
