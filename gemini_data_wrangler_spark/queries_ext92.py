"""Round-2 extensions, batch 92: sharp regression-discontinuity
estimate at a price threshold.

Scale notes: RDD's entire data touch is two windowed OLS fits — one
grouped aggregate producing (n, Sx, Sy, Sxx, Sxy) per side of the
cutoff within the bandwidth (map-side partial sums), then closed-form
slope/intercept arithmetic on the 2-row table. The local-linear
boundary estimate tau = a_right - a_left is the standard sharp-design
effect; at any corpus size the only pass is the filtered scan with the
bandwidth predicate pushed down.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


_RDD_CUT = 200000.0
_RDD_BW = 100000.0


@register(
    "ab_regression_discontinuity",
    f"""
    WITH w AS MATERIALIZED (
      SELECT CASE WHEN o_totalprice >= {_RDD_CUT} THEN 1 ELSE 0 END AS side,
             o_totalprice - {_RDD_CUT} AS x,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
      WHERE o_totalprice >= {_RDD_CUT - _RDD_BW}
        AND o_totalprice < {_RDD_CUT + _RDD_BW}
    ), s AS (
      SELECT side, count(*) AS n, sum(x) AS sx, sum(CAST(y AS DOUBLE)) AS sy,
             sum(x * x) AS sxx, sum(x * CAST(y AS DOUBLE)) AS sxy
      FROM w GROUP BY side
    ), fit AS (
      SELECT side, n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS icept
      FROM s
    )
    SELECT l.n AS n_left, r.n AS n_right,
           round(l.icept, 5) AS intercept_left,
           round(r.icept, 5) AS intercept_right,
           round(l.slope * {_RDD_BW}, 5) AS slope_left_scaled,
           round(r.slope * {_RDD_BW}, 5) AS slope_right_scaled,
           round(r.icept - l.icept, 5) AS rd_effect
    FROM (SELECT * FROM fit WHERE side = 0) l
    CROSS JOIN (SELECT * FROM fit WHERE side = 1) r
    """,
)
def ab_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression discontinuity of the completion rate at the
    {_RDD_CUT:.0f} price threshold: local linear fits on each side
    within the {_RDD_BW:.0f} bandwidth (one grouped pass of OLS
    sufficient sums with the bandwidth filter pushed to the scan),
    boundary effect = intercept_right - intercept_left. Slopes are
    reported scaled by the bandwidth so the rounded values carry
    signal."""
    orders = sf_table(spark, sf_dir, "orders")
    w = orders.filter(
        (F.col("o_totalprice") >= _RDD_CUT - _RDD_BW)
        & (F.col("o_totalprice") < _RDD_CUT + _RDD_BW)
    ).select(
        F.when(F.col("o_totalprice") >= _RDD_CUT, 1).otherwise(0).alias("side"),
        (F.col("o_totalprice") - _RDD_CUT).alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    s = w.groupBy("side").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("y").cast("double")).alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y").cast("double")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = s.select(
        "side",
        "n",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("icept"),
    )
    l = fit.filter(F.col("side") == 0).select(
        F.col("n").alias("n_left"),
        F.col("icept").alias("il"),
        F.col("slope").alias("sl"),
    )
    r = fit.filter(F.col("side") == 1).select(
        F.col("n").alias("n_right"),
        F.col("icept").alias("ir"),
        F.col("slope").alias("sr"),
    )
    return l.crossJoin(r).select(
        "n_left",
        "n_right",
        F.round("il", 5).alias("intercept_left"),
        F.round("ir", 5).alias("intercept_right"),
        F.round(F.col("sl") * _RDD_BW, 5).alias("slope_left_scaled"),
        F.round(F.col("sr") * _RDD_BW, 5).alias("slope_right_scaled"),
        F.round(F.col("ir") - F.col("il"), 5).alias("rd_effect"),
    )
