"""Round-2 extensions, batch 38: remaining function-bank breadth —
distribution window functions, boolean aggregates, bitwise scalars.

Scale notes: all three are single-pass shapes (one window exchange or
one map-side-combined aggregate); they exist to pin engine-parity for
surface area a migrated workload may touch, completing the scalar/agg/
window banks (`scalar_*_functions`, `agg_*_functions`, `window_*`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


@register(
    "window_distribution_functions",
    """
    SELECT o_orderkey, o_orderstatus,
           round(cume_dist() OVER w, 6) AS cd,
           round(percent_rank() OVER w, 6) AS pr,
           nth_value(o_orderkey, 3) OVER (PARTITION BY o_orderstatus
                                          ORDER BY o_totalprice DESC, o_orderkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS third_key,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey) OVER (PARTITION BY o_orderstatus
                                        ORDER BY o_totalprice DESC, o_orderkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS last_key
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution/navigation window bank: cume_dist, percent_rank,
    nth_value (running frame), first/last_value (full frame) — the
    analytics-surface functions the core window bank doesn't already
    pin. Total ordering in the spec makes every value deterministic;
    one exchange per partition spec."""
    orders = sf_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.nth_value("o_orderkey", 3).over(w_run).alias("third_key"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w_full).alias("last_key"),
    )


@register(
    "agg_boolean_bank",
    """
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           bool_and(o_orderstatus IN ('F', 'O', 'P')) AS statuses_valid,
           count(*) FILTER (WHERE o_totalprice > 200000) AS n_big
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_boolean_bank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate bank: bool_and / bool_or (the every/any
    predicates data-quality rules compile to) plus a FILTER'd count —
    one map-side-combined pass."""
    orders = sf_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.bool_and(
            F.col("o_orderstatus").isin("F", "O", "P")
        ).alias("statuses_valid"),
        F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_big"),
    )


@register(
    "scalar_bitwise_functions",
    """
    SELECT o_orderkey,
           o_orderkey & 255 AS low_byte,
           o_orderkey | 4096 AS with_flag,
           xor(o_orderkey, 170) AS xored,
           o_orderkey << 2 AS shl2,
           o_orderkey >> 3 AS shr3,
           bit_count(o_orderkey) AS popcount
    FROM orders WHERE o_orderkey < 1000
    """,
)
def scalar_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar bank: and/or/xor/shifts/popcount — the partition-
    and flag-math workhorses (the Z-order interleave and CMS bucketing
    are built from exactly these). NOTE the dialect trap this bank
    pins: DuckDB spells bitwise xor as the ``xor()`` function (its ``^``
    is POWER), Spark spells it infix ``^`` — the CUSTOM shim refuses
    ``^`` for that reason (plans/dialect.py)."""
    orders = sf_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return orders.select(
        "o_orderkey",
        F.expr("o_orderkey & 255").alias("low_byte"),
        F.expr("o_orderkey | 4096").alias("with_flag"),
        F.expr("o_orderkey ^ 170").alias("xored"),
        F.expr("shiftleft(o_orderkey, 2)").alias("shl2"),
        F.expr("shiftright(o_orderkey, 3)").alias("shr3"),
        F.expr("bit_count(o_orderkey)").alias("popcount"),
    )
