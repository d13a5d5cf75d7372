"""Round-2 extensions, batch 95: Simpson's-paradox screen and log-log
price elasticity.

Scale notes:
- SIMPSON SCREEN: the aggregate association between high priority and
  completion, alongside every segment stratum's association — a sign
  flip between the pooled and all-strata views is the classic
  aggregation trap every metrics platform should alarm on. One grouped
  pass to the (segment x treatment) cell table; everything after is
  integer-ratio arithmetic on the bounded table.
- ELASTICITY: within-brand OLS slope of ln(quantity) on ln(unit price)
  — the demand-curve elasticity estimate. One grouped pass of OLS
  sufficient sums per brand (map-side partial aggregation); the only
  nonlinearity (ln) is applied row-locally before aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Simpson's paradox screen
# ---------------------------------------------------------------------------
@register(
    "dq_simpsons_paradox_screen",
    """
    WITH unit AS MATERIALIZED (
      SELECT c.c_mktsegment AS seg,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), cells AS MATERIALIZED (
      SELECT seg, tr, count(*) AS n, sum(y) AS k FROM unit GROUP BY seg, tr
    ), strata AS (
      SELECT a.seg,
             a.n AS n1, a.k AS k1, b.n AS n0, b.k AS k0,
             CAST(a.k AS DOUBLE)/a.n - CAST(b.k AS DOUBLE)/b.n AS diff
      FROM (SELECT * FROM cells WHERE tr = 1) a
      JOIN (SELECT * FROM cells WHERE tr = 0) b USING (seg)
    ), pooled AS (
      SELECT sum(k1) * 1.0 / sum(n1) - sum(k0) * 1.0 / sum(n0) AS diff
      FROM strata
    )
    SELECT s.seg, s.n1, s.k1, s.n0, s.k0,
           round(s.diff, 6) AS stratum_diff,
           round(p.diff, 6) AS pooled_diff,
           (sign(s.diff) <> sign(p.diff) AND s.diff <> 0 AND p.diff <> 0)
             AS sign_flipped
    FROM strata s CROSS JOIN pooled p
    """,
)
def dq_simpsons_paradox_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen for the high-priority -> completion
    association: the pooled rate difference next to every segment
    stratum's difference, flagging sign flips — the aggregation trap
    where a 'winning' treatment loses inside every subgroup. One grouped
    pass to the bounded (segment x arm) cell table; integer-exact
    ratios."""
    orders = sf_table(spark, sf_dir, "orders")
    customer = sf_table(spark, sf_dir, "customer")
    unit = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("tr"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    cells = unit.groupBy("seg", "tr").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("k")
    )
    a = cells.filter(F.col("tr") == 1).select(
        "seg", F.col("n").alias("n1"), F.col("k").alias("k1")
    )
    b = cells.filter(F.col("tr") == 0).select(
        "seg", F.col("n").alias("n0"), F.col("k").alias("k0")
    )
    strata = a.join(b, "seg").withColumn(
        "diff",
        F.col("k1").cast("double") / F.col("n1")
        - F.col("k0").cast("double") / F.col("n0"),
    )
    w = Window.partitionBy()
    pooled = (
        F.sum("k1").over(w) * 1.0 / F.sum("n1").over(w)
        - F.sum("k0").over(w) * 1.0 / F.sum("n0").over(w)
    )
    return strata.select(
        "seg",
        "n1",
        "k1",
        "n0",
        "k0",
        F.round("diff", 6).alias("stratum_diff"),
        F.round(pooled, 6).alias("pooled_diff"),
        (
            (F.signum("diff") != F.signum(pooled))
            & (F.col("diff") != 0)
            & (pooled != 0)
        ).alias("sign_flipped"),
    )


# ---------------------------------------------------------------------------
# Log-log price elasticity per brand
# ---------------------------------------------------------------------------
@register(
    "sales_price_elasticity",
    """
    WITH ln_rows AS MATERIALIZED (
      SELECT p.p_brand,
             ln(l.l_extendedprice / l.l_quantity) AS x,
             ln(l.l_quantity) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0
    ), s AS (
      SELECT p_brand, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM ln_rows GROUP BY p_brand
    )
    SELECT p_brand, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 5) AS elasticity,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 5)
             AS ln_q_at_unit_price
    FROM s WHERE n >= 30
    """,
)
def sales_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-brand demand elasticity: OLS slope of ln(quantity) on
    ln(unit price) — the percent quantity change per percent price
    change. Row-local logs, one grouped pass of OLS sufficient sums per
    brand, closed-form slope/intercept arithmetic on the bounded brand
    table."""
    li = sf_table(spark, sf_dir, "lineitem")
    part = sf_table(spark, sf_dir, "part")
    rows = (
        li.filter(F.col("l_quantity") > 0)
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              li["l_partkey"] == F.col("p_partkey"))
        .select(
            "p_brand",
            F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("x"),
            F.log("l_quantity").alias("y"),
        )
    )
    s = rows.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.filter(F.col("n") >= 30).select(
        "p_brand",
        "n",
        F.round(slope, 5).alias("elasticity"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 5).alias(
            "ln_q_at_unit_price"
        ),
    )
