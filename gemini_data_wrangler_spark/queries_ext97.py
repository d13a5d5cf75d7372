"""Round-2 extensions, batch 97: group fairness metrics and logistic
partial dependence.

Scale notes:
- FAIRNESS METRICS: demographic parity / TPR / FPR per protected group
  for a thresholded score classifier — the evaluation gate any scored
  pipeline should ship next to its AUC. One grouped pass to the
  (group x prediction x label) cell table, then integer-ratio
  arithmetic and max-gap columns on the bounded table.
- PARTIAL DEPENDENCE reuses batch 80's bit-exact IRLS fold: fit the
  2-feature logistic on the sufficient-statistic grid, then PD(v) =
  sum over the empirical x1-marginal of sigmoid(b0 + b1 x1 + b2 v) —
  the model-interpretation curve, computed as a second fold over the
  same sorted cells for each probe value. Zero extra data passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Group fairness metrics for a thresholded score
# ---------------------------------------------------------------------------
_FAIR_THRESHOLD = 150000.0


@register(
    "quality_fairness_metrics",
    f"""
    WITH unit AS MATERIALIZED (
      SELECT c.c_mktsegment AS grp,
             CASE WHEN o.o_totalprice >= {_FAIR_THRESHOLD} THEN 1 ELSE 0 END AS yhat,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), cells AS (
      SELECT grp,
             count(*) AS n,
             sum(yhat) AS n_pos_pred,
             sum(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS tp,
             sum(y) AS n_pos,
             sum(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS fp,
             sum(1 - y) AS n_neg
      FROM unit GROUP BY grp
    )
    SELECT grp, n,
           round(CAST(n_pos_pred AS DOUBLE) / n, 6) AS positive_rate,
           round(CAST(tp AS DOUBLE) / n_pos, 6) AS tpr,
           round(CAST(fp AS DOUBLE) / n_neg, 6) AS fpr,
           round(max(CAST(n_pos_pred AS DOUBLE) / n) OVER ()
                 - min(CAST(n_pos_pred AS DOUBLE) / n) OVER (), 6)
             AS parity_gap,
           round(max(CAST(tp AS DOUBLE) / n_pos) OVER ()
                 - min(CAST(tp AS DOUBLE) / n_pos) OVER (), 6) AS tpr_gap,
           round(max(CAST(fp AS DOUBLE) / n_neg) OVER ()
                 - min(CAST(fp AS DOUBLE) / n_neg) OVER (), 6) AS fpr_gap
    FROM cells
    """,
)
def quality_fairness_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group fairness audit of the thresholded price score predicting
    completion, with market segment as the protected attribute:
    per-group selection rate (demographic parity), TPR and FPR
    (equalized odds), and the corpus-wide max-min gap for each — one
    grouped pass, integer-exact ratios on the bounded group table."""
    orders = sf_table(spark, sf_dir, "orders")
    customer = sf_table(spark, sf_dir, "customer")
    unit = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("grp"),
        F.when(F.col("o_totalprice") >= _FAIR_THRESHOLD, 1).otherwise(0).alias("yhat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    cells = unit.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yhat").alias("n_pos_pred"),
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1).otherwise(0)).alias("tp"),
        F.sum("y").alias("n_pos"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1).otherwise(0)).alias("fp"),
        F.sum(1 - F.col("y")).alias("n_neg"),
    )
    w = Window.partitionBy()
    pr = F.col("n_pos_pred").cast("double") / F.col("n")
    tpr = F.col("tp").cast("double") / F.col("n_pos")
    fpr = F.col("fp").cast("double") / F.col("n_neg")
    return cells.select(
        "grp",
        "n",
        F.round(pr, 6).alias("positive_rate"),
        F.round(tpr, 6).alias("tpr"),
        F.round(fpr, 6).alias("fpr"),
        F.round(F.max(pr).over(w) - F.min(pr).over(w), 6).alias("parity_gap"),
        F.round(F.max(tpr).over(w) - F.min(tpr).over(w), 6).alias("tpr_gap"),
        F.round(F.max(fpr).over(w) - F.min(fpr).over(w), 6).alias("fpr_gap"),
    )


# ---------------------------------------------------------------------------
# Partial dependence of the fitted logistic on the price bucket
# ---------------------------------------------------------------------------
_PD_VALUES = [0, 2, 4, 6, 8]


def _pd_oracle() -> str:
    from gemini_data_wrangler_spark.queries_ext80 import _logit_oracle

    probes = " UNION ALL ".join(
        f"SELECT CAST({v} AS DOUBLE) AS v" for v in _PD_VALUES
    )
    final = f"""
    , probes AS ({probes}),
    marg AS (
      SELECT c.x1, sum(c.n) AS n FROM (SELECT unnest(cs) AS c FROM cells)
      GROUP BY c.x1
    ),
    pd AS (
      SELECT p.v,
             sum(m.n * (1.0/(1.0 + exp(-(it.b0 + it.b1*m.x1 + it.b2*p.v)))))
               / sum(m.n) AS pd
      FROM probes p CROSS JOIN it8 it CROSS JOIN marg m
      GROUP BY p.v
    )
    SELECT v AS price_bucket, round(pd, 6) AS partial_dependence FROM pd
    """
    # splice: the override continues the WITH list (leading comma) before
    # its own final SELECT
    return _logit_oracle(final_select=final.strip())


@register("stats_logistic_partial_dependence", _pd_oracle())
def stats_logistic_partial_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-dependence curve of the fitted 2-feature logistic on the
    price bucket: PD(v) = E_x1[sigmoid(b0 + b1 x1 + b2 v)] over the
    empirical x1 marginal, for v in {_PD_VALUES}. Reuses the bit-exact
    IRLS fold (batch 80) and computes each probe as a second fold over
    the same sorted cells — model interpretation with zero additional
    data passes."""
    from gemini_data_wrangler_spark.queries_ext80 import (
        _LOGIT_BUCKET,
        _logit_spark_fold,
    )

    orders = sf_table(spark, sf_dir, "orders")
    grid = orders.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("x1"),
        F.floor(F.col("o_totalprice") / _LOGIT_BUCKET).cast("int").alias("x2"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("k"),
    )
    packed = grid.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("x1").cast("double").alias("x1"),
                    F.col("x2").cast("double").alias("x2"),
                    F.col("n").cast("double").alias("n"),
                    F.col("k").cast("double").alias("k"),
                )
            )
        ).alias("cells")
    ).withColumn("beta", F.expr(_logit_spark_fold()))
    probes = packed.crossJoin(
        packed.sparkSession.createDataFrame(
            [(float(v),) for v in _PD_VALUES], "v double"
        )
    )
    num = (
        "aggregate(cells, 0.0D, (a, c) -> a + c.n *"
        " (1.0D/(1.0D + exp(-(beta.b0 + beta.b1*c.x1 + beta.b2*v)))))"
    )
    den = "aggregate(cells, 0.0D, (a, c) -> a + c.n)"
    return probes.select(
        F.col("v").alias("price_bucket"),
        F.round(F.expr(num) / F.expr(den), 6).alias("partial_dependence"),
    )
