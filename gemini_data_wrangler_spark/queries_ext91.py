"""Round-2 extensions, batch 91: off-policy replay evaluation and
grouped boxplot fences.

Scale notes:
- REPLAY EVALUATION (Li et al. 2011) is the standard unbiased offline
  evaluator for contextual policies under uniform logging: learn the
  target policy on the train split (argmax of empirical reward per
  context — one grouped count + a deterministic argmax), then on the
  eval split keep exactly the rows whose LOGGED arm equals the policy's
  arm and average their rewards. Everything is grouped integer counts
  and ratios — two passes, exact cross-engine parity, no simulation.
- BOXPLOT FENCES: per-group Tukey five-number summary with 1.5*IQR
  fences and outlier counts — the profiling primitive behind every data
  quality dashboard. Spark's percentile() and DuckDB's quantile_cont
  share the same linear-interpolation definition, so the summary is
  value-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Off-policy replay evaluation of a learned priority policy
# ---------------------------------------------------------------------------
_RP_BUCKET = 100000


@register(
    "rec_offpolicy_replay",
    f"""
    WITH logged AS MATERIALIZED (
      SELECT CAST(floor(o_totalprice / {_RP_BUCKET}) AS INT) AS ctx,
             o_orderpriority AS arm,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS r,
             CAST(list_sum(list_transform(range(1, 9), i ->
                  (strpos('0123456789abcdef',
                          substring(md5(CAST(o_orderkey AS VARCHAR)), i, 1)) - 1)
                  * power(16, 8 - i))) AS BIGINT) % 2 AS split
      FROM orders
    ), train AS (
      SELECT ctx, arm, count(*) AS n, sum(r) AS k
      FROM logged WHERE split = 0 GROUP BY ctx, arm
    ), policy AS MATERIALIZED (
      SELECT ctx, arm FROM (
        SELECT ctx, arm,
               row_number() OVER (PARTITION BY ctx
                                  ORDER BY CAST(k AS DOUBLE)/n DESC, arm ASC) AS rk
        FROM train
      ) WHERE rk = 1
    ), replay AS (
      SELECT l.ctx, count(*) AS n_matched, sum(l.r) AS reward
      FROM logged l JOIN policy p ON p.ctx = l.ctx AND p.arm = l.arm
      WHERE l.split = 1
      GROUP BY l.ctx
    )
    SELECT r.ctx, p.arm AS policy_arm, r.n_matched, r.reward,
           round(CAST(r.reward AS DOUBLE) / r.n_matched, 6) AS value_estimate,
           round(sum(r.reward) OVER () * 1.0 / sum(r.n_matched) OVER (), 6)
             AS overall_value
    FROM replay r JOIN policy p ON p.ctx = r.ctx
    """,
)
def rec_offpolicy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay (rejection-sampling) off-policy evaluation: learn the
    argmax-empirical-reward priority policy per price-bucket context on
    the md5-hash train split, then on the eval split keep the rows whose
    logged arm equals the policy arm and average their rewards — the
    unbiased offline estimate of the policy's online value under
    uniform-ish logging. Two grouped passes, integer counts, exact
    parity."""
    orders = sf_table(spark, sf_dir, "orders")
    split = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 2
    )
    logged = orders.select(
        F.floor(F.col("o_totalprice") / _RP_BUCKET).cast("int").alias("ctx"),
        F.col("o_orderpriority").alias("arm"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("r"),
        split.alias("split"),
    ).localCheckpoint()  # eager: train and the held-out eval branch both scan
    train = (
        logged.filter(F.col("split") == 0)
        .groupBy("ctx", "arm")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("r").alias("k"))
    )
    w = Window.partitionBy("ctx").orderBy(
        (F.col("k").cast("double") / F.col("n")).desc(), F.asc("arm")
    )
    policy = (
        train.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("ctx", F.col("arm").alias("policy_arm"))
    )
    replay = (
        logged.filter(F.col("split") == 1)
        .join(
            F.broadcast(policy),
            (logged["ctx"] == policy["ctx"]) & (logged["arm"] == policy["policy_arm"]),
        )
        .drop(policy["ctx"])
        .groupBy("ctx", "policy_arm")
        .agg(F.count(F.lit(1)).alias("n_matched"), F.sum("r").alias("reward"))
    )
    wall = Window.partitionBy()
    return replay.select(
        "ctx",
        "policy_arm",
        "n_matched",
        "reward",
        F.round(F.col("reward").cast("double") / F.col("n_matched"), 6).alias(
            "value_estimate"
        ),
        F.round(
            F.sum("reward").over(wall) * 1.0 / F.sum("n_matched").over(wall), 6
        ).alias("overall_value"),
    )


# ---------------------------------------------------------------------------
# Grouped boxplot fences
# ---------------------------------------------------------------------------
@register(
    "profile_boxplot_fences",
    """
    WITH q AS (
      SELECT c_mktsegment,
             count(*) AS n,
             quantile_cont(c_acctbal, 0.25) AS q1,
             quantile_cont(c_acctbal, 0.5) AS med,
             quantile_cont(c_acctbal, 0.75) AS q3
      FROM customer GROUP BY c_mktsegment
    )
    SELECT q.c_mktsegment, q.n,
           round(q.q1, 4) AS q1, round(q.med, 4) AS median,
           round(q.q3, 4) AS q3,
           round(q.q3 - q.q1, 4) AS iqr,
           round(q.q1 - 1.5 * (q.q3 - q.q1), 4) AS lo_fence,
           round(q.q3 + 1.5 * (q.q3 - q.q1), 4) AS hi_fence,
           sum(CASE WHEN c.c_acctbal < q.q1 - 1.5 * (q.q3 - q.q1)
                      OR c.c_acctbal > q.q3 + 1.5 * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END) AS n_outliers
    FROM q JOIN customer c ON c.c_mktsegment = q.c_mktsegment
    GROUP BY q.c_mktsegment, q.n, q.q1, q.med, q.q3
    """,
)
def profile_boxplot_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Tukey boxplot summary of account balances: exact
    interpolated quartiles (Spark percentile = DuckDB quantile_cont),
    1.5*IQR fences, and the outlier count from a second pass that joins
    the bounded quartile table back (broadcast) — the profiling shape
    every DQ dashboard runs."""
    cust = sf_table(spark, sf_dir, "customer")
    q = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(c_acctbal, 0.25)").alias("q1"),
        F.expr("percentile(c_acctbal, 0.5)").alias("med"),
        F.expr("percentile(c_acctbal, 0.75)").alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    joined = cust.join(F.broadcast(q), "c_mktsegment")
    return (
        joined.groupBy("c_mktsegment", "n", "q1", "med", "q3")
        .agg(
            F.sum(
                F.when((F.col("c_acctbal") < lo) | (F.col("c_acctbal") > hi), 1).otherwise(0)
            ).alias("n_outliers")
        )
        .select(
            "c_mktsegment",
            "n",
            F.round("q1", 4).alias("q1"),
            F.round("med", 4).alias("median"),
            F.round("q3", 4).alias("q3"),
            F.round(F.col("q3") - F.col("q1"), 4).alias("iqr"),
            F.round(F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")), 4).alias("lo_fence"),
            F.round(F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")), 4).alias("hi_fence"),
            "n_outliers",
        )
    )
