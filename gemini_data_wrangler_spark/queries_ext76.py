"""Round-2 extensions, batch 76: Welch's t-test, Jarque-Bera normality
screen, weight-of-evidence / information value.

Scale notes:
- All three are single-pass hash aggregates (per-group moment sums)
  followed by scalar algebra on a handful of rows — the
  histogram-not-rows posture of the stats family. No windows over raw
  facts, no self-joins; the only shuffles carry partial-agg combines.
- WOE/IV bins by exact decile boundaries from the two-level global
  rank (ntile on the aggregated rank table), then one grouped
  good/bad count per bin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test: BUILDING vs MACHINERY account balances
# ---------------------------------------------------------------------------
@register(
    "stats_welch_ttest",
    """
    WITH g AS (
      SELECT c_mktsegment AS seg, count(*) AS n,
             avg(c_acctbal) AS m, var_samp(c_acctbal) AS v
      FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY c_mktsegment
    ),
    w AS (
      SELECT
        max(CASE WHEN seg = 'BUILDING' THEN n END) AS n1,
        max(CASE WHEN seg = 'BUILDING' THEN m END) AS m1,
        max(CASE WHEN seg = 'BUILDING' THEN v END) AS v1,
        max(CASE WHEN seg = 'MACHINERY' THEN n END) AS n2,
        max(CASE WHEN seg = 'MACHINERY' THEN m END) AS m2,
        max(CASE WHEN seg = 'MACHINERY' THEN v END) AS v2
      FROM g
    )
    SELECT n1, n2,
           round(m1 - m2, 6) AS mean_diff,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
           round(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
                 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                    + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4) AS df_welch
    FROM w
    """,
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two customer segments'
    balances: t = Δm/√(v₁/n₁ + v₂/n₂) with the Welch-Satterthwaite
    effective df — the default two-sample mean test when variances
    differ. One grouped moment aggregate, then scalar algebra on a
    2-row table pivoted to one row."""
    cust = sf_table(spark, sf_dir, "customer")
    g = (
        cust.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("c_acctbal").alias("m"),
            F.var_samp("c_acctbal").alias("v"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("seg") == "BUILDING", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("seg") == "BUILDING", F.col("m"))).alias("m1"),
        F.max(F.when(F.col("seg") == "BUILDING", F.col("v"))).alias("v1"),
        F.max(F.when(F.col("seg") == "MACHINERY", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("seg") == "MACHINERY", F.col("m"))).alias("m2"),
        F.max(F.when(F.col("seg") == "MACHINERY", F.col("v"))).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    df_w = (se2 * se2) / (
        (F.col("v1") / F.col("n1")) * (F.col("v1") / F.col("n1")) / (F.col("n1") - 1)
        + (F.col("v2") / F.col("n2")) * (F.col("v2") / F.col("n2")) / (F.col("n2") - 1)
    )
    return w.select(
        "n1",
        "n2",
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(df_w, 4).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality screen per order priority
# ---------------------------------------------------------------------------
@register(
    "stats_jarque_bera",
    """
    WITH m AS (
      SELECT o_orderpriority AS grp, count(*) AS n, avg(o_totalprice) AS mu,
             sum(o_totalprice) AS s1,
             sum(o_totalprice * o_totalprice) AS s2,
             sum(o_totalprice * o_totalprice * o_totalprice) AS s3,
             sum(o_totalprice * o_totalprice * o_totalprice * o_totalprice) AS s4
      FROM orders GROUP BY o_orderpriority
    ),
    c AS (
      SELECT grp, n,
             (s2 - s1 * s1 / n) / n AS m2,
             (s3 - 3 * mu * s2 + 3 * mu * mu * s1 - n * mu * mu * mu) / n AS m3,
             (s4 - 4 * mu * s3 + 6 * mu * mu * s2
                 - 4 * mu * mu * mu * s1 + n * mu * mu * mu * mu) / n AS m4
      FROM m
    )
    SELECT grp, n,
           round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
           round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis,
           round(n / 6.0 * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                 + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4), 4)
             AS jarque_bera
    FROM c
    """,
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic JB = n/6·(S² + K²/4) per order
    priority from raw power sums (central moments via the binomial
    expansion — one scan, no second pass). JB ≫ 5.99 rejects normality
    at 5%; the uniform-ish price distribution should reject in every
    group, and the VALUES are cross-checked against DuckDB running the
    identical algebra."""
    orders = sf_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    m = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(x).alias("mu"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    n, mu = F.col("n"), F.col("mu")
    c = m.select(
        "grp",
        "n",
        ((F.col("s2") - F.col("s1") * F.col("s1") / n) / n).alias("m2"),
        (
            (F.col("s3") - 3 * mu * F.col("s2") + 3 * mu * mu * F.col("s1") - n * mu * mu * mu)
            / n
        ).alias("m3"),
        (
            (
                F.col("s4")
                - 4 * mu * F.col("s3")
                + 6 * mu * mu * F.col("s2")
                - 4 * mu * mu * mu * F.col("s1")
                + n * mu * mu * mu * mu
            )
            / n
        ).alias("m4"),
    )
    skew = F.col("m3") / (F.col("m2") * F.sqrt("m2"))
    kurt = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    return c.select(
        "grp",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(F.col("n") / 6.0 * (skew * skew + kurt * kurt / 4), 4).alias(
            "jarque_bera"
        ),
    )


# ---------------------------------------------------------------------------
# Weight of evidence / information value of acctbal deciles vs BUILDING
# ---------------------------------------------------------------------------
@register(
    "feature_woe_iv",
    """
    WITH ranked AS (
      SELECT (c_mktsegment = 'BUILDING') AS is_good,
             ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS bin
      FROM customer
    ),
    bins AS (
      SELECT bin,
             count(*) FILTER (WHERE is_good) AS n_good,
             count(*) FILTER (WHERE NOT is_good) AS n_bad
      FROM ranked GROUP BY bin
    ),
    tot AS (SELECT sum(n_good) AS tg, sum(n_bad) AS tb FROM bins)
    SELECT bin, n_good, n_bad,
           round(ln((n_good * 1.0 / tg) / (n_bad * 1.0 / tb)), 6) AS woe,
           round((n_good * 1.0 / tg - n_bad * 1.0 / tb)
                 * ln((n_good * 1.0 / tg) / (n_bad * 1.0 / tb)), 6) AS iv_term
    FROM bins CROSS JOIN tot
    """,
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence per acctbal decile against the BUILDING label
    (WoE = ln(%good/%bad)) with the per-bin information-value term —
    the credit-scoring / feature-screening standard. Deciles come from
    ntile over a deterministic (value, key) order, computed as the
    distributed two-level rank + closed-form split (`distributed_ntile`,
    block = floor(acctbal) value buckets) — no customer-sized
    single-task window. One grouped count per bin + a broadcast totals
    row."""
    from gemini_data_wrangler_spark.operators.window import distributed_ntile

    cust = sf_table(spark, sf_dir, "customer")
    ranked = distributed_ntile(
        cust.select(
            (F.col("c_mktsegment") == "BUILDING").alias("is_good"),
            "c_acctbal",
            "c_custkey",
        ),
        10,
        F.col("c_acctbal"),
        [F.col("c_custkey")],
        F.floor("c_acctbal").cast("long"),
        "bin",
    ).select("is_good", "bin")
    bins = ranked.groupBy("bin").agg(
        F.count(F.when(F.col("is_good"), 1)).alias("n_good"),
        F.count(F.when(~F.col("is_good"), 1)).alias("n_bad"),
    )
    tot = bins.agg(F.sum("n_good").alias("tg"), F.sum("n_bad").alias("tb"))
    pg = F.col("n_good") * F.lit(1.0) / F.col("tg")
    pb = F.col("n_bad") * F.lit(1.0) / F.col("tb")
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_good",
            "n_bad",
            F.round(F.log(pg / pb), 6).alias("woe"),
            F.round((pg - pb) * F.log(pg / pb), 6).alias("iv_term"),
        )
    )
