"""Round-2 extensions, batch 55: split-conformal coverage, difference-
in-differences, popularity-recommender hit rate.

Scale notes:
- SPLIT CONFORMAL needs one exact order statistic on the CALIBRATION
  set only (deterministic hash split — a small fraction of rows) and a
  coverage aggregate on the test set: the quantile's ordered window
  runs over the calibration slice, never the full table.
- DIFF-IN-DIFFS is four (group × period) moment aggregates and
  constant-size arithmetic — the standard quasi-experimental readout
  when a holdout couldn't be randomized.
- HIT RATE trains a popularity top-k (one TakeOrderedAndProject over
  the train period) and scores the test period with a broadcast
  semi-join membership aggregate — the mandatory baseline any
  recommender must beat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import load_sf_tables, sf_table


# ---------------------------------------------------------------------------
# Split-conformal prediction-interval coverage
# ---------------------------------------------------------------------------
_CF_ALPHA = 0.1  # target 90% coverage


@register(
    "forecast_conformal_coverage",
    f"""
    WITH s AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             CASE WHEN md5(CAST(o_orderkey AS VARCHAR)) < '8' THEN 'train'
                  WHEN md5(CAST(o_orderkey AS VARCHAR)) < 'c' THEN 'cal'
                  ELSE 'test' END AS part
      FROM orders
    ), model AS (
      SELECT o_orderpriority, avg(o_totalprice) AS pred
      FROM s WHERE part = 'train' GROUP BY 1
    ), cal AS (
      SELECT abs(s.o_totalprice - m.pred) AS r, s.o_orderkey
      FROM s JOIN model m USING (o_orderpriority) WHERE part = 'cal'
    ), ncal AS (SELECT count(*) AS n FROM cal),
    qhat AS (
      SELECT r AS q FROM (
        SELECT r, row_number() OVER (ORDER BY r, o_orderkey) AS rn FROM cal
      ) CROSS JOIN ncal
      WHERE rn = least(CAST(ceil((n + 1) * {1 - _CF_ALPHA}) AS BIGINT), n)
    )
    SELECT (SELECT n FROM ncal) AS n_cal,
           count(*) AS n_test,
           round((SELECT q FROM qhat), 6) AS q_hat,
           round(avg(CASE WHEN abs(s.o_totalprice - m.pred) <= (SELECT q FROM qhat)
                          THEN 1.0 ELSE 0.0 END), 6) AS coverage,
           (avg(CASE WHEN abs(s.o_totalprice - m.pred) <= (SELECT q FROM qhat)
                     THEN 1.0 ELSE 0.0 END)
             >= {1 - _CF_ALPHA} - 4 * sqrt({_CF_ALPHA} * {1 - _CF_ALPHA} / count(*)))
             AS coverage_ok
    FROM s JOIN model m USING (o_orderpriority) WHERE part = 'test'
    """,
)
def forecast_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals around the per-priority
    mean-price predictor: q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration
    residual (α = {_CF_ALPHA}), and the TEST-set coverage of
    pred ± q̂ — conformal's guarantee is coverage ≥ 1−α regardless of
    the model, and `coverage_ok` pins it with a 4σ binomial margin.
    The split is the deterministic md5 hash (reproducible everywhere);
    the order statistic runs only over the calibration slice."""
    orders = sf_table(spark, sf_dir, "orders")
    h = F.md5(F.col("o_orderkey").cast("string"))
    s = orders.withColumn(
        "part",
        F.when(h < "8", "train").when(h < "c", "cal").otherwise("test"),
    )
    model = (
        s.filter(F.col("part") == "train")
        .groupBy("o_orderpriority")
        .agg(F.avg("o_totalprice").alias("pred"))
    )
    cal = (
        s.filter(F.col("part") == "cal")
        .join(F.broadcast(model), "o_orderpriority")
        .select(
            F.abs(F.col("o_totalprice") - F.col("pred")).alias("r"), "o_orderkey"
        )
    )
    ncal = cal.agg(F.count(F.lit(1)).alias("n"))
    wr = Window.orderBy("r", "o_orderkey")
    qhat = (
        cal.withColumn("rn", F.row_number().over(wr))
        .crossJoin(F.broadcast(ncal))
        .filter(
            F.col("rn")
            == F.least(
                F.ceil((F.col("n") + 1) * (1 - _CF_ALPHA)).cast("bigint"), F.col("n")
            )
        )
        .select(F.col("r").alias("q"))
    )
    test = (
        s.filter(F.col("part") == "test")
        .join(F.broadcast(model), "o_orderpriority")
        .crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(ncal))
    )
    covered = F.when(
        F.abs(F.col("o_totalprice") - F.col("pred")) <= F.col("q"), 1.0
    ).otherwise(0.0)
    return test.agg(
        F.first("n").alias("n_cal"),
        F.count(F.lit(1)).alias("n_test"),
        F.round(F.first("q"), 6).alias("q_hat"),
        F.round(F.avg(covered), 6).alias("coverage"),
        (
            F.avg(covered)
            >= (1 - _CF_ALPHA)
            - 4 * F.sqrt(F.lit(_CF_ALPHA * (1 - _CF_ALPHA)) / F.count(F.lit(1)))
        ).alias("coverage_ok"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences readout
# ---------------------------------------------------------------------------
_DID_SPLIT_DATE = "1998-01-01"


@register(
    "ab_diff_in_diff",
    f"""
    WITH g AS (
      SELECT CASE WHEN md5(CAST(o_custkey AS VARCHAR)) < '8' THEN 'T' ELSE 'C' END AS grp,
             CASE WHEN o_orderdate < TIMESTAMP '{_DID_SPLIT_DATE}' THEN 'pre' ELSE 'post' END AS period,
             o_totalprice AS y
      FROM orders
    ), cells AS (
      SELECT grp, period, count(*) AS n, avg(y) AS m, var_samp(y) AS v
      FROM g GROUP BY 1, 2
    )
    SELECT round(tpost.m - tpre.m - (cpost.m - cpre.m), 6) AS did_estimate,
           round(sqrt(tpost.v / tpost.n + tpre.v / tpre.n
                      + cpost.v / cpost.n + cpre.v / cpre.n), 6) AS std_error,
           tpre.n + tpost.n AS n_treatment, cpre.n + cpost.n AS n_control
    FROM (SELECT * FROM cells WHERE grp = 'T' AND period = 'pre') tpre
    CROSS JOIN (SELECT * FROM cells WHERE grp = 'T' AND period = 'post') tpost
    CROSS JOIN (SELECT * FROM cells WHERE grp = 'C' AND period = 'pre') cpre
    CROSS JOIN (SELECT * FROM cells WHERE grp = 'C' AND period = 'post') cpost
    """,
)
def ab_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: (ΔT) − (ΔC) of mean order value
    across the {_DID_SPLIT_DATE} boundary for a deterministic hash
    cohort — the quasi-experimental estimator when treatment couldn't
    be randomized (parallel-trends is the assumption; here the null
    cohort should land within a few SEs of zero, which makes this a
    permanent A/A guardrail too). Four (group × period) moment cells
    from one scan, constant-size arithmetic after."""
    orders = sf_table(spark, sf_dir, "orders")
    g = orders.select(
        F.when(F.md5(F.col("o_custkey").cast("string")) < "8", "T")
        .otherwise("C")
        .alias("grp"),
        F.when(
            F.col("o_orderdate") < F.lit(_DID_SPLIT_DATE).cast("timestamp"), "pre"
        )
        .otherwise("post")
        .alias("period"),
        F.col("o_totalprice").alias("y"),
    )
    cells = g.groupBy("grp", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("m"),
        F.var_samp("y").alias("v"),
    )

    def cell(grp: str, period: str, pfx: str) -> DataFrame:
        return cells.filter(
            (F.col("grp") == grp) & (F.col("period") == period)
        ).select(
            F.col("n").alias(f"{pfx}_n"),
            F.col("m").alias(f"{pfx}_m"),
            F.col("v").alias(f"{pfx}_v"),
        )

    j = (
        cell("T", "pre", "tpre")
        .crossJoin(cell("T", "post", "tpost"))
        .crossJoin(cell("C", "pre", "cpre"))
        .crossJoin(cell("C", "post", "cpost"))
    )
    return j.select(
        F.round(
            F.col("tpost_m") - F.col("tpre_m") - (F.col("cpost_m") - F.col("cpre_m")),
            6,
        ).alias("did_estimate"),
        F.round(
            F.sqrt(
                F.col("tpost_v") / F.col("tpost_n")
                + F.col("tpre_v") / F.col("tpre_n")
                + F.col("cpost_v") / F.col("cpost_n")
                + F.col("cpre_v") / F.col("cpre_n")
            ),
            6,
        ).alias("std_error"),
        (F.col("tpre_n") + F.col("tpost_n")).alias("n_treatment"),
        (F.col("cpre_n") + F.col("cpost_n")).alias("n_control"),
    )


# ---------------------------------------------------------------------------
# Popularity-recommender hit rate @ k
# ---------------------------------------------------------------------------
_REC_K = 5


@register(
    "rec_popularity_hitrate",
    f"""
    WITH joined AS (
      SELECT o.o_custkey, o.o_orderdate, p.p_brand
      FROM orders o
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
    ), topk AS (
      SELECT p_brand FROM (
        SELECT p_brand, count(*) AS c FROM joined
        WHERE o_orderdate < TIMESTAMP '{_DID_SPLIT_DATE}'
        GROUP BY 1 ORDER BY c DESC, p_brand ASC LIMIT {_REC_K})
    ), test AS (
      SELECT o_custkey,
             max(CASE WHEN t.p_brand IS NOT NULL THEN 1 ELSE 0 END) AS hit
      FROM joined LEFT JOIN topk t USING (p_brand)
      WHERE o_orderdate >= TIMESTAMP '{_DID_SPLIT_DATE}'
      GROUP BY o_custkey
    )
    SELECT count(*) AS n_test_customers,
           sum(hit) AS n_hit,
           round(avg(CAST(hit AS DOUBLE)), 6) AS hit_rate
    FROM test
    """,
)
def rec_popularity_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hit-rate@{_REC_K} of the popularity recommender: train-period
    top-{_REC_K} brands (one TakeOrderedAndProject), scored as "did the
    test-period customer buy ANY recommended brand" — the baseline
    every personalized recommender must beat before it earns its
    serving cost. Broadcast top-k membership + per-customer max
    aggregate; the train/test boundary is temporal, so no customer's
    future leaks into their own recommendations."""
    t = load_sf_tables(spark, sf_dir)
    joined = (
        t["orders"]
        .join(t["lineitem"], t["orders"]["o_orderkey"] == t["lineitem"]["l_orderkey"])
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .select("o_custkey", "o_orderdate", "p_brand")
    )
    split = F.lit(_DID_SPLIT_DATE).cast("timestamp")
    topk = (
        joined.filter(F.col("o_orderdate") < split)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("p_brand").asc())
        .limit(_REC_K)
        .select("p_brand", F.lit(1).alias("_rec"))
    )
    test = (
        joined.filter(F.col("o_orderdate") >= split)
        .join(F.broadcast(topk), "p_brand", "left")
        .groupBy("o_custkey")
        .agg(F.max(F.coalesce("_rec", F.lit(0))).alias("hit"))
    )
    return test.agg(
        F.count(F.lit(1)).alias("n_test_customers"),
        F.sum("hit").alias("n_hit"),
        F.round(F.avg(F.col("hit").cast("double")), 6).alias("hit_rate"),
    )
