"""Round-2 extensions, batch 45: weighted percentiles, entity-resolution
blocking quality, CUSUM changepoint detection.

Scale notes:
- WEIGHTED MEDIAN: per-group totals come from a hash aggregate joined
  back (broadcast — group cardinality is small), the crossing point from
  ONE ordered cumulative window per group. Partitioned by group key, so
  the sort parallelizes across groups; within a group it is the same
  sort any exact percentile needs (approx tier: `percentile_approx`).
- ER BLOCKING QUALITY measures the blocking strategy itself: candidate
  pairs from the blocked equi-join vs ground truth from a BOUNDED
  all-pairs subset (truth is quadratic by definition — the subset cap is
  the honest way to audit blocking at scale; production audits sample).
  Both sides are counts — one aggregate each, no pair materialization
  beyond the bounded subset.
- CUSUM runs over the DAILY aggregate (bounded cardinality), not raw
  rows: partial-aggregated daily totals, one global mean, one ordered
  prefix-sum window over days, one TakeOrderedAndProject for the argmax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Exact weighted median of extended price (weight = quantity) per returnflag
# ---------------------------------------------------------------------------
@register(
    "percentile_weighted_median",
    """
    WITH tot AS (
      SELECT l_returnflag AS grp, sum(l_quantity) AS tw
      FROM lineitem GROUP BY 1
    ), w AS (
      SELECT l_returnflag AS grp, l_extendedprice AS v,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM lineitem
    )
    SELECT w.grp, round(min(v), 6) AS weighted_median, round(any_value(tw), 6) AS total_weight
    FROM w JOIN tot ON w.grp = tot.grp
    WHERE cw >= tw / 2
    GROUP BY w.grp
    """,
)
def percentile_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median of l_extendedprice with l_quantity as the
    weight, per return flag — the percentile a demand-weighted price
    report actually needs (the unweighted median over-counts small
    lines). Group totals via hash aggregate + broadcast join (NOT an
    unbounded-frame window, which would materialize the total per row);
    the crossing point is one cumulative window per group with a full
    tie-break, so the answer is deterministic in both engines."""
    li = sf_table(spark, sf_dir, "lineitem")
    tot = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.sum("l_quantity").alias("tw")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
        F.sum("l_quantity").over(w).alias("cw"),
    )
    return (
        cum.join(F.broadcast(tot), "grp")
        .filter(F.col("cw") >= F.col("tw") / 2)
        .groupBy("grp")
        .agg(
            F.round(F.min("v"), 6).alias("weighted_median"),
            F.round(F.first("tw"), 6).alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Entity-resolution blocking quality: reduction ratio + pairs completeness
# ---------------------------------------------------------------------------
_ER_KEY_CAP = 4000  # truth subset bound: all-pairs ground truth is O(n²)
_ER_DIST = 2


@register(
    "er_blocking_quality",
    f"""
    WITH c AS (
      SELECT c_custkey, c_name, c_nationkey FROM customer
      WHERE c_custkey <= {_ER_KEY_CAP}
    ), truth AS (
      SELECT a.c_custkey AS ka, b.c_custkey AS kb,
             (a.c_nationkey = b.c_nationkey) AS in_block
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= {_ER_DIST}
    ), cand AS (
      SELECT count(*) AS n_cand
      FROM c a JOIN c b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    ), n AS (SELECT count(*) AS nc FROM c)
    SELECT n_cand,
           CAST(nc * (nc - 1) / 2 AS BIGINT) AS n_total_pairs,
           round(1 - n_cand / (nc * (nc - 1) / 2.0), 6) AS reduction_ratio,
           (SELECT count(*) FROM truth) AS n_true,
           (SELECT count(*) FILTER (WHERE in_block) FROM truth) AS n_true_in_block,
           round((SELECT count(*) FILTER (WHERE in_block) FROM truth)
                 / CAST((SELECT count(*) FROM truth) AS DOUBLE), 6)
             AS pairs_completeness
    FROM cand CROSS JOIN n
    """,
)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the nation-blocking strategy used by
    `fuzzy_match_customer_names`: reduction ratio (fraction of the n²/2
    comparison space the blocks eliminate) and pairs completeness
    (fraction of TRUE matches — levenshtein ≤ {_ER_DIST} — that land in
    the same block, i.e. are findable at all). Ground truth is all-pairs
    over a bounded key subset (≤ {_ER_KEY_CAP}), the honest way to audit
    a blocking scheme whose whole point is avoiding all-pairs: at
    production scale the subset is a sample. The quadratic truth join is
    repartition-pinned like the fuzzy verify so its levenshtein work
    spreads across the cluster."""
    cust = (
        sf_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= _ER_KEY_CAP)
        .select("c_custkey", "c_name", "c_nationkey")
    )
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    a = cust.repartition(n_parts, F.col("c_custkey")).select(
        F.col("c_custkey").alias("ka"),
        F.col("c_name").alias("_na"),
        F.col("c_nationkey").alias("_nka"),
    )
    b = cust.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_name").alias("_nb"),
        F.col("c_nationkey").alias("_nkb"),
    )
    truth = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ka") < F.col("kb"))
        .filter(F.levenshtein("_na", "_nb", _ER_DIST) >= 0)
        .select("ka", "kb", (F.col("_nka") == F.col("_nkb")).alias("in_block"))
    )
    t = truth.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.count(F.when(F.col("in_block"), 1)).alias("n_true_in_block"),
    )
    cand = (
        a.join(F.broadcast(b), F.col("_nka") == F.col("_nkb"))
        .filter(F.col("ka") < F.col("kb"))
        .agg(F.count(F.lit(1)).alias("n_cand"))
    )
    n = cust.agg(F.count(F.lit(1)).alias("nc"))
    return (
        cand.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(t))
        .select(
            "n_cand",
            (F.col("nc") * (F.col("nc") - 1) / 2).cast("bigint").alias("n_total_pairs"),
            F.round(
                1 - F.col("n_cand") / (F.col("nc") * (F.col("nc") - 1) / 2.0), 6
            ).alias("reduction_ratio"),
            "n_true",
            "n_true_in_block",
            F.round(
                F.col("n_true_in_block") / F.col("n_true").cast("double"), 6
            ).alias("pairs_completeness"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection on daily order totals
# ---------------------------------------------------------------------------
@register(
    "timeseries_changepoint_cusum",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             round(sum(o_totalprice), 2) AS x
      FROM orders GROUP BY 1
    ), m AS (SELECT round(avg(x), 2) AS mu, count(*) AS nd FROM daily),
    c AS (
      SELECT d, x, mu, nd,
             sum(x - mu) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM daily CROSS JOIN m
    )
    SELECT d AS changepoint_date, round(abs(s), 6) AS cusum_abs,
           nd AS n_days
    FROM c ORDER BY abs(s) DESC, d LIMIT 1
    """,
)
def timeseries_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint: the day where the cumulative sum of deviations
    from the global daily mean peaks — the classic single-changepoint
    estimator (a level shift at day t makes |S| a tent function peaking
    at t; a flat series keeps |S| small). Runs entirely over the daily
    aggregate: partial-aggregated totals, one scalar mean broadcast, one
    prefix-sum window over the bounded day axis, and a
    TakeOrderedAndProject for the argmax — raw-row cardinality never
    reaches the window."""
    orders = sf_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("x"))
    # Round the daily totals and the mean to cents BEFORE the ordered
    # prefix sum: the window accumulates in a deterministic order, so
    # exact 2-decimal inputs make the cusum bit-identical across engines
    # (raw double aggregates differ in the last ulp by reduction order).
    m = daily.agg(F.round(F.avg("x"), 2).alias("mu"), F.count(F.lit(1)).alias("nd"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    c = daily.crossJoin(F.broadcast(m)).withColumn(
        "s", F.sum(F.col("x") - F.col("mu")).over(w)
    )
    return (
        c.orderBy(F.abs("s").desc(), F.col("d").asc())
        .limit(1)
        .select(
            F.col("d").alias("changepoint_date"),
            F.round(F.abs("s"), 6).alias("cusum_abs"),
            F.col("nd").alias("n_days"),
        )
    )
