"""Round-2 extensions, batch 22: multivariate outliers, information
content profiling, privacy screening, and per-entity trends.

Scale notes:
- The Mahalanobis screen (diagonal covariance) joins rows against
  broadcast per-group moments — map-side distance, one stats shuffle;
  the multivariate big sibling of `dq_outlier_zscore`.
- Column entropy is one groupBy per column over categorical counts —
  the information-content row of a data profile.
- k-anonymity groups by the quasi-identifier tuple and flags small
  groups — one aggregation, and the at-risk share derives from the same
  counts (privacy screening before data sharing).
- Trend slopes run `regr_slope` per entity over (day number, value) —
  one partial-aggregated shuffle; top movers via TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Multivariate outlier screen: diagonal-covariance Mahalanobis distance
# ---------------------------------------------------------------------------
@register(
    "dq_mahalanobis_diag",
    """
    WITH stats AS (
      SELECT l_returnflag,
             avg(l_quantity) AS mu_q, var_samp(l_quantity) AS var_q,
             avg(l_extendedprice) AS mu_p, var_samp(l_extendedprice) AS var_p,
             avg(l_discount) AS mu_d, var_samp(l_discount) AS var_d
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_orderkey, l_linenumber, l.l_returnflag,
           round(sqrt(
             (l_quantity - mu_q) * (l_quantity - mu_q) / var_q
             + (l_extendedprice - mu_p) * (l_extendedprice - mu_p) / var_p
             + (l_discount - mu_d) * (l_discount - mu_d) / var_d
           ), 6) AS mdist,
           sqrt(
             (l_quantity - mu_q) * (l_quantity - mu_q) / var_q
             + (l_extendedprice - mu_p) * (l_extendedprice - mu_p) / var_p
             + (l_discount - mu_d) * (l_discount - mu_d) / var_d
           ) > 3.0 AS is_outlier
    FROM lineitem l JOIN stats s USING (l_returnflag)
    WHERE l_orderkey < 2000
    """,
)
def dq_mahalanobis_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier screen: Mahalanobis distance with diagonal
    covariance (per-dimension standardization, summed in quadrature) over
    (quantity, price, discount) per return flag — catches rows that are
    unremarkable per-column but jointly improbable. Broadcast per-group
    moments, map-side distance; the full-covariance variant adds the
    Cholesky factors to the same broadcast table."""
    li = sf_table(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.avg("l_quantity").alias("mu_q"),
        F.var_samp("l_quantity").alias("var_q"),
        F.avg("l_extendedprice").alias("mu_p"),
        F.var_samp("l_extendedprice").alias("var_p"),
        F.avg("l_discount").alias("mu_d"),
        F.var_samp("l_discount").alias("var_d"),
    )
    j = li.filter(F.col("l_orderkey") < 2000).join(F.broadcast(stats), "l_returnflag")
    d2 = (
        (F.col("l_quantity") - F.col("mu_q")) ** 2 / F.col("var_q")
        + (F.col("l_extendedprice") - F.col("mu_p")) ** 2 / F.col("var_p")
        + (F.col("l_discount") - F.col("mu_d")) ** 2 / F.col("var_d")
    )
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(F.sqrt(d2), 6).alias("mdist"),
        (F.sqrt(d2) > 3.0).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Categorical column entropy (information content per profile column)
# ---------------------------------------------------------------------------
@register(
    "profile_column_entropy",
    """
    WITH s AS (
      SELECT o_orderstatus AS val, 'o_orderstatus' AS col FROM orders
      UNION ALL
      SELECT o_orderpriority, 'o_orderpriority' FROM orders
    ), counts AS (
      SELECT col, val, count(*) AS n FROM s GROUP BY col, val
    ), tot AS (
      SELECT col, sum(n) AS t, count(*) AS n_distinct FROM counts GROUP BY col
    )
    SELECT counts.col, any_value(n_distinct) AS n_distinct,
           round(-sum((CAST(n AS DOUBLE) / t) * ln(CAST(n AS DOUBLE) / t)), 6)
             AS entropy_nats,
           round(-sum((CAST(n AS DOUBLE) / t) * ln(CAST(n AS DOUBLE) / t))
                 / ln(any_value(n_distinct)), 6) AS normalized_entropy
    FROM counts JOIN tot ON counts.col = tot.col
    GROUP BY counts.col
    """,
)
def profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy per categorical column (nats + normalized to
    [0,1] by ln of cardinality) — the information-content row of a
    column profile: ~0 flags near-constant columns, ~1 uniform ones.
    One stacked union + two aggregations; cardinalities stay small by
    construction (categorical profiling)."""
    orders = sf_table(spark, sf_dir, "orders")
    s = orders.select(
        F.col("o_orderstatus").alias("val"), F.lit("o_orderstatus").alias("col")
    ).unionAll(
        orders.select(
            F.col("o_orderpriority").alias("val"), F.lit("o_orderpriority").alias("col")
        )
    )
    counts = s.groupBy("col", "val").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("col").agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("n_distinct")
    )
    p = F.col("n").cast("double") / F.col("t")
    return (
        counts.join(tot, "col")
        .groupBy("col")
        .agg(
            F.any_value("n_distinct").alias("n_distinct"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            F.round(
                -F.sum(p * F.log(p)) / F.log(F.any_value("n_distinct").cast("double")),
                6,
            ).alias("normalized_entropy"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity screening over quasi-identifiers
# ---------------------------------------------------------------------------
_K_ANON = 5


@register(
    "dq_k_anonymity",
    f"""
    WITH groups AS (
      SELECT c_mktsegment, c_nationkey, count(*) AS group_size
      FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT count(*) AS n_groups,
           count(*) FILTER (WHERE group_size < {_K_ANON}) AS n_small_groups,
           sum(group_size) AS n_rows,
           sum(group_size) FILTER (WHERE group_size < {_K_ANON}) AS n_rows_at_risk,
           round(CAST(coalesce(sum(group_size)
                   FILTER (WHERE group_size < {_K_ANON}), 0) AS DOUBLE)
                 / sum(group_size), 6) AS at_risk_share,
           min(group_size) AS min_group_size
    FROM groups
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity screen (k=5) over the quasi-identifier tuple
    (segment, nation): how many equivalence classes fall under k, and
    what share of ROWS sits in them — the privacy gate run before
    sharing or training on user-adjacent tables. One aggregation over
    the quasi-identifier; remediation (generalize or suppress) applies
    to exactly the flagged classes."""
    cust = sf_table(spark, sf_dir, "customer")
    groups = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    small = F.col("group_size") < _K_ANON
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.count_if(small).alias("n_small_groups"),
        F.sum("group_size").alias("n_rows"),
        F.sum(F.when(small, F.col("group_size"))).alias("n_rows_at_risk"),
        F.round(
            F.coalesce(F.sum(F.when(small, F.col("group_size"))), F.lit(0)).cast(
                "double"
            )
            / F.sum("group_size"),
            6,
        ).alias("at_risk_share"),
        F.min("group_size").alias("min_group_size"),
    )


# ---------------------------------------------------------------------------
# Per-customer spending trend (regression slope over time), top movers
# ---------------------------------------------------------------------------
@register(
    "customer_trend_slopes",
    """
    WITH pts AS (
      SELECT o_custkey,
             date_diff('day', DATE '1995-01-01',
                       CAST(date_trunc('day', o_orderdate) AS DATE)) AS x,
             o_totalprice AS y
      FROM orders
    ), slopes AS (
      SELECT o_custkey,
             regr_count(y, x) AS n_orders,
             round(regr_slope(y, x), 6) AS slope
      FROM pts GROUP BY o_custkey HAVING regr_count(y, x) >= 10
    )
    SELECT o_custkey, n_orders, slope FROM slopes
    WHERE slope IS NOT NULL
    ORDER BY slope DESC, o_custkey LIMIT 20
    """,
)
def customer_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer spending trend: OLS slope of order value over time
    (days since a fixed epoch), top-20 upward movers among customers with
    ≥10 orders. regr_slope partial-aggregates per customer in one
    shuffle; the top-k is TakeOrderedAndProject. The per-entity trend
    screen behind churn/expansion alerts."""
    orders = sf_table(spark, sf_dir, "orders")
    x = F.datediff(F.to_date(F.date_trunc("day", "o_orderdate")), F.lit("1995-01-01").cast("date"))
    pts = orders.select("o_custkey", x.cast("double").alias("x"), F.col("o_totalprice").alias("y"))
    slopes = (
        pts.groupBy("o_custkey")
        .agg(
            F.regr_count("y", "x").alias("n_orders"),
            F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        )
        .filter((F.col("n_orders") >= 10) & F.col("slope").isNotNull())
    )
    return slopes.orderBy(F.col("slope").desc(), "o_custkey").limit(20)
