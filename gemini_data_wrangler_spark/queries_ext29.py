"""Round-2 extensions, batch 29: Pareto/ABC inventory classes, product
stickiness (DAU/WAU/MAU), and market-concentration indices.

Scale notes:
- ABC: one aggregate per part, one ranking window over the aggregate
  (already collapsed — small), cumulative share → class. The window
  never sees raw lineitems.
- STICKINESS: DAU is a per-day distinct; WAU/MAU reuse the
  dedup-then-bounded-range-join shape from `window_sliding_distinct_users`
  (the raw event table is read once; each window joins ≤7/≤30 rows of
  the tiny (user, day) table per day).
- HERFINDAHL: Σ share² per market — two aggregations, both map-side
  combined; the index is scalar math on the group row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Pareto / ABC classification of parts by revenue
# ---------------------------------------------------------------------------
@register(
    "inventory_abc_classes",
    """
    WITH rev AS (
      SELECT l_partkey,
             round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, revenue,
             sum(revenue) OVER (ORDER BY revenue DESC, l_partkey ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / sum(revenue) OVER () AS cum_share
      FROM rev
    )
    SELECT l_partkey, revenue,
           round(cum_share, 6) AS cum_share,
           CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def inventory_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC classification: parts ranked by revenue, cumulative
    revenue share cut at 80% (A) and 95% (B) — the inventory-control
    read of the 80/20 rule. The raw lineitem table collapses to one row
    per part FIRST; the running share is the distributed two-level
    prefix sum (`two_level_cumsum`, block = floor(revenue) value
    buckets, descending via negated key) with the grand total as a
    broadcast 1-row aggregate — no part-population-sized single-task
    window even at extreme part counts."""
    from gemini_data_wrangler_spark.operators.window import two_level_cumsum

    li = sf_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias(
            "revenue"
        )
    )
    tot = rev.agg(F.sum("revenue").alias("_tot"))
    ranked = (
        two_level_cumsum(
            rev,
            key=-F.col("revenue"),
            tiebreaks=[F.col("l_partkey").asc()],
            block=F.floor(-F.col("revenue")).cast("long"),
            sums={"_cum": F.col("revenue")},
        )
        .crossJoin(F.broadcast(tot))
        .withColumn("cum_share", F.col("_cum") / F.col("_tot"))
        .drop("_cum", "_tot")
    )
    return ranked.select(
        "l_partkey",
        "revenue",
        F.round("cum_share", 6).alias("cum_share"),
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# ---------------------------------------------------------------------------
# Product stickiness: DAU, WAU, MAU and their ratios per day
# ---------------------------------------------------------------------------
@register(
    "events_stickiness_ratios",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), days AS (SELECT DISTINCT d FROM ud),
    dau AS (
      SELECT d, count(DISTINCT user_id) AS dau FROM ud GROUP BY d
    ), wau AS (
      SELECT w.d, count(DISTINCT u.user_id) AS wau
      FROM days w JOIN ud u ON u.d <= w.d AND u.d > w.d - 7 GROUP BY w.d
    ), mau AS (
      SELECT w.d, count(DISTINCT u.user_id) AS mau
      FROM days w JOIN ud u ON u.d <= w.d AND u.d > w.d - 30 GROUP BY w.d
    )
    SELECT dau.d, dau.dau, wau.wau, mau.mau,
           round(dau.dau / CAST(mau.mau AS DOUBLE), 6) AS dau_mau,
           round(wau.wau / CAST(mau.mau AS DOUBLE), 6) AS wau_mau
    FROM dau JOIN wau ON dau.d = wau.d JOIN mau ON dau.d = mau.d
    """,
)
def events_stickiness_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness: per day, DAU / WAU(7d) / MAU(30d) and the DAU/MAU and
    WAU/MAU ratios — the engagement read every product dashboard leads
    with. All three reuse one (user, day) dedup of the raw events; the
    rolling distincts are bounded range joins over that tiny table
    (`window_sliding_distinct_users`' shape at two widths; the sketch
    variant `events_reach_hll_sliding_check` covers the streaming path)."""
    events = sf_table(spark, sf_dir, "events")
    ud = events.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select("d").distinct().select(F.col("d").alias("we"))
    dau = ud.groupBy("d").agg(F.count_distinct("user_id").alias("dau"))

    def rolling(width: int, name: str) -> DataFrame:
        return (
            days.join(
                ud,
                (F.col("d") <= F.col("we"))
                & (F.col("d") > F.date_sub(F.col("we"), width)),
            )
            .groupBy(F.col("we").alias("d"))
            .agg(F.count_distinct("user_id").alias(name))
        )

    out = (
        dau.join(rolling(7, "wau"), "d")
        .join(rolling(30, "mau"), "d")
    )
    return out.select(
        "d",
        "dau",
        "wau",
        "mau",
        F.round(F.col("dau") / F.col("mau").cast("double"), 6).alias("dau_mau"),
        F.round(F.col("wau") / F.col("mau").cast("double"), 6).alias("wau_mau"),
    )


# ---------------------------------------------------------------------------
# Market concentration: Herfindahl–Hirschman index per market segment
# ---------------------------------------------------------------------------
@register(
    "market_concentration_hhi",
    """
    WITH sales AS (
      SELECT c.c_mktsegment, c.c_nationkey,
             sum(o.o_totalprice) AS nation_sales
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, c.c_nationkey
    ), tot AS (
      SELECT c_mktsegment, sum(nation_sales) AS seg_sales,
             count(*) AS n_nations
      FROM sales GROUP BY c_mktsegment
    )
    SELECT s.c_mktsegment,
           t.n_nations,
           round(sum(power(s.nation_sales / t.seg_sales, 2)), 6) AS hhi,
           round((sum(power(s.nation_sales / t.seg_sales, 2))
                  - 1.0 / t.n_nations) / (1 - 1.0 / t.n_nations), 6)
             AS hhi_normalized
    FROM sales s JOIN tot t USING (c_mktsegment)
    GROUP BY s.c_mktsegment, t.n_nations
    """,
)
def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of each market segment's sales
    across nations: Σ share² (1/n = perfectly spread, 1 = monopolized),
    plus the n-normalized form. Two map-side-combined aggregations and a
    broadcast join of the per-segment totals — the anti-trust/portfolio
    concentration screen, and operationally the same math that flags a
    partition key whose value distribution will skew a shuffle
    (`diag_key_skew`'s economic cousin)."""
    orders = sf_table(spark, sf_dir, "orders")
    customer = sf_table(spark, sf_dir, "customer")
    sales = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.sum("o_totalprice").alias("nation_sales"))
    )
    tot = sales.groupBy("c_mktsegment").agg(
        F.sum("nation_sales").alias("seg_sales"),
        F.count(F.lit(1)).alias("n_nations"),
    )
    share2 = F.pow(F.col("nation_sales") / F.col("seg_sales"), 2)
    return (
        sales.join(F.broadcast(tot), "c_mktsegment")
        .groupBy("c_mktsegment", "n_nations")
        .agg(
            F.round(F.sum(share2), 6).alias("hhi"),
            F.round(
                (F.sum(share2) - 1.0 / F.col("n_nations"))
                / (1 - 1.0 / F.col("n_nations")),
                6,
            ).alias("hhi_normalized"),
        )
    )
