"""Round-2 extensions, batch 21: cohort LTV curves, market-basket lift,
clamped running balances, and relational division.

Scale notes:
- Cohort LTV: users collapse to (cohort, age) cells before any windowing;
  the cumulative curve runs over the tiny cohort×age grid.
- Basket pairs: within-order brand pairs via a self-join bounded by
  per-order line counts (never catalog×catalog); supports/lift derive
  from broadcast marginals.
- Clamped balance: inventory/queue semantics (cumulative sum floored at
  zero) are NOT expressible with plain windows — each step depends
  non-linearly on the previous. Computed as an ordered-list fold with an
  explicit zero seed, identical fp sequence on both engines (same trick
  as `ewma_daily_value`; segment + re-fold for very long series).
- Relational division ("for all" queries) via count-distinct = total —
  one aggregation each side, a broadcast of the 1-row divisor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import load_sf_tables, sf_table


# ---------------------------------------------------------------------------
# Cohort LTV: cumulative value per signup-cohort by age
# ---------------------------------------------------------------------------
@register(
    "events_cohort_ltv",
    """
    WITH firsts AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ), cohort_size AS (
      SELECT cohort_day, count(*) AS n_users FROM firsts GROUP BY cohort_day
    ), cells AS (
      SELECT f.cohort_day,
             date_diff('day', f.cohort_day,
                       CAST(date_trunc('day', e.ts) AS DATE)) AS age_days,
             round(sum(e.value), 6) AS cell_value
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT c.cohort_day, c.age_days, s.n_users,
           round(sum(c.cell_value) OVER (PARTITION BY c.cohort_day
                   ORDER BY c.age_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / s.n_users, 6) AS ltv_per_user
    FROM cells c JOIN cohort_size s ON c.cohort_day = s.cohort_day
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: purchase value per (signup-day
    cohort, age in days), accumulated and normalized per cohort user —
    the payback-curve table growth analytics reads. The fact table
    collapses to cohort×age cells in one aggregation; the cumulative
    window runs over that grid, partitioned by cohort."""
    events = sf_table(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", "ts"))
    firsts = events.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    size = firsts.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("n_users"))
    cells = (
        events.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort_day", F.datediff(day, F.col("cohort_day")).alias("age_days")
        )
        .agg(F.round(F.sum("value"), 6).alias("cell_value"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.join(F.broadcast(size), "cohort_day")
        .select(
            "cohort_day",
            "age_days",
            "n_users",
            F.round(F.sum("cell_value").over(w) / F.col("n_users"), 6).alias(
                "ltv_per_user"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket analysis: within-order brand co-occurrence + lift
# ---------------------------------------------------------------------------
@register(
    "basket_brand_pairs",
    """
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM ob),
    brand_orders AS (
      SELECT p_brand, count(*) AS n_b FROM ob GROUP BY p_brand
    ), pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_ab
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_ab,
           round(CAST(n_ab AS DOUBLE) / (SELECT n FROM n_orders), 6) AS support,
           round(CAST(n_ab AS DOUBLE) * (SELECT n FROM n_orders)
                 / (ba.n_b * bb.n_b), 6) AS lift
    FROM pairs
    JOIN brand_orders ba ON ba.p_brand = brand_a
    JOIN brand_orders bb ON bb.p_brand = brand_b
    WHERE n_ab >= 5
    """,
)
def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: brand pairs bought in the same order,
    with support and lift (P(a,b)/P(a)P(b)). The self-join is keyed on
    the order — quadratic only in each order's distinct brand count
    (single digits), never brands×brands; marginals and the order count
    broadcast into the final projection. Lift > 1 flags genuinely
    associated pairs; `WHERE n_ab >= 5` prunes noise."""
    t = load_sf_tables(spark, sf_dir)
    # Staged once (round 7): `ob` feeds FIVE subtrees (order count, brand
    # marginals, both self-join sides) — unpersisted, the lineitem⋈part
    # join + distinct re-ran per consumer.
    ob = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
        .localCheckpoint()
    )
    n_orders = ob.select(F.countDistinct("l_orderkey").alias("n"))
    brand_orders = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_b"))
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    ba = brand_orders.select(F.col("p_brand").alias("brand_a"), F.col("n_b").alias("na"))
    bb = brand_orders.select(F.col("p_brand").alias("brand_b"), F.col("n_b").alias("nb"))
    return (
        pairs.join(F.broadcast(ba), "brand_a")
        .join(F.broadcast(bb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n"), 6).alias("support"),
            F.round(
                F.col("n_ab").cast("double") * F.col("n") / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Clamped running balance (inventory/queue semantics)
# ---------------------------------------------------------------------------
@register(
    "running_balance_clamped",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             round(sum(CASE WHEN event_type = 'purchase' THEN value
                            ELSE -value / 4 END), 6) AS net
      FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1
    )
    SELECT d, net,
           round(list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
               list(net) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)),
             (acc, x) -> greatest(acc + x, CAST(0 AS DOUBLE))
           ), 6) AS balance
    FROM daily
    """,
)
def running_balance_clamped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running balance floored at zero (inventory that can't go negative,
    token-bucket queues): b_t = max(0, b_{t-1} + net_t). The clamp makes
    each step a non-linear function of the last, so NO plain window
    expresses it — computed as an ordered prefix-list fold seeded with an
    explicit 0 (DuckDB's seedless list_reduce gets the 0 prepended), the
    identical fp sequence on both engines. Same O(n²)-prefix-list caveat
    and segmenting remedy as `ewma_daily_value`."""
    events = sf_table(spark, sf_dir, "events")
    net = F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
        -F.col("value") / 4
    )
    daily = (
        events.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(F.round(F.sum(net), 6).alias("net"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    fold = F.expr(
        "aggregate(_l, cast(0 as double), (acc, x) -> greatest(acc + x, 0D))"
    )
    return (
        daily.withColumn("_l", F.collect_list("net").over(w))
        .select("d", "net", F.round(fold, 6).alias("balance"))
    )


# ---------------------------------------------------------------------------
# Relational division: suppliers who shipped into EVERY order priority
# ---------------------------------------------------------------------------
@register(
    "relational_division_suppliers",
    """
    WITH divisor AS (
      SELECT count(DISTINCT o_orderpriority) AS n_all FROM orders
    ), covered AS (
      SELECT l.l_suppkey, count(DISTINCT o.o_orderpriority) AS n_covered
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_suppkey
    )
    SELECT l_suppkey AS s_suppkey, n_covered
    FROM covered WHERE n_covered = (SELECT n_all FROM divisor)
    """,
)
def relational_division_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ("suppliers whose shipments cover ALL order
    priorities"): count-distinct per supplier compared against the
    divisor's total — one aggregation per side and a broadcast 1-row
    divisor, instead of the textbook double-NOT-EXISTS (two correlated
    anti-joins). The 'for all' query shape."""
    t = load_sf_tables(spark, sf_dir)
    divisor = t["orders"].select(
        F.countDistinct("o_orderpriority").alias("n_all")
    )
    covered = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_suppkey")
        .agg(F.countDistinct("o_orderpriority").alias("n_covered"))
    )
    return (
        covered.crossJoin(F.broadcast(divisor))
        .filter(F.col("n_covered") == F.col("n_all"))
        .select(F.col("l_suppkey").alias("s_suppkey"), "n_covered")
    )
