"""Round-2 extensions, batch 23: versioned-dimension joins, path
analysis, tail-focused aggregation, and nested-type aggregation parity.

Scale notes:
- The point-in-time join matches facts to the SCD2 interval valid at
  fact time: equi-join on the entity + interval predicate. At 100 TB,
  bucket both sides on the entity key (the interval check is then
  row-local); skew only if one entity owns a huge fact share (salt it).
- Path analysis uses two lag windows per user — constant state — then a
  tiny groupBy on the path string.
- Top-decile means rank within each group (percent_rank over the group
  partition) and aggregate the tail only.
- Ordered array aggregation pins Spark's collect_list + array_sort
  against DuckDB's list(x ORDER BY ...) — nested-type results hash-match
  only when the ordering is total, so the struct carries the tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import load_sf_tables, sf_table


# ---------------------------------------------------------------------------
# Point-in-time join: each order matched to the SCD2 status interval
# ---------------------------------------------------------------------------
@register(
    "pit_join_order_status",
    """
    WITH chg AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders
    ), scd AS (
      SELECT o_custkey AS custkey, o_orderstatus AS status,
             o_orderdate AS valid_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS valid_to
      FROM chg WHERE prev IS NULL OR prev <> o_orderstatus
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           s.status AS status_as_of_order
    FROM orders o JOIN scd s
      ON o.o_custkey = s.custkey
     AND o.o_orderdate >= s.valid_from
     AND (s.valid_to IS NULL OR o.o_orderdate < s.valid_to)
    WHERE o.o_orderkey < 5000
    """,
)
def pit_join_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (bitemporal) join: match each fact to the SCD2
    interval valid AT fact time — the versioned-dimension lookup every
    warehouse with slowly-changing attributes needs. Build the interval
    table once (`scd2_order_status_history`'s double-window), then an
    entity-equi join with the interval predicate evaluated row-local.
    Facts landing exactly on a change date resolve to the NEW interval
    (>= from, < to) — the standard convention."""
    orders = sf_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = orders.withColumn("prev", F.lag("o_orderstatus").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("o_orderstatus"))
    )
    scd = chg.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    o = orders.filter(F.col("o_orderkey") < 5000)
    return (
        o.join(
            scd,
            (F.col("o_custkey") == F.col("custkey"))
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("o_orderdate") < F.col("valid_to"))),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.col("status").alias("status_as_of_order"),
        )
    )


# ---------------------------------------------------------------------------
# Path analysis: most common 3-step paths ending in a purchase
# ---------------------------------------------------------------------------
@register(
    "events_paths_to_purchase",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type, 1) OVER w AS prev1,
             lag(event_type, 2) OVER w AS prev2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT concat(coalesce(prev2, '-'), ' > ', coalesce(prev1, '-'),
                  ' > purchase') AS path,
           count(*) AS n
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY n DESC, path LIMIT 10
    """,
)
def events_paths_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-path analysis: the two events preceding each purchase,
    folded into a path string and ranked — the journey table behind
    'what do users do right before converting'. Two lag windows share
    one (user, time) sort; the path groupBy runs over |purchases| rows;
    top-k is TakeOrderedAndProject."""
    events = sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    )
    path = F.concat(
        F.coalesce("prev2", F.lit("-")),
        F.lit(" > "),
        F.coalesce("prev1", F.lit("-")),
        F.lit(" > purchase"),
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy(path.alias("path"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Top-decile mean (tail-focused aggregation) per segment
# ---------------------------------------------------------------------------
@register(
    "agg_top_decile_mean",
    """
    WITH ranked AS (
      SELECT c_mktsegment, o_totalprice,
             percent_rank() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_totalprice, o_orderkey) AS pr
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT c_mktsegment,
           count(*) FILTER (WHERE pr >= 0.9) AS n_top_decile,
           round(avg(o_totalprice) FILTER (WHERE pr >= 0.9), 6)
             AS top_decile_mean,
           round(avg(o_totalprice), 6) AS overall_mean
    FROM ranked GROUP BY c_mktsegment
    """,
)
def agg_top_decile_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-focused aggregation: mean of each segment's top decile of
    order values next to the overall mean — whale-revenue concentration.
    percent_rank runs per segment partition (tiebreak by orderkey keeps
    both engines' deciles identical); the tail aggregates reuse the same
    scan via FILTER."""
    t = load_sf_tables(spark, sf_dir)
    j = t["orders"].join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
    w = Window.partitionBy("c_mktsegment").orderBy("o_totalprice", "o_orderkey")
    ranked = j.select(
        "c_mktsegment", "o_totalprice", F.percent_rank().over(w).alias("pr")
    )
    top = F.col("pr") >= 0.9
    return ranked.groupBy("c_mktsegment").agg(
        F.count_if(top).alias("n_top_decile"),
        F.round(F.avg(F.when(top, F.col("o_totalprice"))), 6).alias("top_decile_mean"),
        F.round(F.avg("o_totalprice"), 6).alias("overall_mean"),
    )


# ---------------------------------------------------------------------------
# Ordered nested-array aggregation (collect_list parity)
# ---------------------------------------------------------------------------
@register(
    "customer_order_arrays",
    """
    SELECT o_custkey,
           count(*) AS n_orders,
           array_to_string(
             (list(o_orderpriority ORDER BY o_orderdate, o_orderkey))[1:5], '|')
             AS first5_priorities,
           array_to_string(
             list_transform(
               (list(o_totalprice ORDER BY o_orderdate, o_orderkey))[1:3],
               v -> CAST(CAST(v AS DECIMAL(18,6)) AS VARCHAR)), '|')
             AS first3_values
    FROM orders
    WHERE o_custkey < 100
    GROUP BY o_custkey
    """,
)
def customer_order_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered nested-array aggregation: each customer's first order
    priorities/values as arrays — the denormalized feature shape fed to
    sequence models. Spark's collect_list has no ORDER BY, so the sort
    key rides inside a struct (array_sort on (date, key, value) structs,
    then project) — hash-identical to DuckDB's `list(x ORDER BY ...)`
    because the ordering is total.  The arrays are serialized with
    `array_join` (values at a pinned DECIMAL(18,6) scale) so every output
    column is a scalar the driver's pandas canonicalizer can hash."""
    orders = sf_table(spark, sf_dir, "orders")
    triple = F.struct(
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.col("o_totalprice").alias("v"),
    )
    g = (
        orders.filter(F.col("o_custkey") < 100)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.array_sort(F.collect_list(triple)).alias("_a"),
        )
    )
    return g.select(
        "o_custkey",
        "n_orders",
        F.array_join(
            F.slice(F.expr("transform(_a, s -> s.p)"), 1, 5), "|"
        ).alias("first5_priorities"),
        F.array_join(
            F.slice(
                F.expr(
                    "transform(_a, s -> CAST(CAST(s.v AS DECIMAL(18,6)) AS STRING))"
                ),
                1,
                3,
            ),
            "|",
        ).alias("first3_values"),
    )
