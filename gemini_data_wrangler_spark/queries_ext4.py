"""Analytics extensions, round 3 — grouping sets, cross join, numeric
histogram, bounded-frame moving windows, fuzzy (edit-distance) matching,
and one-pass column profiling.

All six are absent from the reference's closed 9-type algebra (reachable
there only via CUSTOM SQL — SURVEY.md §2.4); here each is a first-class
stage-IR citizen or a composition of built-in JVM expressions, with an
exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register, run_stages
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# GROUPING SETS (arbitrary sets — rollup/cube's general form)
# ---------------------------------------------------------------------------
@register(
    "grouping_sets_sales",
    """
    SELECT o_orderstatus, o_orderpriority,
           round(SUM(o_totalprice), 2) AS total_price, COUNT(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
    """,
)
def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary grouping sets in ONE shuffle (Expand → single partial agg),
    vs one scan per set with manual GROUP stages — the same physical shape
    rollup/cube lower to, so it scales identically."""
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "GROUPING",
                "data": {
                    "table": "orders",
                    "mode": "sets",
                    "groupBy": ["o_orderstatus", "o_orderpriority"],
                    "groupingSets": [
                        ["o_orderstatus", "o_orderpriority"],
                        ["o_orderpriority"],
                        [],
                    ],
                    "aggregations": [
                        {"function": "SUM", "column": "o_totalprice", "alias": "_tp"},
                        {"function": "COUNT", "column": "*", "alias": "cnt"},
                    ],
                },
            }
        ],
    )
    # Round after aggregation: double-sum associativity differs per engine.
    return df.select(
        "o_orderstatus", "o_orderpriority", F.round("_tp", 2).alias("total_price"), "cnt"
    )


# ---------------------------------------------------------------------------
# CROSS JOIN (keyless Cartesian product)
# ---------------------------------------------------------------------------
@register(
    "join_cross_region_nation",
    "SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two dimension tables (5 × 25). Catalyst plans a
    BroadcastNestedLoopJoin — the only shape a cross join should ever take
    at scale (one side MUST be broadcast-small; a shuffled Cartesian of two
    fact tables is a design error, not a tuning problem)."""
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "JOIN",
                "data": {
                    "joinType": "CROSS",
                    "leftTable": "nation",
                    "rightTable": "region",
                    "broadcast": "right",
                },
            }
        ],
    )
    return df.select("r_name", "n_name")


# ---------------------------------------------------------------------------
# Numeric histogram (fixed-width binning)
# ---------------------------------------------------------------------------
@register(
    "histogram_totalprice",
    """
    SELECT least(CAST(floor(o_totalprice / 50000) AS INTEGER), 9) AS bucket,
           COUNT(*) AS cnt,
           round(MIN(o_totalprice), 2) AS lo,
           round(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as a SELECT(bucket expr) → GROUP pipeline: the
    bucket id is a pure scalar expression, so the whole thing is one scan +
    one hash-aggregate shuffle on ≤10 keys — the cheapest distribution
    profile at any scale (and the Spark idiom behind width_bucket)."""
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "SELECT",
                "data": {
                    "table": "orders",
                    "columns": [
                        "least(CAST(floor(o_totalprice / 50000) AS INT), 9) AS bucket",
                        "o_totalprice",
                    ],
                },
            },
            {
                "id": "stage_1",
                "type": "GROUP",
                "data": {
                    "groupBy": ["bucket"],
                    "aggregations": [
                        {"function": "COUNT", "column": "*", "alias": "cnt"},
                        {"function": "MIN", "column": "round(o_totalprice, 2)", "alias": "lo"},
                        {"function": "MAX", "column": "round(o_totalprice, 2)", "alias": "hi"},
                    ],
                },
            },
        ],
    )


# ---------------------------------------------------------------------------
# Bounded-frame moving window (7-day RANGE frame)
# ---------------------------------------------------------------------------
@register(
    "window_moving_7day_sum",
    """
    SELECT o_custkey,
           datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day_idx,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS sum_7d
    FROM orders
    """,
)
def window_moving_7day_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer 7-day moving revenue: RANGE frame over a day index.
    One shuffle on the partition key; the frame is evaluated with a sliding
    aggregate inside the Window operator (no self-join). DECIMAL keeps the
    sliding sum exact — double addition is non-associative, and engines
    disagree on sliding-sum evaluation order."""
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "SELECT",
                "data": {
                    "table": "orders",
                    "columns": [
                        "o_custkey",
                        "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') AS day_idx",
                        "CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec",
                    ],
                },
            },
            {
                "id": "stage_1",
                "type": "WINDOW",
                "data": {
                    "partitionBy": ["o_custkey"],
                    "orderBy": [{"column": "day_idx", "direction": "ASC"}],
                    "functions": [
                        {
                            "function": "SUM",
                            "column": "price_dec",
                            "alias": "sum_7d",
                            "frame": {"mode": "range", "preceding": 6},
                        }
                    ],
                },
            },
        ],
    )
    return df.select("o_custkey", "day_idx", "sum_7d")


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) entity matching, blocked
# ---------------------------------------------------------------------------
@register(
    "fuzzy_match_customer_names",
    """
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def fuzzy_match_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate entity names via Levenshtein ≤ 2, BLOCKED on nation:
    the equi-join key bounds the candidate set to within-block pairs, so the
    O(len²) edit-distance only runs on |block|² pairs instead of n². At 100
    TB the blocking key is whatever the entity-resolution pipeline trusts
    (zip, domain, …) — the shape (equi-join block + cheap verify filter)
    stays the same; an unblocked fuzzy join is quadratic and not shippable.
    """
    cust = sf_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    # The verify stage is O(|block|²) compute against an O(n) scan: spread
    # the probe side across the cluster BEFORE the broadcast join, or a
    # one-file/one-split input serializes every levenshtein onto one task.
    # The partition count is pinned explicitly — the probe rows are tiny
    # (bytes) but each carries quadratic downstream work, so AQE's
    # size-based coalescing would fold them back into one partition (it
    # honors an explicit repartition count). One linear shuffle buys
    # cluster-wide parallelism for the quadratic verify.
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    a = cust.repartition(n_parts, F.col("c_custkey")).select(
        F.col("c_custkey").alias("cust_a"),
        F.col("c_name").alias("_na"),
        F.col("c_nationkey").alias("_nk"),
    )
    b = cust.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("c_name").alias("_nb"),
        F.col("c_nationkey").alias("_nk"),
    )
    return (
        a.join(b, "_nk")
        .filter(F.col("cust_a") < F.col("cust_b"))
        # Banded DP: with a threshold Spark computes only the ±2 diagonal
        # band (O(k·n) per pair, early-exit) and returns -1 past it —
        # exact distance for every pair that survives, ~4× less work for
        # the overwhelming majority that don't.
        .withColumn("dist", F.levenshtein("_na", "_nb", 2))
        .filter(F.col("dist") >= 0)
        .select("cust_a", "cust_b", "dist")
    )


# ---------------------------------------------------------------------------
# One-pass column profiler (data-quality summary)
# ---------------------------------------------------------------------------
_PROFILE_COLS: list[tuple[str, str]] = [
    # (column, kind) — kind picks the min/max string rendering, pinned to a
    # deterministic format on both engines (raw double→string formatting is
    # engine-specific; %.2f / explicit date patterns are not).
    ("o_orderkey", "int"),
    ("o_orderstatus", "str"),
    ("o_orderpriority", "str"),
    ("o_totalprice", "double"),
    ("o_orderdate", "ts"),
]


def _render_spark(c: str, kind: str, agg) -> F.Column:
    if kind == "double":
        return F.format_string("%.2f", agg(c))
    if kind == "ts":
        return F.date_format(agg(c), "yyyy-MM-dd HH:mm:ss")
    return agg(c).cast("string")


def _render_duck(c: str, kind: str) -> str:
    if kind == "double":
        return f"printf('%.2f', MIN({c})) AS min_val, printf('%.2f', MAX({c})) AS max_val"
    if kind == "ts":
        return (
            f"strftime(MIN({c}), '%Y-%m-%d %H:%M:%S') AS min_val, "
            f"strftime(MAX({c}), '%Y-%m-%d %H:%M:%S') AS max_val"
        )
    return f"CAST(MIN({c}) AS VARCHAR) AS min_val, CAST(MAX({c}) AS VARCHAR) AS max_val"


@register(
    "profile_orders_columns",
    "\nUNION ALL\n".join(
        f"""
        SELECT '{c}' AS column_name,
               COUNT(*) AS n_rows,
               COUNT({c}) AS n_nonnull,
               COUNT(DISTINCT {c}) AS n_distinct,
               {_render_duck(c, k)}
        FROM orders
        """
        for c, k in _PROFILE_COLS
    ),
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile (rows / non-null / exact distinct / min / max),
    split into TWO single-row aggregates (round 7): putting min/max of the
    STRING columns in the same agg() as the multi-column DISTINCTs forced
    the whole Expand stream (rows × #distinct-cols) through SortAggregate —
    strings cannot live in a HashAggregate buffer — i.e. a 6-key sort of
    900k expanded rows at sf0.1, twice (partial + merge). The distinct and
    count aggregates (all-long buffers) now run hash-based over the Expand,
    and the min/max aggregates run as a keyless second pass (no Sort node:
    global SortAggregate needs no ordering) — two cheap scans instead of
    one sorted one. The two 1-row results cross-join back and pivot to
    per-column rows with an explode of literals (driver-free, no collect)."""
    orders = sf_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    minmax = []
    for c, kind in _PROFILE_COLS:
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_nd_{c}"))
        minmax.append(_render_spark(c, kind, F.min).alias(f"_min_{c}"))
        minmax.append(_render_spark(c, kind, F.max).alias(f"_max_{c}"))
    one = orders.agg(*aggs).crossJoin(F.broadcast(orders.agg(*minmax)))
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"_nn_{c}").alias("n_nonnull"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            F.col(f"_min_{c}").alias("min_val"),
            F.col(f"_max_{c}").alias("max_val"),
        )
        for c, _ in _PROFILE_COLS
    ]
    return one.select(F.explode(F.array(*structs)).alias("_p")).select("_p.*")
