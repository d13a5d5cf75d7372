"""Second extension batch: set operations, multi-level aggregation
(rollup/cube), pivot, top-k, sampling, percentiles, distinct counting, and
temporal joins (as-of, trailing-range) — all through the stage IR or the
dedicated operators, each with a DuckDB oracle where SQL-expressible.

The reference reaches none of these outside CUSTOM SQL (SURVEY.md §2.4);
they are first-class extension stages here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.operators.temporal import asof_join, range_join_count
from gemini_data_wrangler_spark.queries import register, run_stages
from gemini_data_wrangler_spark.sources.readers import load_sf_tables, sf_table


# ---------------------------------------------------------------------------
# Set operations (SETOP stage)
# ---------------------------------------------------------------------------
_SETOP_L = "SELECT c_nationkey, c_mktsegment FROM customer WHERE c_acctbal > 6000"
_SETOP_R = "SELECT c_nationkey, c_mktsegment FROM customer WHERE c_acctbal > 9000"


def _setop_stages(op: str) -> list[dict]:
    return [
        {"id": "stage_0", "type": "CUSTOM", "data": {"sql": _SETOP_L}},
        {"id": "stage_1", "type": "CUSTOM", "data": {"sql": _SETOP_R}},
        {
            "id": "stage_2",
            "type": "SETOP",
            "data": {"setopType": op, "tables": ["result_stage_0_custom", "result_stage_1_custom"]},
        },
    ]


@register("setop_intersect", f"{_SETOP_L} INTERSECT {_SETOP_R}")
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(spark, sf_dir, _setop_stages("INTERSECT"))


@register("setop_except", f"{_SETOP_L} EXCEPT {_SETOP_R}")
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(spark, sf_dir, _setop_stages("EXCEPT"))


@register("setop_except_all", f"{_SETOP_L} EXCEPT ALL {_SETOP_R}")
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(spark, sf_dir, _setop_stages("EXCEPT ALL"))


# ---------------------------------------------------------------------------
# Semi / anti / multi-key joins (JOIN stage extensions)
# ---------------------------------------------------------------------------
@register(
    "join_semi_active_customers",
    """
    SELECT * FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "FILTER",
                "data": {"table": "orders", "column": "o_totalprice", "operator": ">", "value": 400000},
            },
            {
                "id": "stage_1",
                "type": "JOIN",
                "data": {
                    "joinType": "LEFT SEMI",
                    "leftTable": "customer",
                    "rightTable": "result_stage_0_filter",
                    "leftKey": "c_custkey",
                    "rightKey": "o_custkey",
                },
            },
        ],
    )


@register(
    "join_anti_customers_no_orders",
    """
    SELECT * FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "JOIN",
                "data": {
                    "joinType": "LEFT ANTI",
                    "leftTable": "customer",
                    "rightTable": "orders",
                    "leftKey": "c_custkey",
                    "rightKey": "o_custkey",
                },
            }
        ],
    )


@register(
    "join_multi_key",
    """
    WITH summary AS (
      SELECT o_custkey AS custkey, o_orderstatus AS status,
             COUNT(*) AS n, round(SUM(o_totalprice), 2) AS seg_total
      FROM orders GROUP BY 1, 2
    )
    SELECT o.o_orderkey, o.o_totalprice, s.n, s.seg_total
    FROM orders o JOIN summary s
      ON o.o_custkey = s.custkey AND o.o_orderstatus = s.status
    """,
)
def join_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "CUSTOM",
                "data": {
                    "sql": """
                    SELECT o_custkey AS custkey, o_orderstatus AS status,
                           COUNT(*) AS n, round(SUM(o_totalprice), 2) AS seg_total
                    FROM orders GROUP BY o_custkey, o_orderstatus
                    """
                },
            },
            {
                "id": "stage_1",
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "orders",
                    "rightTable": "result_stage_0_custom",
                    "leftKeys": ["o_custkey", "o_orderstatus"],
                    "rightKeys": ["custkey", "status"],
                },
            },
        ],
    )
    return df.select("o_orderkey", "o_totalprice", "n", "seg_total")


@register(
    "join_salted_skew",
    """
    SELECT l.l_orderkey, l.l_extendedprice, o.o_orderstatus, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Salting is semantically transparent: same result as the plain join,
    # but a hot key spreads over `salt` reducers (the planned skew strategy;
    # AQE skew-split is the runtime one).
    from gemini_data_wrangler_spark.operators.skew import salted_join

    t = load_sf_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_extendedprice")
    orders = t["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice")
    return salted_join(li, orders, "l_orderkey", "o_orderkey", salt=8)


# ---------------------------------------------------------------------------
# Multi-level aggregation (GROUPING stage: rollup / cube)
# ---------------------------------------------------------------------------
@register(
    "rollup_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           round(SUM(o_totalprice), 2) AS total_price, COUNT(*) AS cnt
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "GROUPING",
                "data": {
                    "table": "orders",
                    "mode": "rollup",
                    "groupBy": ["o_orderstatus", "o_orderpriority"],
                    "aggregations": [
                        {"function": "SUM", "column": "o_totalprice", "alias": "_tp"},
                        {"function": "COUNT", "column": "*", "alias": "cnt"},
                    ],
                },
            }
        ],
    )
    # Round after the rollup: double-sum associativity differs per engine.
    return df.select(
        "o_orderstatus", "o_orderpriority", F.round("_tp", 2).alias("total_price"), "cnt"
    )


@register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "GROUPING",
                "data": {
                    "table": "orders",
                    "mode": "cube",
                    "groupBy": ["o_orderstatus", "o_orderpriority"],
                    "aggregations": [{"function": "COUNT", "column": "*", "alias": "cnt"}],
                },
            }
        ],
    )


# ---------------------------------------------------------------------------
# Pivot (PIVOT stage) — oracle via conditional aggregation
# ---------------------------------------------------------------------------
@register(
    "pivot_segment_by_status",
    """
    SELECT c_mktsegment,
           COUNT(*) FILTER (o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (o_orderstatus = 'P') AS P
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def pivot_segment_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "orders",
                    "rightTable": "customer",
                    "leftKey": "o_custkey",
                    "rightKey": "c_custkey",
                    "broadcast": "right",
                },
            },
            {
                "id": "stage_1",
                "type": "PIVOT",
                "data": {
                    "groupBy": ["c_mktsegment"],
                    "pivotColumn": "o_orderstatus",
                    "pivotValues": ["F", "O", "P"],
                    "aggregations": [{"function": "COUNT", "column": "*"}],
                },
            },
        ],
    )
    # Spark pivot leaves empty cells NULL; the FILTER-count oracle yields 0.
    return df.select(
        "c_mktsegment",
        *[F.coalesce(F.col(v), F.lit(0)).alias(v) for v in ("F", "O", "P")],
    )


# ---------------------------------------------------------------------------
# Top-k (TOPK stage — TakeOrderedAndProject, not a full sort)
# ---------------------------------------------------------------------------
@register(
    "topk_expensive_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def topk_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # o_orderkey tiebreak keeps the top-100 SET deterministic across engines.
    return run_stages(
        spark,
        sf_dir,
        [
            {"id": "stage_0", "type": "SELECT", "data": {"table": "orders", "columns": ["o_orderkey", "o_custkey", "o_totalprice"]}},
            {
                "id": "stage_1",
                "type": "TOPK",
                "data": {
                    "n": 100,
                    "orderBy": [
                        {"column": "o_totalprice", "direction": "DESC"},
                        {"column": "o_orderkey", "direction": "ASC"},
                    ],
                },
            },
        ],
    )


# ---------------------------------------------------------------------------
# Distinct counting — exact and approximate (HLL++)
# ---------------------------------------------------------------------------
@register(
    "count_distinct_exact",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def count_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = sf_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "count_distinct_approx",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers_exact,
           abs(approx_count_distinct(o_custkey)
               - count(DISTINCT o_custkey)) * 1.0
             <= 0.06 * count(DISTINCT o_custkey) AS approx_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def count_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approx_count_distinct = HyperLogLog++ with partial merge — constant
    # memory per group at any scale, the 100 TB stand-in for COUNT(DISTINCT).
    # Sketch bits differ per engine, so the hash-checked contract is the
    # GUARANTEE: each engine's own estimate must sit within 3×rsd of the
    # shared exact anchor — a mismatch means someone's HLL math broke.
    orders = sf_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("n_customers_exact"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.02)
                - F.count_distinct("o_custkey")
            )
            * 1.0
            <= 0.06 * F.count_distinct("o_custkey")
        ).alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# Percentiles — exact interpolated (Spark percentile ≡ DuckDB quantile_cont)
# ---------------------------------------------------------------------------
@register(
    "percentile_prices",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           round(quantile_cont(o_totalprice, 0.95), 4) AS p95
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = sf_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        *[
            F.round(F.expr(f"percentile(o_totalprice, {q})"), 4).alias(f"p{int(q * 100)}")
            for q in (0.25, 0.50, 0.75, 0.95)
        ]
    )


@register(
    "percentile_approx",
    """
    SELECT o_orderpriority, count(*) AS n,
           approx_quantile(o_totalprice, 0.5)
             BETWEEN quantile_cont(o_totalprice, 0.49)
                 AND quantile_cont(o_totalprice, 0.51) AS p50_ok,
           approx_quantile(o_totalprice, 0.95)
             BETWEEN quantile_cont(o_totalprice, 0.94)
                 AND quantile_cont(o_totalprice, 0.96) AS p95_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approx_percentile (Greenwald-Khanna) — single-pass, bounded memory;
    # the scale path when exact percentile's full sort is too expensive.
    # Sketches differ per engine, so the hash-checked contract is the rank
    # guarantee: each engine's own estimate must land inside the exact
    # ±0.01-quantile envelope around the target rank.
    orders = sf_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "approx_percentile(o_totalprice, 0.5, 10000) "
            "BETWEEN percentile(o_totalprice, 0.49) "
            "AND percentile(o_totalprice, 0.51)"
        ).alias("p50_ok"),
        F.expr(
            "approx_percentile(o_totalprice, 0.95, 10000) "
            "BETWEEN percentile(o_totalprice, 0.94) "
            "AND percentile(o_totalprice, 0.96)"
        ).alias("p95_ok"),
    )


# ---------------------------------------------------------------------------
# Temporal joins over events
# ---------------------------------------------------------------------------
@register(
    "asof_purchase_last_click",
    """
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.click_id AS click_id_right, c.ts AS ts_right
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = sf_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    # Dedup clicks per (user, ts) so the as-of winner is deterministic.
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    return asof_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="ts")


@register(
    "range_clicks_before_purchase",
    """
    SELECT p.event_id, p.user_id, p.ts,
           COUNT(c.ts) FILTER (c.ts > p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts) AS n_in_range,
           round(COALESCE(SUM(c.value) FILTER (c.ts > p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts), 0), 6) AS sum_in_range
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts > p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def range_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = sf_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = range_join_count(
        purchases,
        clicks,
        on="user_id",
        anchor_ts="ts",
        event_ts="ts",
        interval_seconds=1800,
        agg_col="value",
    )
    return out.select(
        "event_id", "user_id", "ts", "n_in_range", F.round("sum_in_range", 6).alias("sum_in_range")
    )


# ---------------------------------------------------------------------------
# Sampling (SAMPLE stage) — the registered query uses the deterministic
# hash-Bernoulli mode (md5(seed||key) uniform, engine-portable), so the
# SAME rows are drawn by Spark and the DuckDB oracle and the whole sample →
# group pipeline is hash-checked end-to-end; the seeded-RNG mode stays
# covered by tests/test_compiler.py.
# ---------------------------------------------------------------------------
@register(
    "sample_orders",
    """
    WITH s AS (
      SELECT o_orderstatus FROM orders
      WHERE (list_sum(list_transform(range(1, 9), i ->
               (strpos('0123456789abcdef',
                       substring(md5('42' || CAST(o_orderkey AS VARCHAR)), i, 1))
                - 1) * power(16, 8 - i))) + 0.5) / 4294967296.0 < 0.1
    )
    SELECT o_orderstatus, count(*) AS cnt FROM s GROUP BY o_orderstatus
    """,
)
def sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "SAMPLE",
                "data": {
                    "table": "orders",
                    "fraction": 0.1,
                    "seed": 42,
                    "method": "hash",
                    "keyColumn": "o_orderkey",
                },
            },
            {
                "id": "stage_1",
                "type": "GROUP",
                "data": {
                    "groupBy": ["o_orderstatus"],
                    "aggregations": [{"function": "COUNT", "column": "*", "alias": "cnt"}],
                },
            },
        ],
    )
