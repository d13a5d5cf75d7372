"""TPC-H-style headline queries, adapted to the driver's star schema and
expressed through the stage IR (JOIN/FILTER/GROUP/TOPK stages + expression
columns) — the analytical workloads a user of the reference would run via
CUSTOM SQL, here first-class pipelines.

These are the bench headliners: multi-way joins with broadcastable dims,
expression aggregates, and top-k — the plans that must hold up at 100 TB
(broadcast joins for nation/region/customer dims, partial aggregation
before the shuffle, TakeOrderedAndProject for top-k).

Adaptations to the driver schema (TESTDATA.md): no ship/commit/receipt
distinction beyond l_shipdate, no shipmode/shipinstruct, orders has no
clerk/comment — filters re-targeted to existing columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register, run_stages
from gemini_data_wrangler_spark.sources.readers import sf_table

# ---------------------------------------------------------------------------
# Q1: pricing summary report (FILTER + GROUP with expression aggregates)
# ---------------------------------------------------------------------------
_Q1_ORACLE = """
    SELECT l_returnflag, l_linestatus,
           round(SUM(l_quantity), 2) AS sum_qty,
           round(SUM(l_extendedprice), 2) AS sum_base_price,
           round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(AVG(l_quantity), 6) AS avg_qty,
           round(AVG(l_extendedprice), 6) AS avg_price,
           round(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1_pricing_summary", _Q1_ORACLE)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "FILTER",
                "data": {
                    "table": "lineitem",
                    "column": "l_shipdate",
                    "operator": "<=",
                    "value": "1998-09-02 00:00:00",
                },
            },
            {
                "id": "stage_1",
                "type": "GROUP",
                "data": {
                    "groupBy": ["l_returnflag", "l_linestatus"],
                    "aggregations": [
                        {"function": "SUM", "column": "l_quantity", "alias": "_sq"},
                        {"function": "SUM", "column": "l_extendedprice", "alias": "_sbp"},
                        {"function": "SUM", "column": "l_extendedprice * (1 - l_discount)", "alias": "_sdp"},
                        {"function": "SUM", "column": "l_extendedprice * (1 - l_discount) * (1 + l_tax)", "alias": "_sc"},
                        {"function": "AVG", "column": "l_quantity", "alias": "_aq"},
                        {"function": "AVG", "column": "l_extendedprice", "alias": "_ap"},
                        {"function": "AVG", "column": "l_discount", "alias": "_ad"},
                        {"function": "COUNT", "column": "*", "alias": "count_order"},
                    ],
                },
            },
        ],
    )
    return df.select(
        "l_returnflag",
        "l_linestatus",
        F.round("_sq", 2).alias("sum_qty"),
        F.round("_sbp", 2).alias("sum_base_price"),
        F.round("_sdp", 2).alias("sum_disc_price"),
        F.round("_sc", 2).alias("sum_charge"),
        F.round("_aq", 6).alias("avg_qty"),
        F.round("_ap", 6).alias("avg_price"),
        F.round("_ad", 6).alias("avg_disc"),
        "count_order",
    )


# ---------------------------------------------------------------------------
# Q3: shipping priority (3-way join + expression agg + deterministic top-k)
# ---------------------------------------------------------------------------
_Q3_ORACLE = """
    SELECT l_orderkey,
           round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY SUM(l_extendedprice * (1 - l_discount)) DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
"""


@register("tpch_q3_shipping_priority", _Q3_ORACLE)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "FILTER",
                "data": {"table": "customer", "column": "c_mktsegment", "operator": "=", "value": "BUILDING"},
            },
            {
                "id": "stage_1",
                "type": "FILTER",
                "data": {"table": "orders", "column": "o_orderdate", "operator": "<", "value": "1995-03-15 00:00:00"},
            },
            {
                "id": "stage_2",
                "type": "FILTER",
                "data": {"table": "lineitem", "column": "l_shipdate", "operator": ">", "value": "1995-03-15 00:00:00"},
            },
            {
                "id": "stage_3",
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "result_stage_1_filter",
                    "rightTable": "result_stage_0_filter",
                    "leftKey": "o_custkey",
                    "rightKey": "c_custkey",
                    "broadcast": "right",
                },
            },
            {
                "id": "stage_4",
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "result_stage_2_filter",
                    "rightTable": "result_stage_3_join",
                    "leftKey": "l_orderkey",
                    "rightKey": "o_orderkey",
                },
            },
            {
                "id": "stage_5",
                "type": "GROUP",
                "data": {
                    "groupBy": ["l_orderkey", "o_orderdate", "o_orderpriority"],
                    "aggregations": [
                        {"function": "SUM", "column": "l_extendedprice * (1 - l_discount)", "alias": "_rev"}
                    ],
                },
            },
            {
                "id": "stage_6",
                "type": "TOPK",
                "data": {
                    "n": 10,
                    "orderBy": [
                        {"column": "_rev", "direction": "DESC"},
                        {"column": "o_orderdate", "direction": "ASC"},
                        {"column": "l_orderkey", "direction": "ASC"},
                    ],
                },
            },
        ],
    )
    return df.select(
        "l_orderkey", F.round("_rev", 2).alias("revenue"), "o_orderdate", "o_orderpriority"
    )


# ---------------------------------------------------------------------------
# Q5: local supplier volume (5-way join through dims; broadcast the dims)
# ---------------------------------------------------------------------------
_Q5_ORACLE = """
    SELECT n_name,
           round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC
"""


@register("tpch_q5_local_supplier", _Q5_ORACLE)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The two-column supplier join (l_suppkey AND c_nationkey = s_nationkey)
    # exceeds the single-key JOIN stage, so the tail is a CUSTOM stage over
    # the stage results — exactly how the reference reaches beyond its
    # algebra (ui/src/sqlGenerator.ts:101-106).
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "FILTER",
                "data": {
                    "table": "orders",
                    "conditions": [
                        {"column": "o_orderdate", "operator": ">=", "value": "1994-01-01 00:00:00"},
                        {"column": "o_orderdate", "operator": "<", "value": "1995-01-01 00:00:00", "logic": "AND"},
                    ],
                },
            },
            {
                "id": "stage_1",
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "result_stage_0_filter",
                    "rightTable": "customer",
                    "leftKey": "o_custkey",
                    "rightKey": "c_custkey",
                },
            },
            {
                "id": "stage_2",
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "lineitem",
                    "rightTable": "result_stage_1_join",
                    "leftKey": "l_orderkey",
                    "rightKey": "o_orderkey",
                },
            },
            {
                "id": "stage_3",
                "type": "CUSTOM",
                "data": {
                    "sql": """
                    SELECT n_name,
                           SUM(l_extendedprice * (1 - l_discount)) AS _rev
                    FROM result_stage_2_join t
                    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                    JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
                    WHERE r_name = 'ASIA'
                    GROUP BY n_name
                    """
                },
            },
            {
                "id": "stage_4",
                "type": "SORT",
                "data": {"orderBy": [{"column": "_rev", "direction": "DESC"}]},
            },
        ],
    )
    return df.select("n_name", F.round("_rev", 2).alias("revenue"))


# ---------------------------------------------------------------------------
# Q6: forecast revenue change (pure FILTER + global AGGREGATE — pushdown demo)
# ---------------------------------------------------------------------------
_Q6_ORACLE = """
    SELECT round(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
"""


@register("tpch_q6_forecast_revenue", _Q6_ORACLE)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "FILTER",
                "data": {
                    "table": "lineitem",
                    "conditions": [
                        {"column": "l_shipdate", "operator": ">=", "value": "1994-01-01 00:00:00"},
                        {"column": "l_shipdate", "operator": "<", "value": "1995-01-01 00:00:00", "logic": "AND"},
                        {"column": "l_discount", "operator": ">=", "value": 0.05, "logic": "AND"},
                        {"column": "l_discount", "operator": "<=", "value": 0.07, "logic": "AND"},
                        {"column": "l_quantity", "operator": "<", "value": 24, "logic": "AND"},
                    ],
                },
            },
            {
                "id": "stage_1",
                "type": "AGGREGATE",
                "data": {
                    "aggregations": [
                        {"function": "SUM", "column": "l_extendedprice * l_discount", "alias": "_rev"}
                    ]
                },
            },
        ],
    )
    return df.select(F.round("_rev", 2).alias("revenue"))


# ---------------------------------------------------------------------------
# Q10: returned-item reporting (join + group on customer, top 20 by revenue)
# ---------------------------------------------------------------------------
_Q10_ORACLE = """
    SELECT c_custkey, c_name,
           round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1993-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1994-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY SUM(l_extendedprice * (1 - l_discount)) DESC, c_custkey ASC
    LIMIT 20
"""


@register("tpch_q10_returned_items", _Q10_ORACLE)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "FILTER",
                "data": {
                    "table": "orders",
                    "conditions": [
                        {"column": "o_orderdate", "operator": ">=", "value": "1993-10-01 00:00:00"},
                        {"column": "o_orderdate", "operator": "<", "value": "1994-01-01 00:00:00", "logic": "AND"},
                    ],
                },
            },
            {
                "id": "stage_1",
                "type": "FILTER",
                "data": {"table": "lineitem", "column": "l_returnflag", "operator": "=", "value": "R"},
            },
            {
                "id": "stage_2",
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "result_stage_1_filter",
                    "rightTable": "result_stage_0_filter",
                    "leftKey": "l_orderkey",
                    "rightKey": "o_orderkey",
                },
            },
            {
                "id": "stage_3",
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "result_stage_2_join",
                    "rightTable": "customer",
                    "leftKey": "o_custkey",
                    "rightKey": "c_custkey",
                },
            },
            {
                "id": "stage_4",
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "result_stage_3_join",
                    "rightTable": "nation",
                    "leftKey": "c_nationkey",
                    "rightKey": "n_nationkey",
                    "broadcast": "right",
                },
            },
            {
                "id": "stage_5",
                "type": "GROUP",
                "data": {
                    "groupBy": ["c_custkey", "c_name", "c_acctbal", "n_name"],
                    "aggregations": [
                        {"function": "SUM", "column": "l_extendedprice * (1 - l_discount)", "alias": "_rev"}
                    ],
                },
            },
            {
                "id": "stage_6",
                "type": "TOPK",
                "data": {
                    "n": 20,
                    "orderBy": [
                        {"column": "_rev", "direction": "DESC"},
                        {"column": "c_custkey", "direction": "ASC"},
                    ],
                },
            },
        ],
    )
    return df.select(
        "c_custkey", "c_name", F.round("_rev", 2).alias("revenue"), "c_acctbal", "n_name"
    )


# ---------------------------------------------------------------------------
# Q4-style: order priority checking — EXISTS → left-semi join with a
# compound (equi + range) condition
# ---------------------------------------------------------------------------
@register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS compiles to a left-semi join (compound equi+range condition):
    the probe side streams, no duplication from multiple matches, and the
    aggregation stays partial-before-shuffle."""
    orders = sf_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = sf_table(spark, sf_dir, "lineitem")
    sem = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > orders["o_orderdate"]),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# Q12-style: CASE aggregation over a join (high/low priority line counts)
# ---------------------------------------------------------------------------
@register(
    "tpch_q12_priority_lines",
    """
    SELECT l_returnflag,
           SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
           SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = sf_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q13-style: customer order-count distribution — left outer join + two-level
# aggregation (the canonical "count the zeros too" shape)
# ---------------------------------------------------------------------------
@register(
    "tpch_q13_custdist",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = sf_table(spark, sf_dir, "customer")
    orders = sf_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q14-style: promo revenue — conditional aggregate ratio over a part join
# ---------------------------------------------------------------------------
@register(
    "tpch_q14_promo_revenue",
    """
    SELECT round(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    part = sf_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)) / F.sum(rev),
                6,
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q16-style: supplier count by part attributes — NOT-IN → anti-join on a
# filter subquery, then distinct-count aggregation
# ---------------------------------------------------------------------------
@register(
    "tpch_q16_parts_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (5, 10, 15, 20)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = sf_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(5, 10, 15, 20)
    )
    li = sf_table(spark, sf_dir, "lineitem")
    bad_supp = sf_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad_supp, li["l_suppkey"] == bad_supp["s_suppkey"], "left_anti")
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q18-style: large-volume orders — HAVING subquery → semi join on an
# aggregated frame
# ---------------------------------------------------------------------------
@register(
    "tpch_q18_large_orders",
    """
    SELECT c_name, o_orderkey, round(o_totalprice, 2) AS o_totalprice, sum_qty
    FROM (
      SELECT l_orderkey, round(SUM(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    ) big
    JOIN orders ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 150)
        .select("l_orderkey", F.round("_sq", 2).alias("sum_qty"))
    )
    orders = sf_table(spark, sf_dir, "orders")
    cust = sf_table(spark, sf_dir, "customer")
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select("c_name", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "sum_qty")
    )


# ---------------------------------------------------------------------------
# Q19-style: disjunctive predicate (OR of ANDs) — Catalyst must still push
# the common join key and fold the per-branch filters
# ---------------------------------------------------------------------------
@register(
    "tpch_q19_disjunctive_revenue",
    """
    SELECT round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem")
    part = sf_table(spark, sf_dir, "part")
    j = li.join(part, part["p_partkey"] == li["l_partkey"])
    br = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(br).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


# ---------------------------------------------------------------------------
# Q22-style: customers above the global positive-balance average with no
# orders — scalar subquery (broadcast one-row aggregate) + anti join
# ---------------------------------------------------------------------------
@register(
    "tpch_q22_dormant_rich_customers",
    """
    SELECT count(*) AS numcust, round(SUM(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery = one-row aggregate cross-joined (broadcast by
    construction); NOT EXISTS = left-anti join."""
    cust = sf_table(spark, sf_dir, "customer")
    orders = sf_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("_avg"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q2-style: min-cost supplier per part — correlated MIN subquery → window
# min-filter (one pass, no re-join of the aggregate)
# ---------------------------------------------------------------------------
@register(
    "tpch_q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem WHERE l_quantity > 0 GROUP BY l_partkey, l_suppkey
    )
    SELECT c.l_partkey AS p_key, s_name, round(c.unit_cost, 6) AS unit_cost
    FROM costs c JOIN supplier ON s_suppkey = c.l_suppkey
    WHERE c.unit_cost = (SELECT min(unit_cost) FROM costs c2 WHERE c2.l_partkey = c.l_partkey)
      AND c.l_partkey < 200
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated 'equal to the per-group minimum' subquery compiles to
    a window MIN + filter — one shuffle on the correlation key instead of
    computing the aggregate twice and re-joining."""
    from pyspark.sql.window import Window

    li = sf_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    best = (
        costs.withColumn("_min", F.min("unit_cost").over(w))
        .filter((F.col("unit_cost") == F.col("_min")) & (F.col("l_partkey") < 200))
        .drop("_min")
    )
    supp = sf_table(spark, sf_dir, "supplier")
    return best.join(supp, best["l_suppkey"] == supp["s_suppkey"]).select(
        F.col("l_partkey").alias("p_key"), "s_name", F.round("unit_cost", 6).alias("unit_cost")
    )


# ---------------------------------------------------------------------------
# Q7-style: volume shipping between two nations by year
# ---------------------------------------------------------------------------
@register(
    "tpch_q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year, round(SUM(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      WHERE ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
          OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem")
    supp = sf_table(spark, sf_dir, "supplier")
    orders = sf_table(spark, sf_dir, "orders")
    cust = sf_table(spark, sf_dir, "customer")
    nation = sf_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("_nk1"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("_nk2"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_nk2"))
        .filter(
            ((F.col("supp_nation") == "FRANCE") & (F.col("cust_nation") == "GERMANY"))
            | ((F.col("supp_nation") == "GERMANY") & (F.col("cust_nation") == "FRANCE"))
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q9-style: product-line profit by nation and year
# ---------------------------------------------------------------------------
@register(
    "tpch_q9_profit",
    """
    SELECT n_name AS nation, year(l_shipdate) AS o_year,
           round(SUM(l_extendedprice * (1 - l_discount)), 2) AS profit
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN part ON p_partkey = l_partkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%a%'
    GROUP BY n_name, year(l_shipdate)
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem")
    supp = sf_table(spark, sf_dir, "supplier")
    part = sf_table(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    nation = sf_table(spark, sf_dir, "nation")
    return (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(part, li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q11-style: important stock — HAVING against a global scalar aggregate
# ---------------------------------------------------------------------------
@register(
    "tpch_q11_important_stock",
    """
    WITH pv AS (
      SELECT l_partkey, SUM(l_extendedprice * l_quantity) AS value
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey AS p_key, round(value, 2) AS part_value
    FROM pv
    WHERE value > (SELECT SUM(value) * 0.001 FROM pv)
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global scalar threshold = one-row aggregate cross-joined (broadcast);
    the per-part aggregate is computed once and reused for both sides via
    persist — not recomputed per branch."""
    li = sf_table(spark, sf_dir, "lineitem")
    pv = (
        li.groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
        .persist()
    )
    thresh = pv.agg((F.sum("value") * 0.001).alias("_t"))
    return (
        pv.crossJoin(F.broadcast(thresh))
        .filter(F.col("value") > F.col("_t"))
        .select(F.col("l_partkey").alias("p_key"), F.round("value", 2).alias("part_value"))
    )


# ---------------------------------------------------------------------------
# Q15-style: top supplier — aggregate equal to the max of the aggregate
# ---------------------------------------------------------------------------
@register(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
        .persist()
    )
    mx = revenue.agg(F.max("total_revenue").alias("_mx"))
    supp = sf_table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(supp, F.col("supplier_no") == supp["s_suppkey"])
        .select("s_suppkey", "s_name", F.round("total_revenue", 2).alias("total_revenue"))
    )


# ---------------------------------------------------------------------------
# Q17-style: small-quantity revenue — correlated AVG subquery → groupwise
# aggregate join
# ---------------------------------------------------------------------------
@register(
    "tpch_q17_small_quantity",
    """
    SELECT round(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated AVG subquery becomes a per-part aggregate joined back
    on the correlation key — AQE broadcasts the (small) aggregate side."""
    li = sf_table(spark, sf_dir, "lineitem")
    part = sf_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    avg_qty = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("_limit")
    )
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(avg_qty, li["l_partkey"] == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_limit"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q20/Q21-style: suppliers with heavy shipments to active customers —
# chained semi joins over aggregates
# ---------------------------------------------------------------------------
@register(
    "tpch_q20_heavy_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING SUM(l_quantity) > 500
    )
    AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey < 3)
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= "1996-01-01")
    heavy = (
        li.groupBy("l_suppkey").agg(F.sum("l_quantity").alias("_sq")).filter(F.col("_sq") > 500)
    )
    nations = sf_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") < 3)
    supp = sf_table(spark, sf_dir, "supplier")
    return (
        supp.join(heavy, supp["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .join(F.broadcast(nations), supp["s_nationkey"] == nations["n_nationkey"], "left_semi")
        .select("s_suppkey", "s_name")
    )


# ---------------------------------------------------------------------------
# Q8-style: national market share — conditional-sum ratio over a 7-way join
# ---------------------------------------------------------------------------
@register(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           round(SUM(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
                 / SUM(volume), 6) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s_nationkey
      WHERE r_name = 'AMERICA' AND p_name LIKE '%a%'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (reference runs it via CUSTOM SQL): the market-share
    ratio is a single grouped pass with a conditional sum — no second scan.
    Dim tables (part-filtered, nation, region) broadcast; the only large
    shuffles are lineitem⋈orders and orders⋈customer on their keys."""
    li = sf_table(spark, sf_dir, "lineitem")
    part = sf_table(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    supp = sf_table(spark, sf_dir, "supplier")
    orders = sf_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = sf_table(spark, sf_dir, "customer")
    nation = sf_table(spark, sf_dir, "nation")
    region = sf_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nation.select(F.col("n_nationkey").alias("_cnk"), F.col("n_regionkey").alias("_crk"))
    n2 = nation.select(F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("nation"))
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), cust["c_nationkey"] == F.col("_cnk"))
        .join(F.broadcast(region), F.col("_crk") == region["r_regionkey"])
        .join(F.broadcast(n2), supp["s_nationkey"] == F.col("_snk"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "nation")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_1", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Q21-style: suppliers who kept orders waiting — double-correlated
# EXISTS / NOT EXISTS, rewritten as one per-order aggregate
# ---------------------------------------------------------------------------
@register(
    "tpch_q21_waiting_suppliers",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape, 'late' adapted to this schema (no receipt/commit
    dates): a line is late when it ships >60 days after the order date.

    Both correlated subqueries correlate on l_orderkey, so instead of two
    extra joins against lineitem (the textbook EXISTS→semi / NOT EXISTS→anti
    plan, which scans the fact table three times) we compute ONE per-order
    aggregate — distinct supplier count and distinct *late* supplier count —
    and join it back: l1 qualifies iff it is late, the order has another
    supplier, and l1's supplier is the only late one. One lineitem shuffle
    on l_orderkey serves both predicates; at 100 TB that's the difference
    between one wide shuffle and three."""
    orders = sf_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = sf_table(spark, sf_dir, "lineitem")
    flagged = li.join(
        orders.select("o_orderkey", "o_orderdate"), li["l_orderkey"] == F.col("o_orderkey")
    ).withColumn("_late", F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
    # Round 7: the per-order distinct-supplier counts moved from a
    # groupBy + join-back (which scanned and shuffled `flagged` twice) to
    # window aggregates over the SAME l_orderkey partitioning — one
    # shuffle of the joined stream serves both predicates for real now.
    # size(collect_set(...)) == countDistinct per order (nulls excluded
    # from the set the same way countDistinct ignores them; per-order set
    # sizes are bounded by the suppliers-per-order fan-out).
    wo = Window.partitionBy("l_orderkey")
    l1 = (
        flagged.withColumn("_n_supp", F.size(F.collect_set("l_suppkey").over(wo)))
        .withColumn(
            "_n_late_supp",
            F.size(
                F.collect_set(F.when(F.col("_late"), F.col("l_suppkey"))).over(wo)
            ),
        )
        .filter(F.col("_late") & (F.col("_n_supp") > 1) & (F.col("_n_late_supp") == 1))
    )
    supp = sf_table(spark, sf_dir, "supplier")
    return (
        l1.join(supp, l1["l_suppkey"] == supp["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
