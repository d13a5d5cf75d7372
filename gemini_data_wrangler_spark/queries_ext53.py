"""Round-2 extensions, batch 53: recursive CTE, LATERAL join, and
interval-to-month attribution — all routed through the engine's CUSTOM
stage, proving migrated flows can carry modern SQL surfaces end-to-end.

Scale notes:
- The RECURSIVE CTE (Spark ≥ 4.0 native, UNION ALL fixpoint) iterates
  ⌈log₂ max_key⌉ rounds on a bounded frontier — the same
  driver-coordinated-rounds shape as connected components, but executed
  wholly inside Catalyst. The dialect shim refuses UNION-distinct
  fixpoints (non-terminating on Spark); this is the terminating form.
- LATERAL top-n evaluates a correlated ORDER BY/LIMIT subquery per
  outer row; Catalyst rewrites it into a ranking window over the
  equi-join — same plan family as `window_rank_topn`, written the way
  migrated DuckDB flows write it.
- MONTH ATTRIBUTION splits each (order, ship] interval across calendar
  months with a sequence-explode bounded by the interval's month span —
  the capacity-planning allocation (order-days consumed per month).
  Month-grid cardinality bounds the explode fan-out per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register, run_stages
from gemini_data_wrangler_spark.sources.readers import sf_table


def _custom(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    return run_stages(
        spark, sf_dir, [{"id": "stage_0", "type": "CUSTOM", "data": {"sql": sql}}]
    )


# ---------------------------------------------------------------------------
# Recursive CTE: depth of each customer key in the implicit binary tree
# ---------------------------------------------------------------------------
_REC_SQL = """
    WITH RECURSIVE walk(k, node) AS (
      SELECT c_custkey, c_custkey FROM customer WHERE c_custkey < 512
      UNION ALL
      SELECT k, node div 2 FROM walk WHERE node > 1
    )
    SELECT k AS c_custkey, count(*) - 1 AS depth,
           sum(node) AS path_key_sum
    FROM walk GROUP BY k
"""


@register(
    "relational_recursive_tree",
    _REC_SQL.replace(" div 2", " // 2"),
)
def relational_recursive_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the CUSTOM stage: walk every customer key
    (< 512) up the implicit binary tree k → k div 2 to the root,
    reporting depth (⌊log₂ k⌋) and the sum of keys on the path — the
    hierarchy-walk shape (org charts, category trees, BOM rollups)
    Spark 4 executes natively as a UNION ALL fixpoint. Rounds =
    ⌈log₂ 512⌉ = 9; the frontier shrinks as keys reach the root. The
    dialect shim's UNION-distinct refusal guards the non-terminating
    variant; the oracle writes DuckDB's `//` integer division."""
    return _custom(spark, sf_dir, _REC_SQL)


# ---------------------------------------------------------------------------
# LATERAL correlated top-n through the CUSTOM stage
# ---------------------------------------------------------------------------
_LAT_SQL = """
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_custkey, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
"""


@register("join_lateral_topn", _LAT_SQL)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL top-n through the CUSTOM stage: the two
    richest customers per nation, written as the per-row subquery a
    migrated DuckDB/Postgres flow carries (Catalyst rewrites it into
    the same ranking-window-over-equi-join plan as
    `window_rank_topn` — same answer, same physical shape, different
    SQL surface)."""
    return _custom(spark, sf_dir, _LAT_SQL)


# ---------------------------------------------------------------------------
# Order-days attributed per calendar month (interval splitting)
# ---------------------------------------------------------------------------
@register(
    "ops_backlog_by_month",
    """
    WITH d AS (
      SELECT epoch_us(o.o_orderdate) AS a, epoch_us(f.ship) AS b,
             CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m0,
             CAST(date_trunc('month', f.ship) AS DATE) AS m1
      FROM orders o
      JOIN (SELECT l_orderkey, min(l_shipdate) AS ship FROM lineitem GROUP BY 1) f
        ON o.o_orderkey = f.l_orderkey
      WHERE f.ship > o.o_orderdate
    ), expl AS (
      SELECT a, b, unnest(generate_series(m0, m1, INTERVAL 1 MONTH)) AS mth
      FROM d
    ), clip AS (
      SELECT CAST(mth AS DATE) AS month,
             greatest(a, epoch_us(CAST(mth AS TIMESTAMP))) AS lo,
             least(b, epoch_us(CAST(mth AS TIMESTAMP) + INTERVAL 1 MONTH)) AS hi
      FROM expl
    )
    SELECT month, round(sum(hi - lo) / 86400000000.0, 6) AS order_days,
           count(*) AS n_order_slices
    FROM clip WHERE hi > lo GROUP BY month
    """,
)
def ops_backlog_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-days of open backlog attributed to each calendar month:
    every (order, first-ship) interval is split at month boundaries
    and each slice's duration lands in its month — the allocation
    behind capacity planning and revenue recognition (how much work
    was IN FLIGHT during March, not how much arrived). The
    sequence-explode fans out only to the months an interval spans;
    the month axis bounds the final aggregate. Cross-method anchor:
    total order_days equals `ops_little_law`'s Σdurations."""
    li = sf_table(spark, sf_dir, "lineitem")
    orders = sf_table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship"))
    d = (
        orders.join(first_ship, orders["o_orderkey"] == first_ship["l_orderkey"])
        .filter(F.col("ship") > F.col("o_orderdate"))
        .select(
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("a"),
            F.unix_micros(F.col("ship").cast("timestamp")).alias("b"),
            F.date_trunc("month", "o_orderdate").alias("m0"),
            F.date_trunc("month", "ship").alias("m1"),
        )
    )
    expl = d.select(
        "a",
        "b",
        F.explode(
            F.sequence("m0", "m1", F.expr("INTERVAL 1 MONTH"))
        ).alias("mth"),
    )
    clip = expl.select(
        F.col("mth").cast("date").alias("month"),
        F.greatest("a", F.unix_micros(F.col("mth"))).alias("lo"),
        F.least(
            "b", F.unix_micros(F.col("mth") + F.expr("INTERVAL 1 MONTH"))
        ).alias("hi"),
    )
    return (
        clip.filter(F.col("hi") > F.col("lo"))
        .groupBy("month")
        .agg(
            F.round(F.sum(F.col("hi") - F.col("lo")) / 86400000000.0, 6).alias(
                "order_days"
            ),
            F.count(F.lit(1)).alias("n_order_slices"),
        )
    )
