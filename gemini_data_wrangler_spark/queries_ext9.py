"""Pipeline-operations operators, round 6 — data-quality expectations,
CDC snapshot diff, and time-series gap-fill with forward-fill.

The data-ops layer every production pipeline needs around the analytics
engine (the reference has none of it — SURVEY.md §2.4); north-star scope,
exact DuckDB oracles.

Scale shapes:
- Expectations: ALL rules evaluate in ONE scan — each rule is a
  conditional-count aggregate, so adding a rule adds a column, not a pass.
  The per-rule output is produced by unpivoting the single aggregate row
  (stack), never by re-scanning per rule.
- CDC diff: one full outer join on the key, change classified by
  comparing payload hashes (computed map-side, so wide payloads compare
  as one long, not column-by-column across the shuffle). Emits only
  changed/added/removed keys — at 100 TB the unchanged majority never
  leaves the join.
- Gap-fill: the date spine is sequence(min, max) exploded from ONE
  aggregate row — thousands of rows at any SF, then a broadcast-able
  right join against the daily aggregate; forward-fill is
  last(ignorenulls) over date order partitioned by series (here one
  series — the window is tiny because the SPINE is tiny; per-series
  spines partition naturally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Data-quality expectations (one-scan rule battery)
# ---------------------------------------------------------------------------
_DQ_RULES: list[tuple[str, str]] = [
    # (rule name, SQL boolean VIOLATION predicate — ANSI, runs on both engines)
    ("totalprice_positive", "o_totalprice <= 0"),
    ("orderdate_in_range", "o_orderdate < '1992-01-01' OR o_orderdate >= '1999-01-01'"),
    ("status_in_domain", "o_orderstatus NOT IN ('O', 'F', 'P')"),
    ("custkey_not_null", "o_custkey IS NULL"),
    ("priority_prefix_digit", "substring(o_orderpriority, 1, 1) NOT IN ('1','2','3','4','5')"),
]


@register(
    "dq_expectations",
    "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, count(*) FILTER (WHERE {pred}) AS n_violations,"
        f" count(*) FILTER (WHERE {pred}) = 0 AS passed FROM orders"
        for name, pred in _DQ_RULES
    ),
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation count per data-quality rule over orders, all rules in one
    scan (conditional-count aggregates unpivoted with stack). The oracle
    spells each rule as its own aggregate — same numbers, N scans."""
    o = sf_table(spark, sf_dir, "orders")
    agg = o.agg(
        *[
            F.count_if(F.expr(pred)).alias(name)
            for name, pred in _DQ_RULES
        ]
    )
    stack_args = ", ".join(f"'{name}', {name}" for name, _ in _DQ_RULES)
    return agg.select(
        F.expr(f"stack({len(_DQ_RULES)}, {stack_args}) AS (rule, n_violations)")
    ).select("rule", "n_violations", (F.col("n_violations") == 0).alias("passed"))


# ---------------------------------------------------------------------------
# CDC snapshot diff (added / removed / changed)
# ---------------------------------------------------------------------------
@register(
    "cdc_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 13 <> 0
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_totalprice
      FROM orders
      WHERE o_orderkey % 11 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus <> n.o_orderstatus
       OR o.o_totalprice <> n.o_totalprice
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level diff of two snapshots (synthesized deterministically from
    orders: drop different key slices, flip some statuses): added /
    removed / changed keys only — unchanged rows are filtered inside the
    join, compared via a map-side payload hash."""
    o = sf_table(spark, sf_dir, "orders")
    old = (
        o.filter(F.col("o_orderkey") % 13 != 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    new = (
        o.filter(F.col("o_orderkey") % 11 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            "o_totalprice",
        )
    )

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col("o_orderkey").alias(f"_k_{tag}"),
            F.xxhash64("o_orderstatus", "o_totalprice").alias(f"_h_{tag}"),
        )

    return (
        hashed(old, "o")
        .join(hashed(new, "n"), F.col("_k_o") == F.col("_k_n"), "full_outer")
        .filter(
            F.col("_k_o").isNull()
            | F.col("_k_n").isNull()
            | (F.col("_h_o") != F.col("_h_n"))
        )
        .select(
            F.coalesce(F.col("_k_o"), F.col("_k_n")).alias("o_orderkey"),
            F.when(F.col("_k_o").isNull(), "added")
            .when(F.col("_k_n").isNull(), "removed")
            .otherwise("changed")
            .alias("change_type"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series gap-fill (zero-fill counts, forward-fill averages)
# ---------------------------------------------------------------------------
@register(
    "timeseries_gapfill",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
             max(o_totalprice) AS max_price
      FROM orders WHERE o_orderpriority = '1-URGENT'
      GROUP BY 1
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(
        (SELECT min(day) FROM daily), (SELECT max(day) FROM daily),
        INTERVAL 1 DAY)) AS DATE) AS day
    )
    SELECT s.day,
           COALESCE(d.n_orders, 0) AS n_orders,
           last_value(d.max_price IGNORE NULLS) OVER (
             ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS max_price_ff
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily urgent-order counts on a gap-free date spine: missing days
    zero-filled, max_price forward-filled from the last observed day."""
    daily = (
        sf_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_orders"), F.max("o_totalprice").alias("max_price"))
    )
    spine = daily.agg(F.min("day").alias("_lo"), F.max("day").alias("_hi")).select(
        F.explode(F.sequence("_lo", "_hi")).alias("day")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.last("max_price", ignorenulls=True).over(w).alias("max_price_ff"),
        )
    )


# ---------------------------------------------------------------------------
# Community detection (label propagation)
# ---------------------------------------------------------------------------
_LP_ITERATIONS = 4


def _label_prop_oracle_sql(iterations: int) -> str:
    """Deterministic synchronous label propagation unrolled into one CTE
    per round (all-integer state → exactly hash-comparable, unlike float
    ranks). Each round: every node adopts its neighbors' most frequent
    label, ties broken by smallest label — identical tie rule to
    ``operators/graphs.py::label_propagation``."""
    head = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 45
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
      SELECT src AS s, dst AS d FROM e0 UNION SELECT dst AS s, src AS d FROM e0
    ),
    l0 AS (SELECT DISTINCT s AS node, s AS label FROM und)"""
    rounds = "".join(
        f""",
    l{i} AS (
      SELECT node, label FROM (
        SELECT und.s AS node, l.label,
               row_number() OVER (PARTITION BY und.s
                                  ORDER BY count(*) DESC, l.label ASC) AS rk
        FROM und JOIN l{i - 1} l ON und.d = l.node
        GROUP BY und.s, l.label
      ) WHERE rk = 1
    )"""
        for i in range(1, iterations + 1)
    )
    return (
        head
        + rounds
        + f"""
    SELECT label, count(*) AS community_size FROM l{iterations}
    GROUP BY label
    """
    )


@register("graph_label_propagation", _label_prop_oracle_sql(_LP_ITERATIONS))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes from deterministic label propagation on the SPARSE
    part co-order graph (parts co-ordered with high quantity — many small
    components, so communities are non-trivial). Oracle: the fixed
    iteration count unrolls into chained CTEs with the same integer
    argmax tie rule; determinism + clique-separation also pinned in
    tests."""
    from gemini_data_wrangler_spark.operators.graphs import label_propagation

    # Staged once (round 7): both sides of the co-order self-join read
    # this filtered-distinct projection.
    li = (
        sf_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist()
    )
    edges = (
        li.select("l_orderkey", F.col("l_partkey").alias("src"))
        .join(li.select("l_orderkey", F.col("l_partkey").alias("dst")), "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return (
        label_propagation(edges, iterations=_LP_ITERATIONS)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("community_size"))
        .orderBy(F.col("community_size").desc(), "label")
    )
