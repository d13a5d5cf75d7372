"""Round-2 extensions, batch 40: Hilbert-curve clustering plan.

Scale notes: the canonical iterative xy2d Hilbert transform is a
SEQUENTIAL recurrence over bit levels — expressed as unrolled projection
layers it survives analysis but Catalyst's projection collapse inlines
each level's (x, y) into the next, doubling references per level
(4^16-leaf expression tree → driver OOM, observed). The fix is the same
one the EWMA/Holt recurrences use: ONE fold expression with a struct
accumulator (`aggregate` in Spark, `list_reduce` in DuckDB), linear in
the level count and evaluated iteratively at runtime — pure integer
arithmetic, identical on both engines, JVM-only on the Spark side. File
assignment reuses the distributed two-level rank + row-local ntile.
Hilbert's locality beats Morton's (consecutive curve positions are
always grid neighbors; Morton jumps at quadrant boundaries) — asserted
against the Z-order plan in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


_H_ORDER = 16  # 16-bit coords → 2^32 curve positions
_H_FILES = 64
_H_MAX = (1 << _H_ORDER) - 1  # n-1 for the canonical rotate/flip

# The per-level recurrence, written once with placeholders so the Spark
# and DuckDB texts are the SAME arithmetic modulo syntax:
#   rx = (x & s) > 0, ry = (y & s) > 0
#   d += s·s·(rx=0 ? ry : (ry=1 ? 2 : 3))
#   ry=0 → flip-if-rx then swap: x' = rx ? n-1-y : y ; y' = rx ? n-1-x : x
_SPARK_FOLD = f"""
aggregate(
  sequence({_H_ORDER - 1}, 0, -1),
  named_struct('x', cast(ck as bigint), 'y', cast(dy as bigint),
               'd', cast(0 as bigint)),
  (acc, k) -> named_struct(
    'x', CASE WHEN (acc.y & shiftleft(cast(1 as bigint), k)) = 0
              THEN CASE WHEN (acc.x & shiftleft(cast(1 as bigint), k)) > 0
                        THEN {_H_MAX} - acc.y ELSE acc.y END
              ELSE acc.x END,
    'y', CASE WHEN (acc.y & shiftleft(cast(1 as bigint), k)) = 0
              THEN CASE WHEN (acc.x & shiftleft(cast(1 as bigint), k)) > 0
                        THEN {_H_MAX} - acc.x ELSE acc.x END
              ELSE acc.y END,
    'd', acc.d + shiftleft(cast(1 as bigint), k) * shiftleft(cast(1 as bigint), k)
           * (CASE WHEN (acc.x & shiftleft(cast(1 as bigint), k)) = 0
                   THEN CASE WHEN (acc.y & shiftleft(cast(1 as bigint), k)) > 0
                             THEN 1 ELSE 0 END
                   ELSE CASE WHEN (acc.y & shiftleft(cast(1 as bigint), k)) > 0
                             THEN 2 ELSE 3 END END)),
  acc -> acc.d
)
"""

# DuckDB side: the same recurrence as 16 CHAINED CTE LAYERS. A
# list_reduce with a struct accumulator evaluates the chained lambda
# INCORRECTLY in this DuckDB build (field cross-talk after ~14 chained
# applications — each single application is right, the chain is not),
# so the oracle unrolls to projection layers instead; DuckDB projections
# reference operator outputs (no exponential expression inlining, unlike
# Catalyst's collapse-projections — which is why the SPARK side uses the
# fold and NOT layers; each engine gets the shape its optimizer handles).


def _duck_hilbert_layers() -> tuple[str, str]:
    n = 1 << _H_ORDER
    layers = []
    prev = "base"
    for i, s in enumerate(1 << k for k in range(_H_ORDER - 1, -1, -1)):
        cur = f"l{i}"
        layers.append(f"""
    {cur} AS (
      SELECT o_orderkey, ck, dy,
        CASE WHEN (y & {s}) = 0
             THEN CASE WHEN (x & {s}) > 0 THEN {n - 1} - y ELSE y END
             ELSE x END AS x,
        CASE WHEN (y & {s}) = 0
             THEN CASE WHEN (x & {s}) > 0 THEN {n - 1} - x ELSE x END
             ELSE y END AS y,
        d + {s * s} * (CASE WHEN (x & {s}) = 0
                            THEN CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END
                            ELSE CASE WHEN (y & {s}) > 0 THEN 2 ELSE 3 END
                       END) AS d
      FROM {prev}
    )""")
        prev = cur
    return ", ".join(layers), prev


_DUCK_LAYERS, _DUCK_LAST = _duck_hilbert_layers()

@register(
    "layout_hilbert_plan",
    f"""
    WITH keyed AS (
      SELECT o_orderkey,
             (o_custkey & 65535) AS ck,
             (date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) & 65535) AS dy
      FROM orders
    ), base AS (
      SELECT o_orderkey, ck, dy,
             CAST(ck AS BIGINT) AS x, CAST(dy AS BIGINT) AS y,
             CAST(0 AS BIGINT) AS d
      FROM keyed
    ), {_DUCK_LAYERS},
    filed AS (
      SELECT ck, dy, ntile({_H_FILES}) OVER (ORDER BY d, o_orderkey) AS file_id
      FROM {_DUCK_LAST}
    )
    SELECT file_id, count(*) AS n_rows,
           min(ck) AS ck_min, max(ck) AS ck_max,
           min(dy) AS dy_min, max(dy) AS dy_max
    FROM filed GROUP BY file_id
    """,
)
def layout_hilbert_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering plan over (custkey, order day) — the
    stronger-locality alternative to `layout_zorder_plan`: consecutive
    Hilbert positions are always grid neighbors where Morton jumps at
    quadrant boundaries, so per-file 2-D zones come out tighter (fewer
    files scanned per predicate — the point of clustered layout; the
    lakehouse implementations that cluster on multiple columns use
    exactly this curve). The canonical xy2d transform runs as one
    linear fold expression (see module docstring for why NOT unrolled
    projections); file assignment is the distributed two-level rank +
    row-local ntile — no single-partition window over raw rows."""
    from gemini_data_wrangler_spark.operators.window import (
        ntile_from_rank,
        two_level_rank,
    )

    orders = sf_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderkey",
        F.expr("o_custkey & 65535").alias("ck"),
        F.expr(
            "datediff(to_date(o_orderdate), to_date('1995-01-01')) & 65535"
        ).alias("dy"),
    )
    # Materialize hval once, post-exchange: the fold is referenced by both
    # two_level_rank branches (window + block counts) AND twice per row
    # (rank key + block coarsening); left lazy on a single-split scan the
    # 16-step recurrence would run up to 4x, single-threaded.
    h = (
        keyed.repartition(spark.sparkContext.defaultParallelism)
        .withColumn("hval", F.expr(_SPARK_FOLD))
        .localCheckpoint()
    )
    ranked = two_level_rank(
        h,
        key=F.col("hval"),
        tiebreaks=[F.col("o_orderkey")],
        block=F.shiftright(F.col("hval"), 24),
    )
    with_n = ranked.crossJoin(
        F.broadcast(orders.agg(F.count(F.lit(1)).alias("_n")))
    )
    filed = with_n.withColumn(
        "file_id", ntile_from_rank(F.col("_grank"), F.col("_n"), _H_FILES)
    )
    return filed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ck").alias("ck_min"),
        F.max("ck").alias("ck_max"),
        F.min("dy").alias("dy_min"),
        F.max("dy").alias("dy_max"),
    )
