"""Round-2 extensions, batch 86: unsupervised Fellegi-Sunter EM fit and
4-cycle counting on the near-dup graph.

Scale notes:
- FS-EM is the unsupervised parameter fit behind probabilistic record
  linkage (Winkler's EM formulation): blocked candidate pairs reduce to
  the COMPARISON-PATTERN HISTOGRAM (2^3 = 8 cells here — agreement bits
  x counts, one grouped count over the blocked join), and the 15 EM
  iterations fold over that constant-size table with a struct
  accumulator — the sufficient-statistic + sorted-fold recipe again, so
  (p, m_i, u_i) match DuckDB value-for-value. At 100 TB only the
  blocked pair enumeration touches data, and it inherits the ER
  family's bounded-block guarantees.
- 4-CYCLE COUNT extends the triangle/wedge toolkit: rectangles are the
  canonical "two items share two contexts" signal (co-citation,
  spam-farm detection). #C4 = 1/2 * sum over unordered vertex pairs of
  C(codeg, 2); codegrees come from the wedge self-join (sum deg^2 work,
  LSH-bounded degrees on the near-dup graph), all integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Fellegi-Sunter EM over the blocked customer-pair comparison histogram
# ---------------------------------------------------------------------------
_FS_ITERS = 15
_FS_EPS = 1e-6
_FS_INIT = (0.1, 0.8, 0.2)  # p, every m_i, every u_i


def _fs_spark_fold() -> str:
    pm = "(st.p * (CASE WHEN c.g1 = 1 THEN st.m1 ELSE 1.0D - st.m1 END)" \
         " * (CASE WHEN c.g2 = 1 THEN st.m2 ELSE 1.0D - st.m2 END)" \
         " * (CASE WHEN c.g3 = 1 THEN st.m3 ELSE 1.0D - st.m3 END))"
    pu = "((1.0D - st.p) * (CASE WHEN c.g1 = 1 THEN st.u1 ELSE 1.0D - st.u1 END)" \
         " * (CASE WHEN c.g2 = 1 THEN st.u2 ELSE 1.0D - st.u2 END)" \
         " * (CASE WHEN c.g3 = 1 THEN st.u3 ELSE 1.0D - st.u3 END))"
    w = f"({pm} / ({pm} + {pu}))"
    zero = (
        "named_struct('wn', 0.0D, 'n', 0.0D,"
        " 'a1', 0.0D, 'a2', 0.0D, 'a3', 0.0D,"
        " 'b1', 0.0D, 'b2', 0.0D, 'b3', 0.0D)"
    )
    merge = (
        "named_struct("
        f"'wn', a.wn + c.n * {w}, 'n', a.n + c.n, "
        f"'a1', a.a1 + c.n * {w} * c.g1, "
        f"'a2', a.a2 + c.n * {w} * c.g2, "
        f"'a3', a.a3 + c.n * {w} * c.g3, "
        f"'b1', a.b1 + c.n * (1.0D - {w}) * c.g1, "
        f"'b2', a.b2 + c.n * (1.0D - {w}) * c.g2, "
        f"'b3', a.b3 + c.n * (1.0D - {w}) * c.g3)"
    )

    def clamp(x: str) -> str:
        return f"greatest({_FS_EPS}D, least(1.0D - {_FS_EPS}D, {x}))"

    finish = (
        "named_struct("
        f"'p', {clamp('s.wn / s.n')}, "
        f"'m1', {clamp('s.a1 / s.wn')}, 'm2', {clamp('s.a2 / s.wn')}, "
        f"'m3', {clamp('s.a3 / s.wn')}, "
        f"'u1', {clamp('s.b1 / (s.n - s.wn)')}, "
        f"'u2', {clamp('s.b2 / (s.n - s.wn)')}, "
        f"'u3', {clamp('s.b3 / (s.n - s.wn)')})"
    )
    step = f"aggregate(cells, {zero}, (a, c) -> {merge}, s -> {finish})"
    p0, m0, u0 = _FS_INIT
    init = (
        f"named_struct('p', {p0}D, 'm1', {m0}D, 'm2', {m0}D, 'm3', {m0}D,"
        f" 'u1', {u0}D, 'u2', {u0}D, 'u3', {u0}D)"
    )
    return f"aggregate(sequence(1, {_FS_ITERS}), {init}, (st, it) -> {step})"


def _fs_oracle() -> str:
    pm = "(p * (CASE WHEN c.g1 = 1 THEN m1 ELSE 1.0 - m1 END)" \
         " * (CASE WHEN c.g2 = 1 THEN m2 ELSE 1.0 - m2 END)" \
         " * (CASE WHEN c.g3 = 1 THEN m3 ELSE 1.0 - m3 END))"
    pu = "((1.0 - p) * (CASE WHEN c.g1 = 1 THEN u1 ELSE 1.0 - u1 END)" \
         " * (CASE WHEN c.g2 = 1 THEN u2 ELSE 1.0 - u2 END)" \
         " * (CASE WHEN c.g3 = 1 THEN u3 ELSE 1.0 - u3 END))"
    w = f"({pm} / ({pm} + {pu}))"

    def s(term: str) -> str:
        return f"list_reduce(list_transform(cs, c -> ({term})), (a, x) -> a + x)"

    def clamp(x: str) -> str:
        return f"greatest({_FS_EPS}, least(1.0 - {_FS_EPS}, {x}))"

    sums = (
        f"{s('c.n * ' + w)} AS wn, {s('c.n')} AS n, "
        f"{s('c.n * ' + w + ' * c.g1')} AS a1, "
        f"{s('c.n * ' + w + ' * c.g2')} AS a2, "
        f"{s('c.n * ' + w + ' * c.g3')} AS a3, "
        f"{s('c.n * (1.0 - ' + w + ') * c.g1')} AS b1, "
        f"{s('c.n * (1.0 - ' + w + ') * c.g2')} AS b2, "
        f"{s('c.n * (1.0 - ' + w + ') * c.g3')} AS b3"
    )
    p0, m0, u0 = _FS_INIT
    layers = [
        f"it0 AS (SELECT {p0} AS p, {m0} AS m1, {m0} AS m2, {m0} AS m3,"
        f" {u0} AS u1, {u0} AS u2, {u0} AS u3)"
    ]
    for i in range(1, _FS_ITERS + 1):
        layers.append(
            f"hg{i} AS MATERIALIZED (SELECT {sums}"
            f" FROM it{i - 1} CROSS JOIN cells)"
        )
        layers.append(
            f"it{i} AS MATERIALIZED (SELECT {clamp('wn / n')} AS p,"
            f" {clamp('a1 / wn')} AS m1, {clamp('a2 / wn')} AS m2,"
            f" {clamp('a3 / wn')} AS m3,"
            f" {clamp('b1 / (n - wn)')} AS u1, {clamp('b2 / (n - wn)')} AS u2,"
            f" {clamp('b3 / (n - wn)')} AS u3 FROM hg{i})"
        )
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS g1,
             CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 500 THEN 1 ELSE 0 END AS g2,
             CASE WHEN floor(a.c_acctbal / 1000) = floor(b.c_acctbal / 1000)
                  THEN 1 ELSE 0 END AS g3
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    ), hist AS MATERIALIZED (
      SELECT g1, g2, g3, CAST(count(*) AS DOUBLE) AS n
      FROM pairs GROUP BY g1, g2, g3
    ), cells AS MATERIALIZED (
      SELECT list_sort(list(struct_pack(
               g1 := g1, g2 := g2, g3 := g3, n := n))) AS cs
      FROM hist
    ),
    {", ".join(layers)}
    SELECT round(p, 5) AS p_match,
           round(m1, 5) AS m_segment, round(m2, 5) AS m_acctbal,
           round(m3, 5) AS m_balbucket,
           round(u1, 5) AS u_segment, round(u2, 5) AS u_acctbal,
           round(u3, 5) AS u_balbucket
    FROM it{_FS_ITERS}
    """


@register("er_fellegi_sunter_em", _fs_oracle())
def er_fellegi_sunter_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised Fellegi-Sunter parameter fit by EM (Winkler): blocked
    customer pairs (same nation) reduce to the 8-cell comparison-pattern
    histogram over (segment equal, acctbal within 500, same acctbal
    thousand-bucket); 15 EM iterations fold over the sorted cell array (E-step
    responsibilities and M-step ratios in one pass, parameters clamped
    to [eps, 1-eps] identically on both engines). Output: the match
    prevalence and per-field m/u probabilities — the inputs every
    linkage weight table is built from."""
    cust = sf_table(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("ka"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("sa"),
        F.col("c_acctbal").alias("ba"),
    )
    b = cust.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("sb"),
        F.col("c_acctbal").alias("bb"),
    )
    pairs = (
        a.join(b, "nk")
        .filter(F.col("ka") < F.col("kb"))
        .select(
            F.when(F.col("sa") == F.col("sb"), 1).otherwise(0).alias("g1"),
            F.when(F.abs(F.col("ba") - F.col("bb")) <= 500, 1).otherwise(0).alias("g2"),
            F.when(
                F.floor(F.col("ba") / 1000) == F.floor(F.col("bb") / 1000), 1
            ).otherwise(0).alias("g3"),
        )
    )
    hist = pairs.groupBy("g1", "g2", "g3").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    packed = hist.agg(
        F.sort_array(F.collect_list(F.struct("g1", "g2", "g3", "n"))).alias("cells")
    )
    return packed.withColumn("st", F.expr(_fs_spark_fold())).select(
        F.round(F.col("st.p"), 5).alias("p_match"),
        F.round(F.col("st.m1"), 5).alias("m_segment"),
        F.round(F.col("st.m2"), 5).alias("m_acctbal"),
        F.round(F.col("st.m3"), 5).alias("m_balbucket"),
        F.round(F.col("st.u1"), 5).alias("u_segment"),
        F.round(F.col("st.u2"), 5).alias("u_acctbal"),
        F.round(F.col("st.u3"), 5).alias("u_balbucket"),
    )


# ---------------------------------------------------------------------------
# 4-cycle (rectangle) count on the near-dup graph
# ---------------------------------------------------------------------------
def _c4_oracle() -> str:
    from gemini_data_wrangler_spark.operators.dedup import ngram_jaccard_oracle_sql

    pairs = ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    return f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    adj AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS w FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    codeg AS (
      SELECT a1.u AS u, a2.w AS v, count(*) AS q
      FROM adj a1 JOIN adj a2 ON a1.w = a2.u AND a1.u < a2.w
      GROUP BY a1.u, a2.w
    )
    SELECT CAST(sum(q * (q - 1) / 2) / 2 AS BIGINT) AS n_four_cycles,
           count(*) AS n_coconnected_pairs,
           max(q) AS max_codegree
    FROM codeg
    """


@register("graph_four_cycles", _c4_oracle())
def graph_four_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-cycle (rectangle) count on the near-dup graph: codegrees
    from the wedge self-join on the midpoint (sum-of-deg^2 work,
    LSH-bounded degrees), then #C4 = 1/2 * sum C(codeg, 2) — each
    rectangle is counted once per diagonal pair. Rectangles are the
    "two documents share two near-dup contexts" template-farm signal
    that triangles miss. Integer arithmetic end to end."""
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    adj = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("w")
    ).union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("w")))
    a1 = adj.alias("a1")
    a2 = adj.select(F.col("u").alias("mid"), F.col("w").alias("v")).alias("a2")
    codeg = (
        a1.join(a2, (F.col("a1.w") == F.col("a2.mid")) & (F.col("a1.u") < F.col("a2.v")))
        .groupBy(F.col("a1.u").alias("u"), F.col("a2.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("q"))
    )
    return codeg.agg(
        (F.sum(F.col("q") * (F.col("q") - 1) / 2) / 2).cast("bigint").alias(
            "n_four_cycles"
        ),
        F.count(F.lit(1)).alias("n_coconnected_pairs"),
        F.max("q").alias("max_codegree"),
    )
