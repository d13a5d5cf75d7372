"""Round-2 extensions, batch 43: dependence + profiling statistics —
mutual information, pairwise correlation matrix, functional-dependency
discovery, one-way ANOVA.

Scale notes:
- MUTUAL INFORMATION over two categorical columns is three hash
  aggregates (joint + two marginals) joined on low-cardinality keys —
  every shuffle is bounded by the attribute domain, not the row count,
  and partial aggregation collapses the scan side map-locally.
- The CORRELATION MATRIX is ONE full-scan aggregate producing every
  pairwise Pearson r simultaneously (Catalyst shares the scan across
  the corr() expressions; each is a streaming one-pass moment
  computation), then a constant-size unpivot. Adding columns widens the
  aggregate, never adds passes.
- FUNCTIONAL-DEPENDENCY profiling (X -> Y violation rate) is a
  per-candidate hash aggregate on the LHS key; candidates union into one
  plan. The LHS group count bounds the shuffle — same shape as any
  GROUP BY, skew handled by AQE.
- ANOVA reuses the same partial-aggregate shape: per-group moments, then
  a constant-size reduction to the F statistic. Nothing is quadratic;
  nothing leaves the executors but per-group scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Mutual information between order priority and order status
# ---------------------------------------------------------------------------
@register(
    "feature_mutual_information",
    """
    WITH joint AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             count(*) AS nxy FROM orders GROUP BY 1, 2
    ), tot AS (SELECT sum(nxy) AS n FROM joint),
    mx AS (SELECT x, sum(nxy) AS nx FROM joint GROUP BY x),
    my AS (SELECT y, sum(nxy) AS ny FROM joint GROUP BY y),
    mi AS (
      SELECT sum((CAST(nxy AS DOUBLE) / n) *
                 ln((CAST(nxy AS DOUBLE) * n) / (CAST(nx AS DOUBLE) * ny)))
               AS mi_nats
      FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
    ), hx AS (
      SELECT -sum((CAST(nx AS DOUBLE) / n) * ln(CAST(nx AS DOUBLE) / n))
               AS entropy_x
      FROM mx CROSS JOIN tot
    ), hy AS (
      SELECT -sum((CAST(ny AS DOUBLE) / n) * ln(CAST(ny AS DOUBLE) / n))
               AS entropy_y
      FROM my CROSS JOIN tot
    )
    SELECT round(mi_nats, 6) AS mi_nats, round(entropy_x, 6) AS entropy_x,
           round(entropy_y, 6) AS entropy_y
    FROM mi CROSS JOIN hx CROSS JOIN hy
    """,
)
def feature_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between o_orderpriority and
    o_orderstatus, with both marginal entropies — the model-free
    dependence screen used for feature selection and leakage detection
    (MI ≈ 0 ⇒ the column pair is safe to treat independently; MI near
    min(H) ⇒ one determines the other). Three bounded-domain hash
    aggregates and a broadcast-size reduction; the scan collapses
    map-side, so cost is one pass regardless of row count."""
    orders = sf_table(spark, sf_dir, "orders")
    joint = orders.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(F.count(F.lit(1)).alias("nxy"))
    n = joint.agg(F.sum("nxy").alias("n"))
    mx = joint.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("y").agg(F.sum("nxy").alias("ny"))
    full = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
    )
    nxy = F.col("nxy").cast("double")
    mi = F.sum(
        (nxy / F.col("n"))
        * F.log((nxy * F.col("n")) / (F.col("nx").cast("double") * F.col("ny")))
    )
    hx_df = mx.crossJoin(F.broadcast(n)).agg(
        F.sum(
            (F.col("nx").cast("double") / F.col("n"))
            * F.log(F.col("nx").cast("double") / F.col("n"))
        ).alias("hx")
    )
    hy_df = my.crossJoin(F.broadcast(n)).agg(
        F.sum(
            (F.col("ny").cast("double") / F.col("n"))
            * F.log(F.col("ny").cast("double") / F.col("n"))
        ).alias("hy")
    )
    return (
        full.agg(F.round(mi, 6).alias("mi_nats"))
        .crossJoin(F.broadcast(hx_df))
        .crossJoin(F.broadcast(hy_df))
        .select(
            "mi_nats",
            F.round(-F.col("hx"), 6).alias("entropy_x"),
            F.round(-F.col("hy"), 6).alias("entropy_y"),
        )
    )


# ---------------------------------------------------------------------------
# Pairwise Pearson correlation matrix over lineitem's numeric columns
# ---------------------------------------------------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_oracle() -> str:
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ]
    sels = " UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, round(corr({a}, {b}), 6) AS r "
        f"FROM lineitem"
        for a, b in pairs
    )
    return sels


@register("profile_correlation_matrix", _corr_oracle())
def profile_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Pearson correlation matrix across lineitem's
    numeric measures, computed in ONE full-scan aggregate (Catalyst
    shares the scan across all corr() expressions; each is a one-pass
    streaming moment calculation) and unpivoted to (col_a, col_b, r)
    rows. The multicollinearity screen that precedes any feature
    engineering — adding columns widens the aggregate, never adds
    scans. The oracle recomputes each pair independently."""
    li = sf_table(spark, sf_dir, "lineitem")
    pairs = [
        (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]
    ]
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"_{a}__{b}") for a, b in pairs
    ]
    wide = li.agg(*aggs)
    stack = ", ".join(f"'{a}', '{b}', _{a}__{b}" for a, b in pairs)
    return wide.select(
        F.expr(f"stack({len(pairs)}, {stack}) AS (col_a, col_b, r)")
    )


# ---------------------------------------------------------------------------
# Functional-dependency discovery: X -> Y violation rates
# ---------------------------------------------------------------------------
# (lhs table, lhs col, rhs col): one true FD, two near/false ones.
_FD_CANDIDATES = [
    ("part", "p_partkey", "p_brand"),   # key -> attr: holds by definition
    ("part", "p_brand", "p_type"),      # brand does not determine type
    ("orders", "o_custkey", "o_orderpriority"),  # repeat customers vary
]


def _fd_oracle() -> str:
    parts = []
    for tbl, lhs, rhs in _FD_CANDIDATES:
        parts.append(f"""
        SELECT '{tbl}.{lhs} -> {rhs}' AS fd,
               count(*) AS n_groups,
               count(*) FILTER (WHERE nd > 1) AS n_violating,
               round(count(*) FILTER (WHERE nd > 1) / CAST(count(*) AS DOUBLE), 6)
                 AS violation_rate,
               (count(*) FILTER (WHERE nd > 1) = 0) AS holds
        FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS nd FROM {tbl} GROUP BY {lhs})
        """)
    return " UNION ALL ".join(parts)


@register("dq_functional_dependency", _fd_oracle())
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling: for each candidate X -> Y,
    the fraction of X-groups that map to more than one Y value (0 ⇒ the
    dependency holds exactly — a candidate key / denormalization
    invariant; small ⇒ near-FD worth a cleaning rule). Per-candidate
    hash aggregate on the LHS, unioned into one plan; shuffle is
    bounded by LHS cardinality and AQE splits skewed LHS keys."""
    out = None
    for tbl, lhs, rhs in _FD_CANDIDATES:
        t = sf_table(spark, sf_dir, tbl)
        g = t.groupBy(lhs).agg(F.countDistinct(rhs).alias("nd"))
        row = g.agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.count(F.when(F.col("nd") > 1, 1)).alias("n_violating"),
            F.round(
                F.count(F.when(F.col("nd") > 1, 1))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("violation_rate"),
            (F.count(F.when(F.col("nd") > 1, 1)) == 0).alias("holds"),
        ).select(F.lit(f"{tbl}.{lhs} -> {rhs}").alias("fd"), "*")
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# One-way ANOVA: does order priority explain total price?
# ---------------------------------------------------------------------------
@register(
    "dq_anova_f",
    """
    WITH g AS (
      SELECT o_orderpriority AS grp, count(*) AS n,
             avg(o_totalprice) AS m,
             sum(o_totalprice * o_totalprice) AS ss
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT sum(n) AS nt, sum(n * m) / sum(n) AS gm, count(*) AS k FROM g
    )
    SELECT round(ssb / (k - 1), 6) AS ms_between,
           round(ssw / (nt - k), 6) AS ms_within,
           round((ssb / (k - 1)) / (ssw / (nt - k)), 6) AS f_stat
    FROM (
      SELECT sum(n * (m - gm) * (m - gm)) AS ssb,
             sum(ss - n * m * m) AS ssw,
             any_value(nt) AS nt, any_value(k) AS k
      FROM g, tot
    )
    """,
)
def dq_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for o_totalprice across order
    priorities — the "does this categorical column explain this measure
    at all" screen (F ≈ 1 ⇒ no; large ⇒ group means differ beyond
    noise). Per-group sufficient statistics (n, mean, sum of squares)
    in one partial-aggregated pass, then a constant-size reduction —
    the textbook map-side-combine shape, identical at any scale."""
    orders = sf_table(spark, sf_dir, "orders")
    g = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("o_totalprice").alias("m"),
        F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        F.count(F.lit(1)).alias("k"),
    )
    red = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))).alias("ssb"),
        F.sum(F.col("ss") - F.col("n") * F.col("m") * F.col("m")).alias("ssw"),
        F.first("nt").alias("nt"),
        F.first("k").alias("k"),
    )
    return red.select(
        F.round(F.col("ssb") / (F.col("k") - 1), 6).alias("ms_between"),
        F.round(F.col("ssw") / (F.col("nt") - F.col("k")), 6).alias("ms_within"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("nt") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )
