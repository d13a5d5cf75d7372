"""Round-2 extensions, batch 63: trimmed mean, Mann–Whitney U test,
Brown–Forsythe (Levene) variance-equality test.

Scale notes: all three are rank/quantile statistics over bounded
domains — exact percentile bounds per group (one partitioned sort),
rank sums restated over the distinct-value histogram (the AUC trick:
the ordered pass touches |values|, not rows), and deviation-from-
median ANOVA reusing the per-group moment shape. Nothing quadratic,
nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Trimmed mean (10% each tail) per priority
# ---------------------------------------------------------------------------
_TRIM = 0.1


@register(
    "agg_trimmed_mean",
    f"""
    WITH b AS (
      SELECT o_orderpriority AS grp,
             quantile_cont(o_totalprice, {_TRIM}) AS lo,
             quantile_cont(o_totalprice, {1 - _TRIM}) AS hi
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority AS grp,
           count(*) AS n_kept,
           round(avg(o.o_totalprice), 6) AS trimmed_mean,
           round(b.lo, 6) AS lo_cut, round(b.hi, 6) AS hi_cut
    FROM orders o JOIN b ON o.o_orderpriority = b.grp
    WHERE o.o_totalprice >= b.lo AND o.o_totalprice <= b.hi
    GROUP BY o.o_orderpriority, b.lo, b.hi
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{int(_TRIM * 100)}%-trimmed mean of order value per priority:
    drop each tail beyond the exact p{int(_TRIM*100)}/p{int((1-_TRIM)*100)}
    quantiles, average the middle — the robust mean that tolerates
    {int(_TRIM * 100)}% contamination per tail while staying far more
    efficient than the median on clean data (completes the robust-
    location ladder: mean → trimmed mean → Hodges–Lehmann → median).
    Per-group exact quantiles broadcast back over the scan; one
    filtered aggregate after."""
    orders = sf_table(spark, sf_dir, "orders")
    b = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.expr(f"percentile(o_totalprice, {_TRIM})").alias("lo"),
        F.expr(f"percentile(o_totalprice, {1 - _TRIM})").alias("hi"),
    )
    return (
        orders.join(
            F.broadcast(b), orders["o_orderpriority"] == b["grp"]
        )
        .filter(
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") <= F.col("hi"))
        )
        .groupBy("grp", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.avg("o_totalprice"), 6).alias("trimmed_mean"),
        )
        .select(
            "grp",
            "n_kept",
            "trimmed_mean",
            F.round("lo", 6).alias("lo_cut"),
            F.round("hi", 6).alias("hi_cut"),
        )
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U test between two sources' document lengths
# ---------------------------------------------------------------------------
_MW_A, _MW_B = "src0", "src1"


@register(
    "dq_mann_whitney_test",
    f"""
    WITH s AS (
      SELECT n_chars AS v, CASE WHEN source = '{_MW_A}' THEN 1 ELSE 0 END AS isa
      FROM documents WHERE source IN ('{_MW_A}', '{_MW_B}')
    ), hist AS (
      SELECT v, sum(isa) AS na_v, count(*) - sum(isa) AS nb_v, count(*) AS t_v
      FROM s GROUP BY v
    ), sweep AS (
      SELECT v, na_v, nb_v, t_v,
             COALESCE(sum(t_v) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM hist
    ), agg AS (
      SELECT sum(na_v) AS na, sum(nb_v) AS nb,
             sum(na_v * (below + (t_v + 1) / 2.0)) AS ranksum_a,
             sum(CAST(t_v AS DOUBLE) * t_v * t_v - t_v) AS tie_term,
             sum(t_v) AS n
      FROM sweep
    )
    SELECT na AS n_a, nb AS n_b,
           round(ranksum_a - na * (na + 1) / 2.0, 6) AS u_statistic,
           round((ranksum_a - na * (na + 1) / 2.0 - na * CAST(nb AS DOUBLE) / 2)
                 / sqrt((na * CAST(nb AS DOUBLE) / 12)
                        * ((n + 1) - tie_term / (CAST(n AS DOUBLE) * (n - 1)))), 6)
             AS z_score
    FROM agg
    """,
)
def dq_mann_whitney_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U test (tie-corrected normal approximation) between
    {_MW_A} and {_MW_B} document lengths — the nonparametric two-sample
    location test (KS asks "same distribution?"; U asks the sharper
    "does one stochastically dominate?"). Rank sums are restated over
    the distinct-value histogram with average ranks below + (t+1)/2 —
    the same sweep as `quality_score_auc` (U/(n₁n₂) IS that AUC), so
    the only ordered pass touches |distinct lengths| rows."""
    docs = sf_table(spark, sf_dir, "documents")
    s = docs.filter(F.col("source").isin(_MW_A, _MW_B)).select(
        F.col("n_chars").alias("v"),
        F.when(F.col("source") == _MW_A, 1).otherwise(0).alias("isa"),
    )
    hist = s.groupBy("v").agg(
        F.sum("isa").alias("na_v"),
        (F.count(F.lit(1)) - F.sum("isa")).alias("nb_v"),
        F.count(F.lit(1)).alias("t_v"),
    )
    # Distributed prefix sum (`two_level_cumsum`, block = v>>6 length
    # buckets) — the ordered pass stays hash-partitioned as the
    # distinct-length histogram grows.
    from gemini_data_wrangler_spark.operators.window import two_level_cumsum

    sweep = two_level_cumsum(
        hist,
        key=F.col("v"),
        tiebreaks=[],
        block=F.shiftright("v", 6),
        sums={"below": F.col("t_v")},
        inclusive=False,
    )
    agg = sweep.agg(
        F.sum("na_v").alias("na"),
        F.sum("nb_v").alias("nb"),
        F.sum(F.col("na_v") * (F.col("below") + (F.col("t_v") + 1) / 2.0)).alias(
            "ranksum_a"
        ),
        F.sum(
            F.col("t_v").cast("double") * F.col("t_v") * F.col("t_v") - F.col("t_v")
        ).alias("tie_term"),
        F.sum("t_v").alias("n"),
    )
    u = F.col("ranksum_a") - F.col("na") * (F.col("na") + 1) / 2.0
    mean_u = F.col("na") * F.col("nb").cast("double") / 2
    var_u = (F.col("na") * F.col("nb").cast("double") / 12) * (
        (F.col("n") + 1)
        - F.col("tie_term") / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return agg.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(u, 6).alias("u_statistic"),
        F.round((u - mean_u) / F.sqrt(var_u), 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Brown–Forsythe (median-based Levene) variance-equality test
# ---------------------------------------------------------------------------
@register(
    "dq_levene_test",
    """
    WITH med AS (
      SELECT o_orderpriority AS grp, median(o_totalprice) AS m
      FROM orders GROUP BY 1
    ), z AS (
      SELECT o.o_orderpriority AS grp, abs(o.o_totalprice - med.m) AS z
      FROM orders o JOIN med ON o.o_orderpriority = med.grp
    ), g AS (
      SELECT grp, count(*) AS n, avg(z) AS mz, sum(z * z) AS ssz
      FROM z GROUP BY grp
    ), tot AS (
      SELECT sum(n) AS nt, sum(n * mz) / sum(n) AS gm, count(*) AS k FROM g
    )
    SELECT round(((SELECT nt FROM tot) - (SELECT k FROM tot))
                 / CAST((SELECT k FROM tot) - 1 AS DOUBLE)
                 * sum(n * (mz - (SELECT gm FROM tot)) * (mz - (SELECT gm FROM tot)))
                 / sum(ssz - n * mz * mz), 6) AS levene_w,
           (SELECT k FROM tot) - 1 AS dof_between,
           (SELECT nt FROM tot) - (SELECT k FROM tot) AS dof_within
    FROM g
    """,
)
def dq_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (median-based Levene): one-way ANOVA on the
    absolute deviations from each group's MEDIAN — the robust
    equal-variance pre-check for `dq_anova_f` (classical ANOVA assumes
    homoscedasticity; Levene's W tells you whether that assumption
    survives, and the median centering keeps the test honest under
    skew). Per-group exact medians broadcast back, then the standard
    two-level moment reduction."""
    orders = sf_table(spark, sf_dir, "orders")
    med = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.median("o_totalprice").alias("m")
    )
    z = orders.join(
        F.broadcast(med), orders["o_orderpriority"] == med["grp"]
    ).select("grp", F.abs(F.col("o_totalprice") - F.col("m")).alias("z"))
    g = z.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("z").alias("mz"),
        F.sum(F.col("z") * F.col("z")).alias("ssz"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        (F.sum(F.col("n") * F.col("mz")) / F.sum("n")).alias("gm"),
        F.count(F.lit(1)).alias("k"),
    )
    joined = g.crossJoin(F.broadcast(tot))
    between = F.sum(
        F.col("n") * (F.col("mz") - F.col("gm")) * (F.col("mz") - F.col("gm"))
    )
    within = F.sum(F.col("ssz") - F.col("n") * F.col("mz") * F.col("mz"))
    return joined.groupBy("nt", "k").agg(
        F.round(
            ((F.col("nt") - F.col("k")) / (F.col("k") - 1).cast("double"))
            * between
            / within,
            6,
        ).alias("levene_w"),
    ).select(
        "levene_w",
        (F.col("k") - 1).alias("dof_between"),
        (F.col("nt") - F.col("k")).alias("dof_within"),
    )
