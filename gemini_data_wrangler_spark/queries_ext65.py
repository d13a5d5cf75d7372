"""Round-2 extensions, batch 65: deterministic Poisson bootstrap CI,
Kendall tau-b over a bounded joint grid, expected calibration error.

Scale notes:
- BOOTSTRAP is the Poisson(1) resampling trick (Chamandy et al., "Teaching
  Statistics at Google Scale"): instead of materializing R resamples, each
  row contributes a deterministic hash-derived Poisson weight per
  replicate, so one scan + one (replicate)-keyed aggregate produces all R
  resample means. Weights come from md5 hex-prefix thresholds (the
  inverse-CDF ladder as 8-hex-digit string compares — engine-portable,
  no float RNG), and the resampled statistic is summed in exact integer
  cents, so replicate means are bit-identical across engines. R is a
  constant: the explode is a bounded ×R fan-out that partial-aggregates
  map-side down to R rows.
- KENDALL tau-b is restated over the bounded joint histogram grid
  (price-bucket × priority): concordant/discordant counts come from a
  grid×grid self-join (|grid|² pairs, data-size-independent), tie terms
  from the marginals — all integer arithmetic until the final ratio.
- ECE/MCE reduce the calibration-bin table (constant rows) to two
  scalars; everything before is the same two-scan binned aggregate as
  `quality_calibration_bins`.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence interval for the mean order value
# ---------------------------------------------------------------------------
_BOOT_R = 100

# Inverse-CDF ladder for Poisson(1) as md5 hex-prefix thresholds: the first
# 8 hex chars of md5 are a uniform in [0, 16^8); u < CDF(k) is exactly the
# lexicographic compare against these 8-digit hex strings. Tail capped at
# k=7 (mass ~1e-5) — identical rule on both engines, so still exact parity.
_POIS_CUM = []
_acc = 0.0
for _k in range(7):
    _acc += math.exp(-1.0) / math.factorial(_k)
    _POIS_CUM.append(f"{int(_acc * 16**8):08x}")


def _pois_case_sql(expr: str) -> str:
    h = f"substr(md5({expr}), 1, 8)"
    whens = " ".join(
        f"WHEN {h} < '{t}' THEN {k}" for k, t in enumerate(_POIS_CUM)
    )
    return f"CASE {whens} ELSE 7 END"


def _pois_case_on(u: str) -> str:
    whens = " ".join(
        f"WHEN {u} < '{t}' THEN {k}" for k, t in enumerate(_POIS_CUM)
    )
    return f"CASE {whens} ELSE 7 END"


def _bootstrap_oracle() -> str:
    # One md5 per (row, block-of-4 replicates): the 32-hex digest is four
    # independent 8-hex uniforms, so R=100 weights cost 25 hashes per row.
    wt = _pois_case_on(
        "substr(md5(CAST(o_orderkey AS VARCHAR) || ':' "
        "|| CAST((r - 1) // 4 AS VARCHAR)), 1 + 8 * ((r - 1) % 4), 8)"
    )
    return f"""
    WITH w AS (
      SELECT r, {wt} AS wt, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders CROSS JOIN (SELECT unnest(range(1, {_BOOT_R + 1})) AS r)
    ), means AS (
      SELECT r, sum(wt * cents) / (100.0 * sum(wt)) AS m
      FROM w GROUP BY r
    )
    SELECT count(*) AS n_replicates,
           round(avg(m), 6) AS boot_mean,
           round(quantile_cont(m, 0.025), 6) AS ci_lo,
           round(quantile_cont(m, 0.975), 6) AS ci_hi
    FROM means
    """


@register("stats_bootstrap_ci_mean", _bootstrap_oracle())
def stats_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap CI for the mean order value: each row gets a
    deterministic Poisson(1) weight per replicate (md5 hex ladder), one
    grouped aggregate yields all 100 resample means, exact percentiles
    bracket the CI. The one-scan distributed bootstrap — no resample
    materialization, no RNG state, reproducible across engines. Weighted
    sums run in integer cents so replicate means are exact."""
    orders = sf_table(spark, sf_dir, "orders")
    n_blocks = (_BOOT_R + 3) // 4
    case_sql = _pois_case_on("substring(h, 1 + 8 * o, 8)")
    # 25 md5s per row (one per block of 4 replicates), expanded to the 100
    # weights as a pure array expression BEFORE the explode — the exploded
    # rows are narrow (int, int) and partial-aggregate map-side to R rows.
    wts = F.expr(
        f"flatten(transform("
        f"  transform(sequence(0, {n_blocks - 1}),"
        f"            b -> md5(concat(cast(o_orderkey AS string), ':', cast(b AS string)))),"
        f"  h -> transform(sequence(0, 3), o -> {case_sql})))"
    )
    # The x100 weight fan-out dwarfs the input scan; a small parquet lands
    # in one split, so spread the pre-explode rows across the cluster first
    # (round-robin of the 2-column input — negligible shuffle).
    base = orders.select("o_orderkey", "o_totalprice").repartition(
        spark.sparkContext.defaultParallelism
    )
    reps = (
        base.select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            F.posexplode(wts).alias("idx", "wt"),
        )
        .filter(F.col("idx") < _BOOT_R)
        .select((F.col("idx") + 1).alias("r"), "wt", "cents")
    )
    means = reps.groupBy("r").agg(
        (F.sum(F.col("wt") * F.col("cents")) / (100.0 * F.sum("wt"))).alias("m")
    )
    return means.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.round(F.avg("m"), 6).alias("boot_mean"),
        F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b between price bucket and order priority (bounded grid)
# ---------------------------------------------------------------------------
_TAU_BUCKET = 10000


@register(
    "stats_kendall_tau",
    f"""
    WITH v AS (
      SELECT CAST(floor(o_totalprice / {_TAU_BUCKET}) AS BIGINT) AS x,
             CAST(substr(o_orderpriority, 1, 1) AS INT) AS y
      FROM orders
    ), grid AS (
      SELECT x, y, count(*) AS c FROM v GROUP BY x, y
    ), pairs AS (
      SELECT sum(CASE WHEN (g2.x > g1.x AND g2.y > g1.y)
                        OR (g2.x < g1.x AND g2.y < g1.y)
                      THEN g1.c * g2.c ELSE 0 END) / 2 AS concordant,
             sum(CASE WHEN (g2.x > g1.x AND g2.y < g1.y)
                        OR (g2.x < g1.x AND g2.y > g1.y)
                      THEN g1.c * g2.c ELSE 0 END) / 2 AS discordant
      FROM grid g1 CROSS JOIN grid g2
    ), marg AS (
      SELECT (SELECT sum(c * (c - 1) / 2) FROM
                (SELECT sum(c) AS c FROM grid GROUP BY x)) AS tx,
             (SELECT sum(c * (c - 1) / 2) FROM
                (SELECT sum(c) AS c FROM grid GROUP BY y)) AS ty,
             (SELECT sum(c) FROM grid) AS n
    )
    SELECT concordant, discordant,
           round((concordant - discordant)
                 / sqrt((n * (n - 1) / 2.0 - tx) * (n * (n - 1) / 2.0 - ty)),
                 6) AS kendall_tau_b
    FROM pairs CROSS JOIN marg
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between order-value bucket and priority: concordant
    minus discordant pair mass over the tie-corrected normalizer. The
    O(n²) pair enumeration is restated on the bounded joint-histogram
    grid — |grid|² cell pairs regardless of row count (the same
    histogram-not-rows move as the AUC/Mann–Whitney sweeps), integer
    counts until the final ratio. Complements Spearman: tau's pair
    semantics survive heavy ties, exactly this discrete-grid regime."""
    orders = sf_table(spark, sf_dir, "orders")
    v = orders.select(
        F.floor(F.col("o_totalprice") / _TAU_BUCKET).cast("bigint").alias("x"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("y"),
    )
    grid = v.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    g1 = grid.alias("g1")
    g2 = grid.alias("g2")
    conc = (
        (F.col("g2.x") > F.col("g1.x")) & (F.col("g2.y") > F.col("g1.y"))
    ) | ((F.col("g2.x") < F.col("g1.x")) & (F.col("g2.y") < F.col("g1.y")))
    disc = (
        (F.col("g2.x") > F.col("g1.x")) & (F.col("g2.y") < F.col("g1.y"))
    ) | ((F.col("g2.x") < F.col("g1.x")) & (F.col("g2.y") > F.col("g1.y")))
    cell = F.col("g1.c") * F.col("g2.c")
    pairs = g1.crossJoin(g2).agg(
        (F.sum(F.when(conc, cell).otherwise(0)) / 2).alias("concordant"),
        (F.sum(F.when(disc, cell).otherwise(0)) / 2).alias("discordant"),
    )
    tx = (
        grid.groupBy("x")
        .agg(F.sum("c").alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("tx"))
    )
    ty = (
        grid.groupBy("y")
        .agg(F.sum("c").alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("ty"))
    )
    n = grid.agg(F.sum("c").alias("n"))
    joined = pairs.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty)).crossJoin(
        F.broadcast(n)
    )
    n0 = F.col("n") * (F.col("n") - 1) / 2.0
    return joined.select(
        "concordant",
        "discordant",
        F.round(
            (F.col("concordant") - F.col("discordant"))
            / F.sqrt((n0 - F.col("tx")) * (n0 - F.col("ty"))),
            6,
        ).alias("kendall_tau_b"),
    )


# ---------------------------------------------------------------------------
# Expected / maximum calibration error of the quality score
# ---------------------------------------------------------------------------
def _ece_oracle() -> str:
    from gemini_data_wrangler_spark.queries_ext44 import _CAL_BINS, _SCORED_SQL

    return f"""
    WITH scored AS ({_SCORED_SQL}),
    rng AS (SELECT min(score) AS lo, max(score) AS hi FROM scored),
    bins AS (
      SELECT least(CAST(floor((score - lo) / nullif(hi - lo, 0) * {_CAL_BINS}) AS INT),
                   {_CAL_BINS - 1}) AS bin,
             count(*) AS n,
             avg(score) AS conf,
             avg(CAST(pos AS DOUBLE)) AS acc
      FROM scored CROSS JOIN rng GROUP BY 1
    )
    SELECT round(sum(n * abs(acc - conf)) / sum(n), 6) AS ece,
           round(max(abs(acc - conf)), 6) AS mce,
           count(*) AS n_bins
    FROM bins
    """


@register("quality_ece", _ece_oracle())
def quality_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected + maximum calibration error of the quality score against
    lang='en': bin-weighted (ECE) and worst-bin (MCE) |accuracy −
    confidence| gaps over the same fixed-width bins as
    `quality_calibration_bins` — the reliability diagram collapsed to
    the two numbers a filter-threshold review actually reads. Constant
    bin table in, two scalars out."""
    from gemini_data_wrangler_spark.queries_ext44 import _CAL_BINS, _scored

    s = _scored(spark, sf_dir)
    rng = s.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    bins = (
        s.crossJoin(F.broadcast(rng))
        .withColumn(
            "bin",
            F.least(
                F.floor(
                    (F.col("score") - F.col("lo"))
                    / F.nullif(F.col("hi") - F.col("lo"), F.lit(0))
                    * _CAL_BINS
                ).cast("int"),
                F.lit(_CAL_BINS - 1),
            ),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("score").alias("conf"),
            F.avg(F.col("pos").cast("double")).alias("acc"),
        )
    )
    gap = F.abs(F.col("acc") - F.col("conf"))
    return bins.agg(
        F.round(F.sum(F.col("n") * gap) / F.sum("n"), 6).alias("ece"),
        F.round(F.max(gap), 6).alias("mce"),
        F.count(F.lit(1)).alias("n_bins"),
    )
