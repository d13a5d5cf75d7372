"""Round-2 extensions, batch 82: AMS second-frequency-moment sketch and
Platt calibration via the grid-IRLS fold.

Scale notes:
- AMS F2 (Alon-Matias-Szegedy 1996): the second frequency moment
  (self-join size / skew proxy) estimated from {_AMS_R} +/-1-signed
  linear sketches — each estimator is ONE integer sum over the token
  stream (deterministic md5-parity signs, so both engines compute the
  identical integers), squared, then median-of-means. The exact F2 for
  the calibration ratio is one grouped count + sum of squares. Every
  intermediate is integer arithmetic -> exact cross-engine parity, no
  fp-order caveats. At 100 TB the sketch side never materializes the
  vocabulary: it is R running sums, mergeable across any partitioning
  (the property that makes AMS the streaming-join-size estimator).
- PLATT SCALING (Platt 1999) reuses batch 80's sufficient-statistic
  trick in 1-D: bucket the raw score into its bounded percentile grid
  (one distributed groupBy), then 8 Newton steps of the 2-parameter
  logistic run as a row-local fold over the sorted cells (closed-form
  2x2 solve) — identical left-fold order on both engines gives value
  parity on (a, b) and the calibrated Brier score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# AMS F2 sketch: median-of-means of signed linear projections
# ---------------------------------------------------------------------------
_AMS_GROUPS = 3
_AMS_PER_GROUP = 3
_AMS_R = _AMS_GROUPS * _AMS_PER_GROUP

# +/-1 sign for (word, estimator r): parity of the first md5 hex digit.
_SIGN_SPARK = "(1 - 2 * (conv(substring(md5(concat(w, ':', CAST(r AS STRING))), 1, 1), 16, 10) % 2))"
_SIGN_DUCK = (
    "(1 - 2 * ((strpos('0123456789abcdef',"
    " substring(md5(w || ':' || CAST(r AS VARCHAR)), 1, 1)) - 1) % 2))"
)


@register(
    "sketch_ams_f2_check",
    rf"""
    WITH tok AS MATERIALIZED (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
    ), exact AS (
      SELECT sum(c * c) AS f2 FROM (SELECT w, count(*) AS c FROM tok GROUP BY w)
    ), sk AS (
      SELECT r, sum({_SIGN_DUCK}) AS z
      FROM tok CROSS JOIN (SELECT unnest(range(1, {_AMS_R + 1})) AS r)
      GROUP BY r
    ), means AS (
      SELECT (r - 1) // {_AMS_PER_GROUP} AS grp, sum(z * z) / {_AMS_PER_GROUP} AS m
      FROM sk GROUP BY 1
    ), est AS (
      SELECT median(m) AS f2_est FROM means
    )
    SELECT exact.f2 AS f2_exact,
           CAST(est.f2_est AS BIGINT) AS f2_est,
           round(est.f2_est / exact.f2, 4) AS ratio,
           (est.f2_est / exact.f2 BETWEEN 0.2 AND 5.0) AS bound_ok
    FROM exact CROSS JOIN est
    """,
)
def sketch_ams_f2_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment estimate vs the exact F2 of the token
    stream: {_AMS_R} deterministic +/-1-signed running sums (one bounded
    x{_AMS_R} fan-out, integer partial aggregates), squared, averaged in
    groups of {_AMS_PER_GROUP} and medianed — the classic
    median-of-means variance/failure-probability trade. All integers,
    so the calibration ratio is bit-identical across engines; the
    bound_ok gate pins the estimator within its Chebyshev-justified
    band. The exact side is one grouped count (the self-join-size
    identity sum c^2)."""
    docs = sf_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
    exact = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("f2"))
    )
    sk = (
        tok.select("w", F.explode(F.sequence(F.lit(1), F.lit(_AMS_R))).alias("r"))
        .select("r", F.expr(_SIGN_SPARK).alias("s"))
        .groupBy("r")
        .agg(F.sum("s").alias("z"))
    )
    means = sk.groupBy(
        ((F.col("r") - 1) / _AMS_PER_GROUP).cast("bigint").alias("grp")
    ).agg((F.sum(F.col("z") * F.col("z")) / _AMS_PER_GROUP).alias("m"))
    est = means.agg(F.expr("median(m)").alias("f2_est"))
    return (
        exact.crossJoin(est)
        .select(
            F.col("f2").alias("f2_exact"),
            F.col("f2_est").cast("bigint").alias("f2_est"),
            F.round(F.col("f2_est") / F.col("f2"), 4).alias("ratio"),
            (F.col("f2_est") / F.col("f2")).between(0.2, 5.0).alias("bound_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Platt scaling: 2-parameter logistic calibration of a raw ranking score
# ---------------------------------------------------------------------------
_PLATT_ITERS = 8
_PLATT_BINS = 100


def _platt_spark_fold() -> str:
    eta = "(bt.b0 + bt.b1*c.x)"
    p = f"(1.0D/(1.0D + exp(-{eta})))"
    w = f"(c.n * {p} * (1.0D - {p}))"
    r = f"(c.k - c.n * {p})"
    zero = "named_struct('h00',0.0D,'h01',0.0D,'h11',0.0D,'g0',0.0D,'g1',0.0D)"
    merge = (
        "named_struct("
        f"'h00', a.h00 + {w}, 'h01', a.h01 + {w}*c.x, 'h11', a.h11 + {w}*c.x*c.x, "
        f"'g0', a.g0 + {r}, 'g1', a.g1 + {r}*c.x)"
    )
    det = "(s.h00*s.h11 - s.h01*s.h01)"
    finish = (
        "named_struct("
        f"'b0', bt.b0 + (s.h11*s.g0 - s.h01*s.g1) / {det}, "
        f"'b1', bt.b1 + (s.h00*s.g1 - s.h01*s.g0) / {det})"
    )
    step = f"aggregate(cells, {zero}, (a, c) -> {merge}, s -> {finish})"
    return (
        f"aggregate(sequence(1, {_PLATT_ITERS}),"
        " named_struct('b0', 0.0D, 'b1', 0.0D),"
        f" (bt, it) -> {step})"
    )


def _platt_oracle() -> str:
    p = "(1.0/(1.0 + exp(-(b0 + b1*c.x))))"
    w = f"(c.n * {p} * (1.0 - {p}))"
    r = f"(c.k - c.n * {p})"

    def s(term: str) -> str:
        return f"list_reduce(list_transform(cs, c -> ({term})), (a, x) -> a + x)"

    sums = (
        f"{s(w)} AS h00, {s(w + '*c.x')} AS h01, {s(w + '*c.x*c.x')} AS h11, "
        f"{s(r)} AS g0, {s(r + '*c.x')} AS g1"
    )
    det = "(h00*h11 - h01*h01)"
    layers = ["it0 AS (SELECT 0.0 AS b0, 0.0 AS b1)"]
    for i in range(1, _PLATT_ITERS + 1):
        layers.append(
            f"hg{i} AS (SELECT b0, b1, {sums} FROM it{i - 1} CROSS JOIN cells)"
        )
        layers.append(
            f"it{i} AS (SELECT b0 + (h11*g0 - h01*g1) / {det} AS b0,"
            f" b1 + (h00*g1 - h01*g0) / {det} AS b1 FROM hg{i})"
        )
    brier = s(f"c.n * ({p} - c.k/c.n) * ({p} - c.k/c.n) + c.k*(1.0 - c.k/c.n)")
    raw_brier = s("c.n * (c.s - c.k/c.n) * (c.s - c.k/c.n) + c.k*(1.0 - c.k/c.n)")
    return f"""
    WITH scored AS MATERIALIZED (
      SELECT o_totalprice AS score,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             ntile({_PLATT_BINS}) OVER (ORDER BY o_totalprice, o_orderkey) AS b
      FROM orders
    ), grid AS MATERIALIZED (
      SELECT b, count(*) AS n, sum(y) AS k, avg(score) AS sbar
      FROM scored GROUP BY b
    ), smax AS (SELECT max(sbar) AS mx, min(sbar) AS mn FROM grid),
    cells AS MATERIALIZED (
      SELECT list_sort(list(struct_pack(
               x := (sbar - mn) / (mx - mn),
               n := CAST(n AS DOUBLE), k := CAST(k AS DOUBLE),
               s := CAST(k AS DOUBLE) / n))) AS cs,
             count(*) AS n_bins
      FROM grid CROSS JOIN smax
    ),
    {", ".join(layers)}
    SELECT round(b0, 6) AS platt_a, round(b1, 6) AS platt_b,
           round({brier} / (SELECT sum(c.n) FROM (SELECT unnest(cs) AS c FROM cells)), 6)
             AS brier_calibrated,
           n_bins
    FROM it{_PLATT_ITERS} CROSS JOIN cells
    """


@register("quality_platt_scaling", _platt_oracle())
def quality_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling of a raw ranking score into calibrated
    probabilities: percentile-bin the score (one distributed window +
    groupBy to <= {_PLATT_BINS} sufficient-statistic cells), then fit
    sigma(a + b*x) by 8 Newton steps as a row-local fold over the sorted
    cells (closed-form 2x2 solve per step) and report the calibrated
    binned Brier score. Same exact-parity mechanics as
    `stats_logistic_regression`: both engines fold identical sorted
    lists in identical order."""
    from pyspark.sql import Window

    from gemini_data_wrangler_spark.operators.window import distributed_ntile

    orders = sf_table(spark, sf_dir, "orders")
    # Percentile bins via distributed two-level rank + closed-form ntile
    # (block = floor(price)) — no orders-sized single-task window.
    scored = distributed_ntile(
        orders.select(
            F.col("o_totalprice").alias("score"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
            "o_totalprice",
            "o_orderkey",
        ),
        _PLATT_BINS,
        F.col("o_totalprice"),
        [F.col("o_orderkey")],
        F.floor("o_totalprice").cast("long"),
        "b",
    ).select("score", "y", "b")
    grid = scored.groupBy("b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("k"),
        F.avg("score").alias("sbar"),
    )
    lim = grid.agg(F.max("sbar").alias("mx"), F.min("sbar").alias("mn"))
    packed = (
        grid.crossJoin(F.broadcast(lim))
        .select(
            ((F.col("sbar") - F.col("mn")) / (F.col("mx") - F.col("mn"))).alias("x"),
            F.col("n").cast("double").alias("n"),
            F.col("k").cast("double").alias("k"),
            (F.col("k").cast("double") / F.col("n")).alias("s"),
        )
        .agg(
            F.sort_array(F.collect_list(F.struct("x", "n", "k", "s"))).alias("cells"),
            F.count(F.lit(1)).alias("n_bins"),
        )
    )
    p = "(1.0D/(1.0D + exp(-(beta.b0 + beta.b1*c.x))))"
    brier = (
        f"aggregate(cells, 0.0D, (a, c) -> a + c.n * ({p} - c.k/c.n) * ({p} - c.k/c.n)"
        " + c.k*(1.0D - c.k/c.n))"
    )
    total = "aggregate(cells, 0.0D, (a, c) -> a + c.n)"
    return (
        packed.withColumn("beta", F.expr(_platt_spark_fold()))
        .select(
            F.round(F.col("beta.b0"), 6).alias("platt_a"),
            F.round(F.col("beta.b1"), 6).alias("platt_b"),
            F.round(F.expr(brier) / F.expr(total), 6).alias("brier_calibrated"),
            F.col("n_bins"),
        )
    )
