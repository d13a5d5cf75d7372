"""Round-2 extensions, batch 80: grouped-data logistic regression (IRLS
on the sufficient-statistic grid), deterministic RANSAC line fit, and
b-bit MinHash estimator calibration.

Scale notes:
- LOGISTIC REGRESSION exploits that with bounded categorical/bucketed
  features the likelihood depends on the data only through the per-cell
  (n, k) grid — ONE distributed grouped count, data-size-independent
  thereafter. The 8 Newton/IRLS iterations then run as a single row-local
  fold over the sorted cell array (aggregate-with-finish gives the
  let-binding for the 3x3 Hessian solve via adjugate). Cross-engine
  parity is exact because both engines fold the identical sorted list in
  the identical left-to-right order — the usual "distributed double sums
  are order-dependent" trap never opens. At 100 TB the only data-scale
  pass is the grid groupBy (map-side partial agg to |grid| rows).
- RANSAC is the classic robust fit with the sampling made deterministic
  and engine-portable: candidate point pairs are arg-min-by-md5 picks
  (two keyed "random" draws per hypothesis, one grouped aggregate for
  all 32), inlier counting is a broadcast of 32 tiny line rows against
  the full table — linear, no driver loop, integer inlier counts so the
  winner is hash-stable across engines (slope/intercept/residual use
  only correctly-rounded IEEE ops: identical bit-for-bit).
- B-BIT MINHASH (Li & Koenig, 2010): storing only the low b bits of each
  signature component cuts sketch memory 16x at b=4; collisions then
  happen by chance at rate 2^-b, so the estimator debiases
  (est - 2^-b)/(1 - 2^-b). The check pins the debiased estimate within
  4 sigma of the exact Jaccard on every verified near-dup pair — same
  oracle contract as `sketch_minhash_estimate_check`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Grouped-data logistic regression: P(status = 'F' | priority, price bucket)
# ---------------------------------------------------------------------------
_LOGIT_ITERS = 8
_LOGIT_BUCKET = 50000

# Shared arithmetic (identical text modulo engine syntax): IRLS step
#   eta = b0 + b1 x1 + b2 x2 ; p = sigmoid(eta) ; w = n p (1-p)
#   H = sum w [1,x1,x2][1,x1,x2]^T ; g = sum (k - n p) [1,x1,x2]
#   beta += H^-1 g  (3x3 adjugate solve)


def _logit_spark_fold() -> str:
    eta = "(bt.b0 + bt.b1*c.x1 + bt.b2*c.x2)"
    p = f"(1.0D/(1.0D + exp(-{eta})))"
    w = f"(c.n * {p} * (1.0D - {p}))"
    r = f"(c.k - c.n * {p})"
    zero = (
        "named_struct('h00',0.0D,'h01',0.0D,'h02',0.0D,'h11',0.0D,"
        "'h12',0.0D,'h22',0.0D,'g0',0.0D,'g1',0.0D,'g2',0.0D)"
    )
    merge = (
        "named_struct("
        f"'h00', a.h00 + {w}, 'h01', a.h01 + {w}*c.x1, 'h02', a.h02 + {w}*c.x2, "
        f"'h11', a.h11 + {w}*c.x1*c.x1, 'h12', a.h12 + {w}*c.x1*c.x2, "
        f"'h22', a.h22 + {w}*c.x2*c.x2, "
        f"'g0', a.g0 + {r}, 'g1', a.g1 + {r}*c.x1, 'g2', a.g2 + {r}*c.x2)"
    )
    det = (
        "(s.h00*(s.h11*s.h22 - s.h12*s.h12) - s.h01*(s.h01*s.h22 - s.h12*s.h02)"
        " + s.h02*(s.h01*s.h12 - s.h11*s.h02))"
    )
    finish = (
        "named_struct("
        f"'b0', bt.b0 + ((s.h11*s.h22 - s.h12*s.h12)*s.g0 + (s.h02*s.h12 - s.h01*s.h22)*s.g1"
        f" + (s.h01*s.h12 - s.h02*s.h11)*s.g2) / {det}, "
        f"'b1', bt.b1 + ((s.h02*s.h12 - s.h01*s.h22)*s.g0 + (s.h00*s.h22 - s.h02*s.h02)*s.g1"
        f" + (s.h01*s.h02 - s.h00*s.h12)*s.g2) / {det}, "
        f"'b2', bt.b2 + ((s.h01*s.h12 - s.h02*s.h11)*s.g0 + (s.h01*s.h02 - s.h00*s.h12)*s.g1"
        f" + (s.h00*s.h11 - s.h01*s.h01)*s.g2) / {det})"
    )
    step = f"aggregate(cells, {zero}, (a, c) -> {merge}, s -> {finish})"
    return (
        f"aggregate(sequence(1, {_LOGIT_ITERS}),"
        " named_struct('b0', 0.0D, 'b1', 0.0D, 'b2', 0.0D),"
        f" (bt, it) -> {step})"
    )


def _logit_spark_deviance() -> str:
    eta = "(beta.b0 + beta.b1*c.x1 + beta.b2*c.x2)"
    p = f"(1.0D/(1.0D + exp(-{eta})))"
    term = (
        f"(CASE WHEN c.k > 0.0D THEN c.k * ln(c.k / (c.n * {p})) ELSE 0.0D END"
        f" + CASE WHEN c.k < c.n THEN (c.n - c.k) * ln((c.n - c.k) / (c.n * (1.0D - {p})))"
        " ELSE 0.0D END)"
    )
    return f"2.0D * aggregate(cells, 0.0D, (a, c) -> a + {term})"


def _logit_oracle(final_select: str | None = None) -> str:
    """DuckDB IRLS layers; ``final_select`` (FROM it{N} CROSS JOIN cells)
    overrides the default coefficient/deviance output — reused by the
    partial-dependence query in batch 97."""
    p = "(1.0/(1.0 + exp(-(b0 + b1*c.x1 + b2*c.x2))))"
    w = f"(c.n * {p} * (1.0 - {p}))"
    r = f"(c.k - c.n * {p})"

    def s(term: str) -> str:
        return f"list_reduce(list_transform(cs, c -> ({term})), (a, x) -> a + x)"

    sums = (
        f"{s(w)} AS h00, {s(w + '*c.x1')} AS h01, {s(w + '*c.x2')} AS h02, "
        f"{s(w + '*c.x1*c.x1')} AS h11, {s(w + '*c.x1*c.x2')} AS h12, "
        f"{s(w + '*c.x2*c.x2')} AS h22, "
        f"{s(r)} AS g0, {s(r + '*c.x1')} AS g1, {s(r + '*c.x2')} AS g2"
    )
    det = (
        "(h00*(h11*h22 - h12*h12) - h01*(h01*h22 - h12*h02)"
        " + h02*(h01*h12 - h11*h02))"
    )
    layers = ["it0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"]
    for i in range(1, _LOGIT_ITERS + 1):
        layers.append(
            f"hg{i} AS (SELECT b0, b1, b2, {sums} FROM it{i - 1} CROSS JOIN cells)"
        )
        layers.append(
            f"""it{i} AS (SELECT
      b0 + ((h11*h22 - h12*h12)*g0 + (h02*h12 - h01*h22)*g1 + (h01*h12 - h02*h11)*g2) / {det} AS b0,
      b1 + ((h02*h12 - h01*h22)*g0 + (h00*h22 - h02*h02)*g1 + (h01*h02 - h00*h12)*g2) / {det} AS b1,
      b2 + ((h01*h12 - h02*h11)*g0 + (h01*h02 - h00*h12)*g1 + (h00*h11 - h01*h01)*g2) / {det} AS b2
    FROM hg{i})"""
        )
    dev_term = (
        f"(CASE WHEN c.k > 0.0 THEN c.k * ln(c.k / (c.n * {p})) ELSE 0.0 END"
        f" + CASE WHEN c.k < c.n THEN (c.n - c.k) * ln((c.n - c.k) / (c.n * (1.0 - {p})))"
        " ELSE 0.0 END)"
    )
    default_select = (
        "SELECT round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,"
        f" round(2.0 * {s(dev_term)}, 4) AS deviance, n_cells"
        f" FROM it{_LOGIT_ITERS} CROSS JOIN cells"
    )
    return f"""
    WITH grid AS MATERIALIZED (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS x1,
             CAST(floor(o_totalprice / {_LOGIT_BUCKET}) AS INT) AS x2,
             count(*) AS n,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS k
      FROM orders GROUP BY 1, 2
    ), cells AS MATERIALIZED (
      SELECT list_sort(list(struct_pack(
               x1 := CAST(x1 AS DOUBLE), x2 := CAST(x2 AS DOUBLE),
               n := CAST(n AS DOUBLE), k := CAST(k AS DOUBLE)))) AS cs,
             count(*) AS n_cells
      FROM grid
    ),
    {", ".join(layers)}
    {final_select or default_select}
    """


@register("stats_logistic_regression", _logit_oracle())
def stats_logistic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression of P(order fully shipped | priority class,
    price bucket) by IRLS on the grouped sufficient-statistic grid:
    one distributed groupBy reduces any row count to <=|grid| cells
    (n, k per cell); 8 Newton steps then run as a single row-local fold
    over the SORTED cell array (aggregate's finish-lambda binds the 3x3
    Hessian once per step for the adjugate solve). Both engines fold the
    same sorted list left-to-right, so even the double-precision sums
    are order-identical — full value parity on the converged
    coefficients and residual deviance."""
    orders = sf_table(spark, sf_dir, "orders")
    grid = orders.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("x1"),
        F.floor(F.col("o_totalprice") / _LOGIT_BUCKET).cast("int").alias("x2"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("k"),
    )
    packed = grid.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("x1").cast("double").alias("x1"),
                    F.col("x2").cast("double").alias("x2"),
                    F.col("n").cast("double").alias("n"),
                    F.col("k").cast("double").alias("k"),
                )
            )
        ).alias("cells"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    return (
        packed.withColumn("beta", F.expr(_logit_spark_fold()))
        .select(
            F.round(F.col("beta.b0"), 6).alias("b0"),
            F.round(F.col("beta.b1"), 6).alias("b1"),
            F.round(F.col("beta.b2"), 6).alias("b2"),
            F.round(F.expr(_logit_spark_deviance()), 4).alias("deviance"),
            F.col("n_cells"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic RANSAC: robust line fit of extendedprice vs quantity
# ---------------------------------------------------------------------------
_RANSAC_S = 32
_RANSAC_EPS = 2000.0


@register(
    "stats_ransac_line",
    f"""
    WITH pts AS MATERIALIZED (
      SELECT CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)
               || ':' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
               || ':' || CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR) AS pk,
             CAST(l_quantity AS DOUBLE) AS x, CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ), ex AS (
      -- hypothesis draws come from a 10% deterministic key-sample; the
      -- md5 draw-key work shrinks 10x while inlier counting still runs
      -- over every point
      SELECT pk, x, y, s FROM pts
      CROSS JOIN (SELECT unnest(range(1, {_RANSAC_S + 1})) AS s)
      WHERE CAST(split_part(pk, ':', 1) AS BIGINT) % 10 = 0
    ), picks AS (
      -- one md5 per (row, s): the 32-hex digest yields two independent
      -- 16-hex draw keys (prefix for point A, suffix half for point B;
      -- 8 hex collides at ~0.4% per draw and ties break differently per
      -- engine)
      SELECT s,
             arg_min(struct_pack(x := x, y := y),
                     substring(md5(pk || ':' || CAST(s AS VARCHAR)), 1, 16)) AS pa,
             arg_min(struct_pack(x := x, y := y),
                     substring(md5(pk || ':' || CAST(s AS VARCHAR)), 17, 16)) AS pb
      FROM ex GROUP BY s
    ), lines AS (
      SELECT s, (pb.y - pa.y) / (pb.x - pa.x) AS slope,
             pa.y - ((pb.y - pa.y) / (pb.x - pa.x)) * pa.x AS icept
      FROM picks WHERE pa.x != pb.x
    ), counted AS (
      SELECT l.s, l.slope, l.icept, count(*) AS n
      FROM pts p CROSS JOIN lines l
      WHERE abs(p.y - (l.icept + l.slope * p.x)) <= {_RANSAC_EPS}
      GROUP BY 1, 2, 3
    )
    SELECT s AS sample_id, round(slope, 6) AS slope, round(icept, 6) AS icept,
           n AS n_inliers,
           round(CAST(n AS DOUBLE) / (SELECT count(*) FROM pts), 6) AS inlier_frac
    FROM counted ORDER BY n DESC, s ASC LIMIT 1
    """,
)
def stats_ransac_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC line fit (extendedprice ~ quantity) with deterministic,
    engine-portable sampling: hypothesis s picks its two points by
    arg-min-of-md5 (two keyed draws, all {_RANSAC_S} hypotheses in ONE
    grouped aggregate over a bounded xS fan-out), inlier counting
    broadcasts the {_RANSAC_S} tiny line rows against the full table —
    linear in rows, no driver loop, no RNG state. The winner maximizes
    the integer inlier count (ties to the lowest sample id), so the
    result is bit-stable: slope/intercept/residuals use only correctly
    rounded IEEE ops, identical on every engine."""
    li = sf_table(spark, sf_dir, "lineitem")
    pts = (
        li.select(
            # (orderkey, linenumber) is NOT unique in the synthetic data;
            # fold the integer-encoded coordinates into the draw key so an
            # md5 tie can only occur between identical points — the pick
            # is then engine-independent regardless of tie-breaking.
            F.concat_ws(
                ":",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                F.col("l_quantity").cast("bigint").cast("string"),
                F.round(F.col("l_extendedprice") * 100).cast("bigint").cast("string"),
            ).alias("pk"),
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").cast("double").alias("y"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()  # eager: the sample branch and the full inlier scan race
    )
    # hypothesis draws from a 10% deterministic key-sample (inlier
    # counting below still scans every point)
    ex = pts.filter(
        F.split(F.col("pk"), ":").getItem(0).cast("bigint") % 10 == 0
    ).select(
        "pk",
        "x",
        "y",
        F.explode(F.sequence(F.lit(1), F.lit(_RANSAC_S))).alias("s"),
    ).withColumn(
        # one md5 per (row, s); prefix/suffix halves are two independent
        # 8-hex draw keys
        "_h",
        F.md5(F.concat_ws(":", "pk", F.col("s").cast("string"))),
    )

    def draw(start: int):
        return F.min_by(F.struct("x", "y"), F.substring("_h", start, 16))

    picks = ex.groupBy("s").agg(draw(1).alias("pa"), draw(17).alias("pb"))
    slope = (F.col("pb.y") - F.col("pa.y")) / (F.col("pb.x") - F.col("pa.x"))
    lines = (
        picks.filter(F.col("pa.x") != F.col("pb.x"))
        .withColumn("slope", slope)
        .select("s", "slope", (F.col("pa.y") - F.col("slope") * F.col("pa.x")).alias("icept"))
    )
    counted = (
        pts.crossJoin(F.broadcast(lines))
        .filter(F.abs(F.col("y") - (F.col("icept") + F.col("slope") * F.col("x"))) <= _RANSAC_EPS)
        .groupBy("s", "slope", "icept")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = pts.count()
    return (
        counted.orderBy(F.desc("n"), F.asc("s"))
        .limit(1)
        .select(
            F.col("s").alias("sample_id"),
            F.round("slope", 6).alias("slope"),
            F.round("icept", 6).alias("icept"),
            F.col("n").alias("n_inliers"),
            F.round(F.col("n").cast("double") / total, 6).alias("inlier_frac"),
        )
    )


# ---------------------------------------------------------------------------
# b-bit MinHash estimator calibration
# ---------------------------------------------------------------------------
_BBIT_B = 4
_BBIT_K = 126
_BBIT_THRESHOLD = 0.8


@register(
    "sketch_bbit_minhash_check",
    f"""
    WITH sh AS MATERIALIZED (
      SELECT DISTINCT doc_id AS doc,
             unnest(list_distinct([substr(text, i, 5)
                     for i in generate_series(1, greatest(length(text)-4, 1))])) AS g
      FROM documents
    ), sizes AS (
      SELECT doc, count(*) AS n FROM sh GROUP BY doc
    ), inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS exact_jaccard,
           TRUE AS bound_ok
    FROM inter
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_BBIT_THRESHOLD}
    """,
)
def sketch_bbit_minhash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash calibration (Li & Koenig 2010): keep only the low
    {_BBIT_B} bits of each of the {_BBIT_K} signature components (16x
    smaller sketch), debias the collision rate by the chance-collision
    floor 2^-b — j_hat = (est - 2^-b)/(1 - 2^-b) — and pin j_hat within
    4 sigma (+family slack) of the exact Jaccard on every verified
    near-dup pair. The oracle recomputes the exact pair set and pins
    ``bound_ok``; an estimator regression turns into a driver hash
    MISMATCH. Same one-shuffle signature build as the LSH path; the
    truncation is a row-local mask."""
    from gemini_data_wrangler_spark.operators.dedup import (
        minhash_signatures,
        with_shingles,
    )
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    docs = sf_table(spark, sf_dir, "documents")
    # Shared eager-checkpointed pair memo: participants + the final pair
    # join both replay its blocks.
    exact = neardup_pairs(
        spark, sf_dir, reuse=True, threshold=_BBIT_THRESHOLD
    ).select("doc_a", "doc_b", "jaccard")
    participants = (
        exact.select(F.col("doc_a").alias("doc_id"))
        .unionAll(exact.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    mask = (1 << _BBIT_B) - 1
    sigs = minhash_signatures(
        with_shingles(
            # spread before the heavy fold — the semi-join inherits the
            # single-split parquet layout (see queries_ext37)
            docs.join(participants, "doc_id", "left_semi")
            .select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"),
            "text",
            5,
        ).select("doc_id", "_shingles"),
        "doc_id",
        num_perm=_BBIT_K,
    ).select(
        "doc_id",
        F.expr(f"transform(_sig, v -> v & {mask})").alias("_bsig"),
    ).localCheckpoint()  # eagerly consumed by both pair-join sides (see queries_ext37)
    est = (
        F.expr("size(filter(zip_with(_ba, _bb, (x, y) -> x = y), m -> m))").cast(
            "double"
        )
        / _BBIT_K
    )
    floor = 1.0 / (1 << _BBIT_B)
    j_hat = (est - F.lit(floor)) / (1.0 - floor)
    sd = F.sqrt(est * (1.0 - est) / _BBIT_K) / (1.0 - floor)
    return (
        exact.join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("_bsig").alias("_ba")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("_bsig").alias("_bb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round("jaccard", 6).alias("exact_jaccard"),
            (F.abs(j_hat - F.col("jaccard")) <= 4 * sd + 0.1).alias("bound_ok"),
        )
    )
