"""Round-2 extensions, batch 96: deterministic permutation test and the
two-sample Cramér-von Mises statistic.

Scale notes:
- PERMUTATION TEST: the exact-in-distribution relabeling test made
  engine-portable — permutation r relabels each row by BIT r%32 of an
  md5-derived 32-bit integer (one md5 per row per 32 permutations, the
  same digest-packing trick as the Poisson bootstrap), so {_PERM_R}
  permutations cost 3 hashes per row. Group sums accumulate in exact
  integer cents, so every permuted mean difference is bit-identical
  across engines and the p-value is an exact integer ratio. One bounded
  x{_PERM_R} fan-out with map-side partial aggregation — the
  distributed-resampling shape again.
- CRAMER-VON MISES: T = nm/N^2 * sum over pooled observations of
  (F_X - F_Y)^2 — computed entirely from cumulative integer counts over
  the sorted distinct-value axis (a window over |distinct values| rows,
  not subjects). The omnibus two-sample test that weighs the whole CDF
  where KS sees only the max gap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Deterministic permutation test for the segment mean-value difference
# ---------------------------------------------------------------------------
_PERM_R = 96  # 3 md5 digests per row (32 label bits per digest)


@register(
    "stats_permutation_test",
    f"""
    WITH base AS MATERIALIZED (
      SELECT o_orderkey AS okey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), obs AS (
      SELECT (sum(CASE WHEN g = 1 THEN cents ELSE 0 END) * 1.0
                / sum(g)
              - sum(CASE WHEN g = 0 THEN cents ELSE 0 END) * 1.0
                / sum(1 - g)) / 100.0 AS d_obs
      FROM base
    ), lab AS MATERIALIZED (
      SELECT r, cents,
             (CAST(list_sum(list_transform(range(1, 9), i ->
                  (strpos('0123456789abcdef',
                          substring(md5(CAST(okey AS VARCHAR) || ':'
                                        || CAST((r - 1) // 32 AS VARCHAR)), i, 1)) - 1)
                  * power(16, 8 - i))) AS BIGINT) >> ((r - 1) % 32)) & 1 AS gl
      FROM base CROSS JOIN (SELECT unnest(range(1, {_PERM_R + 1})) AS r)
    ), perm AS MATERIALIZED (
      SELECT r,
             (sum(CASE WHEN gl = 1 THEN cents ELSE 0 END) * 1.0
                / NULLIF(sum(gl), 0)
              - sum(CASE WHEN gl = 0 THEN cents ELSE 0 END) * 1.0
                / NULLIF(sum(1 - gl), 0)) / 100.0 AS d
      FROM lab GROUP BY r
    )
    SELECT round(obs.d_obs, 4) AS observed_diff,
           {_PERM_R} AS n_permutations,
           sum(CASE WHEN abs(perm.d) >= abs(obs.d_obs) THEN 1 ELSE 0 END)
             AS n_as_extreme,
           round((1.0 + sum(CASE WHEN abs(perm.d) >= abs(obs.d_obs)
                                 THEN 1 ELSE 0 END)) / (1.0 + {_PERM_R}), 6)
             AS p_value
    FROM perm CROSS JOIN obs
    GROUP BY obs.d_obs
    """,
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the BUILDING-vs-rest mean order value: each of
    {_PERM_R} permutations relabels every order by one BIT of an
    md5-derived 32-bit integer (3 digests per row for all permutations),
    group sums run in exact integer cents, and the p-value is the exact
    add-one ratio of as-extreme permuted differences. The distribution-
    free two-sample test with zero RNG state and full cross-engine
    determinism."""
    orders = sf_table(spark, sf_dir, "orders")
    customer = sf_table(spark, sf_dir, "customer")
    base = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .select(
            F.col("o_orderkey").alias("okey"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("g"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
        # eager: obs and the exploded lab branch both scan this frame
        .localCheckpoint()
    )
    obs = base.agg(
        (
            (
                F.sum(F.when(F.col("g") == 1, F.col("cents")).otherwise(0)) * 1.0
                / F.sum("g")
                - F.sum(F.when(F.col("g") == 0, F.col("cents")).otherwise(0)) * 1.0
                / F.sum(1 - F.col("g"))
            )
            / 100.0
        ).alias("d_obs")
    )
    # Hoist the md5 digests ABOVE the 96-way explode: each order row needs
    # only ceil(R/32)=3 digests, so compute them once into an array in a
    # project BELOW the Generate, then the post-explode expression merely
    # indexes bits — 32× fewer hashes than digesting per (okey, r) row.
    n_digests = -(-_PERM_R // 32)
    digests = F.array(
        *[
            F.expr(
                "CAST(conv(substring(md5(concat(cast(okey as string),"
                f" ':', '{j}')), 1, 8), 16, 10) AS BIGINT)"
            )
            for j in range(n_digests)
        ]
    )
    # SQL-form shiftright accepts an expression shift amount (the Python
    # API requires a literal int)
    gl = F.expr(
        "shiftright(element_at(_digs, CAST((r - 1) div 32 AS INT) + 1),"
        " CAST((r - 1) % 32 AS INT)) & 1"
    )
    lab = (
        base.select("cents", digests.alias("_digs"))
        .select(
            "cents",
            "_digs",
            F.explode(F.sequence(F.lit(1), F.lit(_PERM_R))).alias("r"),
        )
        .select("r", "cents", gl.alias("gl"))
    )
    perm = lab.groupBy("r").agg(
        (
            (
                F.sum(F.when(F.col("gl") == 1, F.col("cents")).otherwise(0)) * 1.0
                / F.sum("gl")
                - F.sum(F.when(F.col("gl") == 0, F.col("cents")).otherwise(0)) * 1.0
                / F.sum(1 - F.col("gl"))
            )
            / 100.0
        ).alias("d")
    )
    extreme = F.when(F.abs(F.col("d")) >= F.abs(F.col("d_obs")), 1).otherwise(0)
    return (
        perm.crossJoin(F.broadcast(obs))
        .groupBy("d_obs")
        .agg(
            F.lit(_PERM_R).alias("n_permutations"),
            F.sum(extreme).alias("n_as_extreme"),
            F.round((1.0 + F.sum(extreme)) / (1.0 + _PERM_R), 6).alias("p_value"),
        )
        .select(
            F.round("d_obs", 4).alias("observed_diff"),
            "n_permutations",
            "n_as_extreme",
            "p_value",
        )
    )


# ---------------------------------------------------------------------------
# Two-sample Cramér-von Mises over the pooled value axis
# ---------------------------------------------------------------------------
@register(
    "stats_cramer_von_mises",
    """
    WITH v AS MATERIALIZED (
      SELECT c_acctbal AS z,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
      FROM customer
    ), cnt AS MATERIALIZED (
      SELECT z, sum(g) AS cx, sum(1 - g) AS cy, count(*) AS c
      FROM v GROUP BY z
    ), tot AS (SELECT sum(cx) AS n, sum(cy) AS m FROM cnt),
    cum AS (
      SELECT z, c,
             sum(cx) OVER (ORDER BY z ROWS UNBOUNDED PRECEDING) AS fx,
             sum(cy) OVER (ORDER BY z ROWS UNBOUNDED PRECEDING) AS fy
      FROM cnt
    )
    SELECT tot.n, tot.m,
           round(CAST(tot.n AS DOUBLE) * tot.m
                   / ((tot.n + tot.m) * (tot.n + tot.m))
                 * sum(c * (CAST(fx AS DOUBLE)/tot.n - CAST(fy AS DOUBLE)/tot.m)
                         * (CAST(fx AS DOUBLE)/tot.n - CAST(fy AS DOUBLE)/tot.m)),
                 6) AS cvm_t
    FROM cum CROSS JOIN tot
    GROUP BY tot.n, tot.m
    """,
)
def stats_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises statistic for BUILDING vs rest
    account balances: T = nm/N^2 * sum over pooled observations of
    (F_X - F_Y)^2, computed from cumulative integer counts over the
    sorted distinct-value axis — the whole-CDF omnibus companion to the
    KS max-gap test (`corpus_ks_drift_test`). One grouped pass then a
    bounded ordered window."""
    cust = sf_table(spark, sf_dir, "customer")
    v = cust.select(
        F.col("c_acctbal").alias("z"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("g"),
    )
    cnt = v.groupBy("z").agg(
        F.sum("g").alias("cx"),
        F.sum(1 - F.col("g")).alias("cy"),
        F.count(F.lit(1)).alias("c"),
    )
    tot = cnt.agg(F.sum("cx").alias("n"), F.sum("cy").alias("m"))
    # Distributed prefix sums (`two_level_cumsum`, block = floor(z)
    # value buckets) — hash-partitioned CDF pass over the distinct-value
    # axis.
    from gemini_data_wrangler_spark.operators.window import two_level_cumsum

    cum = two_level_cumsum(
        cnt,
        key=F.col("z"),
        tiebreaks=[],
        block=F.floor("z").cast("long"),
        sums={"fx": F.col("cx"), "fy": F.col("cy")},
    ).select("z", "c", "fx", "fy")
    j = cum.crossJoin(F.broadcast(tot))
    gap = F.col("fx").cast("double") / F.col("n") - F.col("fy").cast("double") / F.col(
        "m"
    )
    return j.groupBy("n", "m").agg(
        F.round(
            F.col("n").cast("double")
            * F.col("m")
            / ((F.col("n") + F.col("m")) * (F.col("n") + F.col("m")))
            * F.sum(F.col("c") * gap * gap),
            6,
        ).alias("cvm_t")
    )
