"""Round-2 extensions, batch 57: sorted-neighborhood blocking, certified
rank-join top-k, Gini mean difference.

Scale notes:
- SORTED NEIGHBORHOOD is the second classic ER blocking paradigm
  (Hernández & Stolfo 1995): sort once on a sort key, compare each
  record only to its w nearest neighbors — candidates are exactly
  n·w regardless of block-size skew (nation blocking's weakness:
  one huge block is quadratic). One range-partitioned sort + lead
  windows; completeness is audited against the same bounded truth as
  `er_blocking_quality`.
- RANK JOIN (top-k over a join by combined score) with a THRESHOLD
  CERTIFICATE: join only the top-m prefix of each input and prove
  m sufficed — the k-th combined score must beat the best possible
  score any unseen pair could reach (Fagin's threshold test). Work is
  m² on prefixes, never |L|·|R|, and the certificate makes the
  shortcut exact, not heuristic.
- GINI MEAN DIFFERENCE turns the O(n²) mean pairwise |xᵢ−xⱼ| into a
  sort + rank identity Σ(2i−n−1)x₍ᵢ₎ — the standard trick for
  pairwise statistics at scale (per-group windows keep the sort
  partitioned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Sorted-neighborhood ER blocking audit
# ---------------------------------------------------------------------------
_SN_W = 4        # window: compare to the next w records in sort order
_SN_KEY_CAP = 4000
_SN_DIST = 2


@register(
    "er_sorted_neighborhood",
    f"""
    WITH c AS MATERIALIZED (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey <= {_SN_KEY_CAP}
    ), s AS MATERIALIZED (
      SELECT c_custkey, c_name,
             row_number() OVER (ORDER BY c_name, c_custkey) AS rn
      FROM c
    ), cand AS MATERIALIZED (
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM s a JOIN s b ON b.rn > a.rn AND b.rn <= a.rn + {_SN_W}
    ), truth AS MATERIALIZED (
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= {_SN_DIST}
    ), hits AS (
      SELECT count(*) AS n_found FROM truth t
      WHERE EXISTS (SELECT 1 FROM cand x
                    WHERE (x.ka = t.ka AND x.kb = t.kb)
                       OR (x.ka = t.kb AND x.kb = t.ka))
    )
    SELECT (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*) FROM truth) AS n_true,
           (SELECT n_found FROM hits) AS n_true_found,
           round((SELECT n_found FROM hits)
                 / CAST((SELECT count(*) FROM truth) AS DOUBLE), 6)
             AS pairs_completeness
    """,
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking audit: sort records on the name
    key, take each record's next {_SN_W} neighbors as candidates
    (n·w candidates TOTAL — immune to the block-size skew that makes
    attribute blocking quadratic in the biggest block), and measure
    pairs completeness against the bounded all-pairs truth
    (levenshtein ≤ {_SN_DIST}, keys ≤ {_SN_KEY_CAP}). Near-identical
    names sort adjacently, so completeness stays high at a fraction of
    nation-blocking's candidate count (`er_blocking_quality` is the
    comparison row). Candidates come from lead(key, i) windows over the
    sort order — one pass, n·w rows, no rank self-join (round 7)."""
    cust = (
        sf_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= _SN_KEY_CAP)
        .select("c_custkey", "c_name")
    )
    # "Each record's next w neighbors in sort order" is lead(key, i) for
    # i = 1..w over the SAME ordering the rank join used — identical pair
    # set, but one window pass instead of a BroadcastNestedLoopJoin that
    # compared every (a, b) rank pair (n² row comparisons for n·w
    # survivors; the round-7 before-plan shows the NLJ node).
    w_sort = Window.orderBy("c_name", "c_custkey")
    cand = (
        cust.select(
            F.col("c_custkey").alias("ka"),
            F.array(
                *[F.lead("c_custkey", i).over(w_sort) for i in range(1, _SN_W + 1)]
            ).alias("_nbrs"),
        )
        .select("ka", F.explode("_nbrs").alias("kb"))
        .filter(F.col("kb").isNotNull())
    )
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    ta = cust.repartition(n_parts, F.col("c_custkey")).select(
        F.col("c_custkey").alias("ka"), F.col("c_name").alias("_na")
    )
    tb = cust.select(F.col("c_custkey").alias("kb"), F.col("c_name").alias("_nb"))
    truth = (
        ta.crossJoin(F.broadcast(tb))
        .filter(F.col("ka") < F.col("kb"))
        .filter(F.levenshtein("_na", "_nb", _SN_DIST) >= 0)
        .select("ka", "kb")
    )
    sym = cand.unionAll(
        cand.select(F.col("kb").alias("ka"), F.col("ka").alias("kb"))
    ).distinct()
    found = truth.join(sym, ["ka", "kb"], "left_semi")
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_true"))
    nf = found.agg(F.count(F.lit(1)).alias("n_true_found"))
    return (
        nc.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nf))
        .select(
            "n_candidates",
            "n_true",
            "n_true_found",
            F.round(
                F.col("n_true_found") / F.col("n_true").cast("double"), 6
            ).alias("pairs_completeness"),
        )
    )


# ---------------------------------------------------------------------------
# Certified rank join: top-k (order, customer) pairs by combined score
# ---------------------------------------------------------------------------
_RJ_K = 10
_RJ_M = 50  # prefix depth per input


@register(
    "join_rank_topk_certified",
    f"""
    WITH ta AS (
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT {_RJ_M}
    ), tb AS (
      SELECT c_custkey, c_acctbal FROM customer
      ORDER BY c_acctbal DESC, c_custkey LIMIT {_RJ_M}
    ), pairs AS (
      SELECT o_orderkey, c_custkey,
             round(o_totalprice + 100 * c_acctbal, 6) AS score
      FROM ta CROSS JOIN tb
    ), topk AS (
      SELECT * FROM pairs ORDER BY score DESC, o_orderkey, c_custkey LIMIT {_RJ_K}
    ), cert AS (
      SELECT (SELECT min(score) FROM topk) >=
             round(greatest(
               (SELECT min(o_totalprice) FROM ta) + 100 * (SELECT max(c_acctbal) FROM tb),
               (SELECT max(o_totalprice) FROM ta) + 100 * (SELECT min(c_acctbal) FROM tb)
             ), 6) AS certified
    )
    SELECT o_orderkey, c_custkey, score, (SELECT certified FROM cert) AS certified
    FROM topk
    """,
)
def join_rank_topk_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank join with Fagin-style threshold certificate: the top-{_RJ_K}
    (order, customer) pairs by combined score, computed from only the
    top-{_RJ_M} prefix of EACH input. `certified` proves the shortcut
    exact: the k-th kept score must dominate the best score any unseen
    pair could achieve (an unseen pair has at least one member below
    its prefix floor, so its score is bounded by floor + the other
    side's max). m² prefix work replaces the |orders|×|customers|
    cross join — the certificate, not hope, is what makes it safe."""
    orders = sf_table(spark, sf_dir, "orders")
    cust = sf_table(spark, sf_dir, "customer")
    ta = (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(_RJ_M)
        .select("o_orderkey", "o_totalprice")
    )
    tb = (
        cust.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(_RJ_M)
        .select("c_custkey", "c_acctbal")
    )
    pairs = ta.crossJoin(F.broadcast(tb)).select(
        "o_orderkey",
        "c_custkey",
        F.round(F.col("o_totalprice") + 100 * F.col("c_acctbal"), 6).alias("score"),
        "o_totalprice",
        "c_acctbal",
    )
    topk = pairs.orderBy(
        F.col("score").desc(), F.col("o_orderkey"), F.col("c_custkey")
    ).limit(_RJ_K)
    bounds = ta.agg(
        F.min("o_totalprice").alias("amin"), F.max("o_totalprice").alias("amax")
    ).crossJoin(
        tb.agg(F.min("c_acctbal").alias("bmin"), F.max("c_acctbal").alias("bmax"))
    )
    kth = topk.agg(F.min("score").alias("kth"))
    cert = bounds.crossJoin(F.broadcast(kth)).select(
        (
            F.col("kth")
            >= F.round(
                F.greatest(
                    F.col("amin") + 100 * F.col("bmax"),
                    F.col("amax") + 100 * F.col("bmin"),
                ),
                6,
            )
        ).alias("certified")
    )
    return topk.select("o_orderkey", "c_custkey", "score").crossJoin(
        F.broadcast(cert)
    )


# ---------------------------------------------------------------------------
# Gini mean difference via the sort identity (no pairwise join)
# ---------------------------------------------------------------------------
@register(
    "agg_gini_mean_difference",
    """
    WITH r AS (
      SELECT o_orderpriority AS grp, o_totalprice AS x,
             row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey) AS i,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT grp, any_value(n) AS n,
           round(2.0 * sum((2.0 * i - n - 1) * x) / (CAST(any_value(n) AS DOUBLE) * (any_value(n) - 1)), 6)
             AS gini_mean_diff
    FROM r GROUP BY grp
    """,
)
def agg_gini_mean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini mean difference (mean pairwise |xᵢ − xⱼ|) of order value
    per priority — the robust spread measure behind the Gini
    coefficient — computed WITHOUT the O(n²) pair join via the order-
    statistic identity Δ = 2·Σ(2i−n−1)x₍ᵢ₎ / (n(n−1)): one ranking
    window per group + one aggregate. The standard pattern for pairwise
    statistics at scale — sort once, weight by rank, never materialize
    pairs (the test proves equality against the brute-force pair mean
    on a subset).

    Scale: o_orderpriority has ~5 values, so a plain PARTITION BY window
    funnels n/5 rows through single tasks; instead the per-group rank is
    the grouped two-level shape (`two_level_rank(parts=[grp])`, block =
    floor(price) value buckets), fully hash-distributed, and the group
    sizes are a broadcast 5-row aggregate."""
    from gemini_data_wrangler_spark.operators.window import two_level_rank

    orders = sf_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("x"),
        "o_orderkey",
    )
    sizes = base.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    r = two_level_rank(
        base,
        key=F.col("x"),
        tiebreaks=[F.col("o_orderkey")],
        block=F.floor("x").cast("long"),
        out_col="i",
        parts=["grp"],
    ).join(F.broadcast(sizes), "grp")
    return r.groupBy("grp").agg(
        F.first("n").alias("n"),
        F.round(
            2.0
            * F.sum((2.0 * F.col("i") - F.col("n") - 1) * F.col("x"))
            / (F.first("n").cast("double") * (F.first("n") - 1)),
            6,
        ).alias("gini_mean_diff"),
    )
