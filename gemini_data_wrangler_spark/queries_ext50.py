"""Round-2 extensions, batch 50: hard-negative mining, length-bucket
padding audit, group-leakage split audit, importance weights.

Scale notes:
- HARD NEGATIVES reuse the broadcast-query cosine scan: per anchor,
  nearest vectors with a DIFFERENT label — one label filter inside the
  existing top-k window, zero new shuffles beyond `cosine_topk`. At
  corpus scale the candidate stream routes through the same LSH/IVF
  tiers as every other similarity query.
- LENGTH BUCKETS is a histogram over power-of-two token-length bins
  with padding-waste arithmetic per bin — one pass, domain-bounded.
- The SPLIT LEAKAGE AUDIT contrasts row-hash vs group-hash assignment
  with two aggregates over (customer → splits-touched); the leak count
  is an exact distributed measurement, not a sample.
- IMPORTANCE WEIGHTS are density ratios over a fixed bin grid plus the
  effective-sample-size reduction — PSI's machinery pointed at
  reweighting instead of alerting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Hard-negative mining: nearest different-label vectors per anchor
# ---------------------------------------------------------------------------
_HN_K = 3
_HN_ANCHORS = (0, 1, 2, 3, 4)


@register(
    "embedding_hard_negatives",
    f"""
    WITH q AS (
      SELECT vec_id AS anchor_id, embedding AS qv, label AS alabel
      FROM embeddings WHERE vec_id IN {str(_HN_ANCHORS)}
    ), scored AS (
      SELECT q.anchor_id, e.vec_id, e.label,
             round(
               list_sum(list_transform(list_zip(q.qv, e.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             6) AS sim
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id != q.anchor_id AND e.label != q.alabel
    )
    SELECT anchor_id, vec_id, label, sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY anchor_id
                 ORDER BY sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {_HN_K}
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-{_HN_K} most similar vectors with a DIFFERENT label — the
    negatives that actually move a contrastive loss (random negatives
    are trivially separable; the hard ones sit just across the
    boundary). Same broadcast-anchor scan as `cosine_topk` with the
    label-mismatch filter applied BEFORE the ranking window, so the
    per-anchor state stays k rows; LSH/IVF tiers bound candidates at
    corpus scale."""
    from gemini_data_wrangler_spark.functions.vectors import cosine_similarity

    emb = sf_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(*_HN_ANCHORS)).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("_q"),
        F.col("label").alias("_alabel"),
    )
    cand = emb.select("vec_id", "label", F.col("embedding").alias("_v"))
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("anchor_id"))
            & (F.col("label") != F.col("_alabel"))
        )
        .withColumn("sim", F.round(cosine_similarity(F.col("_q"), F.col("_v")), 6))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_K)
        .select("anchor_id", "vec_id", "label", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching audit: padding waste per power-of-two bucket
# ---------------------------------------------------------------------------
@register(
    "pack_length_buckets",
    r"""
    WITH lens AS (
      SELECT len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
      FROM documents
    ), b AS (
      SELECT n_tok,
             CAST(power(2, ceil(ln(CAST(n_tok AS DOUBLE)) / ln(2))) AS BIGINT)
               AS bucket_cap
      FROM lens
    )
    SELECT bucket_cap, count(*) AS n_docs,
           sum(n_tok) AS real_tokens,
           count(*) * bucket_cap AS padded_tokens,
           round(1 - sum(n_tok) / CAST(count(*) * bucket_cap AS DOUBLE), 6)
             AS padding_waste
    FROM b GROUP BY bucket_cap
    """,
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: assign each document to the
    power-of-two token bucket that would hold it, and measure the
    padding waste per bucket (1 − real/padded tokens) — the accounting
    that decides between naive padding, length bucketing, and full
    sequence packing (`pack_sequences` is the zero-waste endpoint; this
    quantifies what bucketing alone recovers). One row-local bucket
    expression + a domain-bounded histogram aggregate."""
    docs = sf_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    bucket = F.pow(
        F.lit(2.0), F.ceil(F.log(n_tok.cast("double")) / F.lit(float(__import__("math").log(2))))
    ).cast("bigint")
    b = docs.select(n_tok.alias("n_tok"), bucket.alias("bucket_cap"))
    return b.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("real_tokens"),
        (F.count(F.lit(1)) * F.col("bucket_cap")).alias("padded_tokens"),
        F.round(
            1
            - F.sum("n_tok")
            / (F.count(F.lit(1)) * F.col("bucket_cap")).cast("double"),
            6,
        ).alias("padding_waste"),
    )


# ---------------------------------------------------------------------------
# Train/test split leakage audit: row-hash vs group-hash assignment
# ---------------------------------------------------------------------------
@register(
    "split_group_leakage_audit",
    """
    WITH assigned AS (
      SELECT o_custkey,
             CASE WHEN md5(CAST(o_orderkey AS VARCHAR)) < 'c' THEN 'train' ELSE 'test' END AS row_split,
             CASE WHEN md5(CAST(o_custkey AS VARCHAR)) < 'c' THEN 'train' ELSE 'test' END AS grp_split
      FROM orders
    ), by_cust AS (
      SELECT o_custkey,
             count(DISTINCT row_split) AS row_splits_touched,
             count(DISTINCT grp_split) AS grp_splits_touched
      FROM assigned GROUP BY o_custkey
    )
    SELECT count(*) AS n_customers,
           count(*) FILTER (WHERE row_splits_touched > 1) AS row_hash_leaky_customers,
           count(*) FILTER (WHERE grp_splits_touched > 1) AS group_hash_leaky_customers,
           round(count(*) FILTER (WHERE row_splits_touched > 1)
                 / CAST(count(*) AS DOUBLE), 6) AS row_hash_leak_rate
    FROM by_cust
    """,
)
def split_group_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: assign orders to train/test by ROW hash
    (md5 of orderkey) vs GROUP hash (md5 of custkey, ~75/25) and count
    customers whose orders straddle both splits. Row-hash leaks almost
    every multi-order customer across the boundary (the model meets the
    test customer during training — inflated eval); group-hash leaks
    exactly zero BY CONSTRUCTION, and this query measures both, it does
    not assume. Two hash aggregates; the leak count is exact."""
    orders = sf_table(spark, sf_dir, "orders")
    assigned = orders.select(
        "o_custkey",
        F.when(F.md5(F.col("o_orderkey").cast("string")) < "c", "train")
        .otherwise("test")
        .alias("row_split"),
        F.when(F.md5(F.col("o_custkey").cast("string")) < "c", "train")
        .otherwise("test")
        .alias("grp_split"),
    )
    by_cust = assigned.groupBy("o_custkey").agg(
        F.countDistinct("row_split").alias("row_splits_touched"),
        F.countDistinct("grp_split").alias("grp_splits_touched"),
    )
    return by_cust.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count(F.when(F.col("row_splits_touched") > 1, 1)).alias(
            "row_hash_leaky_customers"
        ),
        F.count(F.when(F.col("grp_splits_touched") > 1, 1)).alias(
            "group_hash_leaky_customers"
        ),
        F.round(
            F.count(F.when(F.col("row_splits_touched") > 1, 1))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("row_hash_leak_rate"),
    )


# ---------------------------------------------------------------------------
# Importance weights for domain adaptation + effective sample size
# ---------------------------------------------------------------------------
_IW_BINS = 10
_IW_LO, _IW_HI = 0.0, 600000.0


@register(
    "sample_importance_weights",
    f"""
    WITH binned AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'source' ELSE 'target' END AS period,
             least(CAST(floor((o_totalprice - {_IW_LO}) / (({_IW_HI} - {_IW_LO}) / {_IW_BINS})) AS INT),
                   {_IW_BINS - 1}) AS bin
      FROM orders
    ), c AS (
      SELECT bin,
             count(*) FILTER (WHERE period = 'source') AS ns,
             count(*) FILTER (WHERE period = 'target') AS nt
      FROM binned GROUP BY bin
    ), tot AS (SELECT sum(ns) AS ts, sum(nt) AS tt FROM c),
    w AS (
      SELECT bin, ns,
             (greatest(nt, 1) / CAST(tt AS DOUBLE))
               / (greatest(ns, 1) / CAST(ts AS DOUBLE)) AS weight
      FROM c CROSS JOIN tot
    )
    SELECT bin, ns AS n_source_rows, round(weight, 6) AS weight,
           round(power(sum(ns * weight) OVER (), 2)
                 / sum(CAST(ns AS DOUBLE) * weight * weight) OVER ()
                 / sum(ns) OVER (), 6) AS ess_fraction
    FROM w
    """,
)
def sample_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights for training on SOURCE-period orders while
    matching the TARGET-period price distribution: per-bin density
    ratio w = p_target/p_source (floored counts so empty bins stay
    finite), plus the effective-sample-size fraction (Σnw)²/(n·Σnw²) —
    the number that says whether reweighting is viable (ESS → 0 means
    the domains barely overlap and you need new data, not weights).
    PSI's bin machinery pointed at reweighting; one scan, bounded
    grid, constant-size ESS reduction."""
    orders = sf_table(spark, sf_dir, "orders")
    width = (_IW_HI - _IW_LO) / _IW_BINS
    binned = orders.select(
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), "source"
        )
        .otherwise("target")
        .alias("period"),
        F.least(
            F.floor((F.col("o_totalprice") - _IW_LO) / width).cast("int"),
            F.lit(_IW_BINS - 1),
        ).alias("bin"),
    )
    c = binned.groupBy("bin").agg(
        F.count(F.when(F.col("period") == "source", 1)).alias("ns"),
        F.count(F.when(F.col("period") == "target", 1)).alias("nt"),
    )
    tot = c.agg(F.sum("ns").alias("ts"), F.sum("nt").alias("tt"))
    w = c.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ns",
        (
            (F.greatest("nt", F.lit(1)) / F.col("tt").cast("double"))
            / (F.greatest("ns", F.lit(1)) / F.col("ts").cast("double"))
        ).alias("weight"),
    )
    ww = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return w.select(
        "bin",
        F.col("ns").alias("n_source_rows"),
        F.round("weight", 6).alias("weight"),
        F.round(
            F.pow(F.sum(F.col("ns") * F.col("weight")).over(ww), 2)
            / F.sum(F.col("ns").cast("double") * F.col("weight") * F.col("weight")).over(ww)
            / F.sum("ns").over(ww),
            6,
        ).alias("ess_fraction"),
    )
