"""Round-2 extensions, batch 56: bitmap-index membership, Brier
decomposition, popularity MRR.

Scale notes:
- BITMAP MEMBERSHIP demonstrates the compressed-bitmap-index shape:
  entities hash into a fixed bucket universe, each (segment, word)
  holds a 64-bit OR-aggregate, and segment intersections become
  word-aligned AND + popcount — set algebra at 1 bit/entity-bucket,
  joined on word index (5 rows per segment, independent of entity
  count). The exact-count parity column proves the bitmap math against
  the plain distinct-bucket join.
- BRIER DECOMPOSITION (Murphy 1973) is the binned reliability /
  resolution / uncertainty split — three aggregates over a fixed bin
  grid; the identity brier = reliability − resolution + uncertainty is
  returned as a checkable column.
- MRR extends `rec_popularity_hitrate` from "any hit" to "how high was
  the hit": rank of each test purchase's brand in the train-popularity
  ranking (broadcast, |brands|-bounded), mean reciprocal rank per
  customer then overall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import load_sf_tables, sf_table


# ---------------------------------------------------------------------------
# Bitmap-index membership and intersection
# ---------------------------------------------------------------------------
_BM_BUCKETS = 256  # bucket universe -> 5 words of 63 used bits each


@register(
    "sketch_bitmap_membership",
    f"""
    WITH b AS (
      SELECT DISTINCT c_mktsegment AS seg,
             CAST(c_custkey % {_BM_BUCKETS} AS BIGINT) AS bucket
      FROM customer
    ), words AS (
      SELECT seg, bucket // 63 AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(bucket % 63 AS INT)) AS bits
      FROM b GROUP BY 1, 2
    ), pairs AS (
      SELECT a.seg AS seg_a, c.seg AS seg_b,
             sum(bit_count(a.bits & c.bits)) AS bitmap_intersection
      FROM words a JOIN words c ON a.w = c.w AND a.seg < c.seg
      GROUP BY 1, 2
    ), exact AS (
      SELECT x.seg AS seg_a, y.seg AS seg_b, count(*) AS exact_intersection
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.seg < y.seg
      GROUP BY 1, 2
    )
    SELECT p.seg_a, p.seg_b, p.bitmap_intersection, e.exact_intersection,
           (p.bitmap_intersection = e.exact_intersection) AS bitmap_exact
    FROM pairs p JOIN exact e ON p.seg_a = e.seg_a AND p.seg_b = e.seg_b
    """,
)
def sketch_bitmap_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index set algebra: each market segment's customer-bucket
    membership packed into 63-bit words (bit 63 stays clear: DuckDB refuses the signed 1<<63 overflow that Java silently wraps) via `bit_or`, pairwise segment
    intersections computed as word-aligned AND + `bit_count` — the
    bitmap-index mechanics behind fast audience/segment overlap at
    1 bit per bucket (a {_BM_BUCKETS}-bucket universe is 5 longs per
    segment regardless of customer count; production uses roaring
    compression for sparse universes). The `bitmap_exact` column proves
    the bitwise math equals the plain distinct-bucket join."""
    cust = sf_table(spark, sf_dir, "customer")
    b = cust.select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_custkey") % _BM_BUCKETS).cast("bigint").alias("bucket"),
    ).distinct()
    words = b.groupBy(
        "seg", F.expr("bucket div 63").alias("w")
    ).agg(
        F.expr("bit_or(CAST(1 AS BIGINT) << CAST(bucket % 63 AS INT))").alias(
            "bits"
        )
    )
    wa = words.select(
        F.col("seg").alias("seg_a"), "w", F.col("bits").alias("ba")
    )
    wb = words.select(
        F.col("seg").alias("seg_b"), F.col("w").alias("w2"), F.col("bits").alias("bb")
    )
    pairs = (
        wa.join(wb, (F.col("w") == F.col("w2")) & (F.col("seg_a") < F.col("seg_b")))
        .groupBy("seg_a", "seg_b")
        .agg(
            F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb")))).alias(
                "bitmap_intersection"
            )
        )
    )
    xa = b.select(F.col("seg").alias("seg_a"), "bucket")
    xb = b.select(F.col("seg").alias("seg_b"), F.col("bucket").alias("bucket2"))
    exact = (
        xa.join(
            xb,
            (F.col("bucket") == F.col("bucket2"))
            & (F.col("seg_a") < F.col("seg_b")),
        )
        .groupBy("seg_a", "seg_b")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return pairs.join(exact, ["seg_a", "seg_b"]).select(
        "seg_a",
        "seg_b",
        "bitmap_intersection",
        "exact_intersection",
        (F.col("bitmap_intersection") == F.col("exact_intersection")).alias(
            "bitmap_exact"
        ),
    )


# ---------------------------------------------------------------------------
# Brier score decomposition (reliability / resolution / uncertainty)
# ---------------------------------------------------------------------------
_BR_BINS = 10


@register(
    "quality_brier_decomposition",
    f"""
    WITH scored AS (
      SELECT least(greatest(
               CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS DOUBLE)
               / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) * 5, 0.0), 1.0) AS p,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    ), binned AS (
      SELECT least(CAST(floor(p * {_BR_BINS}) AS INT), {_BR_BINS - 1}) AS bin, p, y
      FROM scored
    ), cells AS (
      SELECT bin, count(*) AS nk, avg(p) AS pk, avg(y) AS yk FROM binned GROUP BY bin
    ), tot AS (
      SELECT count(*) AS n, avg(y) AS ybar,
             round(avg((p - y) * (p - y)), 6) AS brier
      FROM binned
    )
    SELECT brier,
           round(sum(nk * (pk - yk) * (pk - yk)) / n, 6) AS reliability,
           round(sum(nk * (yk - ybar) * (yk - ybar)) / n, 6) AS resolution,
           round(ybar * (1 - ybar), 6) AS uncertainty,
           (abs(brier - (sum(nk * (pk - yk) * (pk - yk)) / n
                         - sum(nk * (yk - ybar) * (yk - ybar)) / n
                         + ybar * (1 - ybar))) < 0.01) AS decomposition_ok
    FROM cells CROSS JOIN tot
    GROUP BY brier, n, ybar
    """,
)
def quality_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for the (scaled)
    stopword-ratio score as a probability that lang = 'en':
    brier ≈ reliability − resolution + uncertainty, where reliability
    is the binned miscalibration (what `quality_calibration_bins`
    shows), resolution is how much the bins separate outcomes, and
    uncertainty is the outcome's intrinsic variance — the decomposition
    that tells you whether to RECALIBRATE (high reliability term) or
    get better FEATURES (low resolution). Within-bin mean identity
    holds only approximately, so `decomposition_ok` gates at 0.01.
    Fixed bin grid; three bounded aggregates."""
    docs = sf_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    stop_hits = F.size(
        F.filter(
            toks,
            lambda t: t.isin(
                "the", "a", "of", "and", "to", "in", "is", "that", "it", "for"
            ),
        )
    )
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    p = F.least(
        F.greatest(
            stop_hits.cast("double") / F.greatest(n_tokens, F.lit(1)) * 5,
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    scored = docs.select(
        p.alias("p"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    binned = scored.withColumn(
        "bin",
        F.least(F.floor(F.col("p") * _BR_BINS).cast("int"), F.lit(_BR_BINS - 1)),
    )
    cells = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("nk"),
        F.avg("p").alias("pk"),
        F.avg("y").alias("yk"),
    )
    tot = binned.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("ybar"),
        F.round(F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))), 6).alias(
            "brier"
        ),
    )
    rel = F.sum(F.col("nk") * (F.col("pk") - F.col("yk")) * (F.col("pk") - F.col("yk"))) / F.col("n")
    res = F.sum(F.col("nk") * (F.col("yk") - F.col("ybar")) * (F.col("yk") - F.col("ybar"))) / F.col("n")
    unc = F.col("ybar") * (1 - F.col("ybar"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("brier", "n", "ybar")
        .agg(
            F.round(rel, 6).alias("reliability"),
            F.round(res, 6).alias("resolution"),
            F.round(unc, 6).alias("uncertainty"),
            (F.abs(F.col("brier") - (rel - res + unc)) < 0.01).alias(
                "decomposition_ok"
            ),
        )
        .select(
            "brier", "reliability", "resolution", "uncertainty", "decomposition_ok"
        )
    )


# ---------------------------------------------------------------------------
# Popularity-recommender mean reciprocal rank
# ---------------------------------------------------------------------------
_MRR_SPLIT = "1998-01-01"


@register(
    "rec_popularity_mrr",
    f"""
    WITH joined AS (
      SELECT o.o_custkey, o.o_orderdate, p.p_brand
      FROM orders o
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
    ), ranking AS (
      SELECT p_brand,
             row_number() OVER (ORDER BY count(*) DESC, p_brand ASC) AS brand_rank
      FROM joined WHERE o_orderdate < TIMESTAMP '{_MRR_SPLIT}'
      GROUP BY p_brand
    ), per_cust AS (
      SELECT j.o_custkey,
             max(1.0 / r.brand_rank) AS rr
      FROM joined j JOIN ranking r ON j.p_brand = r.p_brand
      WHERE j.o_orderdate >= TIMESTAMP '{_MRR_SPLIT}'
      GROUP BY j.o_custkey
    )
    SELECT count(*) AS n_customers,
           round(avg(rr), 6) AS mrr,
           round(min(rr), 6) AS worst_rr
    FROM per_cust
    """,
)
def rec_popularity_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the popularity ranking against test-
    period purchases: per customer, 1/rank of the HIGHEST-ranked brand
    they actually bought, averaged — the graded version of
    `rec_popularity_hitrate` (a hit at rank 1 and a hit at rank 20 both
    count for hit-rate; MRR tells them apart). Ranking table is
    |brands|-bounded and broadcast; one membership join + per-customer
    max."""
    t = load_sf_tables(spark, sf_dir)
    joined = (
        t["orders"]
        .join(t["lineitem"], t["orders"]["o_orderkey"] == t["lineitem"]["l_orderkey"])
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .select("o_custkey", "o_orderdate", "p_brand")
    )
    split = F.lit(_MRR_SPLIT).cast("timestamp")
    wr = Window.orderBy(F.col("c").desc(), F.col("p_brand").asc())
    ranking = (
        joined.filter(F.col("o_orderdate") < split)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("brand_rank", F.row_number().over(wr))
        .select("p_brand", "brand_rank")
    )
    per_cust = (
        joined.filter(F.col("o_orderdate") >= split)
        .join(F.broadcast(ranking), "p_brand")
        .groupBy("o_custkey")
        .agg(F.max(F.lit(1.0) / F.col("brand_rank")).alias("rr"))
    )
    return per_cust.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("rr"), 6).alias("mrr"),
        F.round(F.min("rr"), 6).alias("worst_rr"),
    )
