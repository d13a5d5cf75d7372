"""Round-2 extensions: (a) hash-gated bound checks that convert the
remaining approximate/rows-only surfaces into driver-verifiable rows, and
(b) new training-data operators (tf-idf terms, unigram-LM scoring, capped
per-source sampling, cluster representative selection).

The bound-check pattern (established by ``sketch_count_min_bound_check``):
the engine computes BOTH the approximate answer and its exact reference
plus a boolean guarantee column; the DuckDB oracle recomputes the exact
side and pins the boolean to TRUE. An approximation regression (estimator
drift, wrong merge, broken determinism) then becomes a driver value-hash
MISMATCH instead of a self-attested rows-only pass. Every estimator here
is deterministic (fixed seeds/sketch params), so the gates are stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Bound gates for the approximate estimators
# ---------------------------------------------------------------------------
@register(
    "approx_distinct_bound_check",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_exact,
           TRUE AS bound_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def approx_distinct_bound_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ estimate (rsd=0.02) vs exact per group, gated at 3·rsd. The
    estimate itself stays in the rows-only sibling (`count_distinct_approx`
    — sketch values are engine-specific); the GUARANTEE is hash-checked."""
    orders = sf_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count_distinct("o_custkey").alias("n_exact"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("_apx"),
        )
        .select(
            "o_orderpriority",
            "n_exact",
            (
                F.abs(F.col("_apx") - F.col("n_exact"))
                <= F.lit(0.06) * F.col("n_exact")
            ).alias("bound_ok"),
        )
    )


@register(
    "percentile_approx_bound_check",
    """
    SELECT o_orderpriority, TRUE AS p50_ok, TRUE AS p95_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_approx_bound_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approx percentiles bracketed by exact interpolated
    percentiles at ±0.01 rank — the GK rank-error guarantee (eps = 1/acc =
    1e-4 here) made hash-checkable."""
    orders = sf_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.expr("approx_percentile(o_totalprice, array(0.5, 0.95), 10000)").alias("_apx"),
        F.expr("percentile(o_totalprice, array(0.49, 0.51, 0.94, 0.96))").alias("_ex"),
    )
    return agg.select(
        "o_orderpriority",
        F.col("_apx")[0].between(F.col("_ex")[0], F.col("_ex")[1]).alias("p50_ok"),
        F.col("_apx")[1].between(F.col("_ex")[2], F.col("_ex")[3]).alias("p95_ok"),
    )


@register(
    "hll_merge_bound_check",
    """
    SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_exact, TRUE AS bound_ok
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'ALL', count(DISTINCT o_custkey), TRUE FROM orders
    """,
)
def hll_merge_bound_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches-HLL per-group estimates AND their union-merge, each
    within 5% of the exact distinct count — the mergeable-sketch guarantee
    (sketch once per shard, merge without re-scanning) hash-gated."""
    orders = sf_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg(F.col("o_custkey").cast("string")).alias("_sk"),
        F.count_distinct("o_custkey").alias("n_exact"),
    )
    seg = per.select(
        "o_orderpriority",
        "n_exact",
        F.hll_sketch_estimate("_sk").alias("_est"),
    )
    glob = (
        per.agg(F.hll_union_agg("_sk").alias("_u"))
        .crossJoin(orders.agg(F.count_distinct("o_custkey").alias("n_exact")))
        .select(
            F.lit("ALL").alias("o_orderpriority"),
            "n_exact",
            F.hll_sketch_estimate("_u").alias("_est"),
        )
    )
    return seg.unionByName(glob).select(
        "o_orderpriority",
        "n_exact",
        (F.abs(F.col("_est") - F.col("n_exact")) <= F.lit(0.05) * F.col("n_exact")).alias(
            "bound_ok"
        ),
    )


@register(
    "sample_bernoulli_check",
    "SELECT TRUE AS n_in_bounds, TRUE AS subset_ok",
)
def sample_bernoulli_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sampling (the SAMPLE stage, fraction=0.1 seed=42)
    gated on its two contracts: the sampled size sits within ±5σ of
    fraction·N (binomial), and every sampled row exists in the source.
    The sampled ROWS stay rows-only (`sample_orders` — RNG streams are
    engine-specific); the contract is hash-checked."""
    orders = sf_table(spark, sf_dir, "orders")
    sampled = orders.sample(fraction=0.1, seed=42).persist()
    n_total = orders.count()
    n = sampled.count()
    import math

    sigma = math.sqrt(n_total * 0.1 * 0.9)
    n_ok = abs(n - 0.1 * n_total) <= 5 * sigma
    leak = sampled.join(orders, ["o_orderkey"], "left_anti").count()
    sampled.unpersist()
    return spark.createDataFrame(
        [(bool(n_ok), leak == 0)], "n_in_bounds boolean, subset_ok boolean"
    )


@register(
    "kmeans_state_check",
    "SELECT TRUE AS members_ok, TRUE AS cells_ok, TRUE AS dims_ok",
)
def kmeans_state_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-iteration invariants hash-gated: every vector is assigned to
    exactly one cell (membership counts sum to the corpus), the cell count
    stays within k, and every centroid keeps the embedding dimensionality.
    (`embedding_kmeans` value-checks the final assignment's exact
    fixed-point sums; these structural invariants are what merging must
    preserve.)"""
    from gemini_data_wrangler_spark.operators.similarity import kmeans_lloyd

    emb = sf_table(spark, sf_dir, "embeddings")
    cents = kmeans_lloyd(emb, k=8, max_iter=2)
    n_vecs = emb.count()
    stats = cents.agg(
        F.sum("n_members").alias("_m"),
        F.count(F.lit(1)).alias("_c"),
        F.min(F.size("centroid")).alias("_dmin"),
        F.max(F.size("centroid")).alias("_dmax"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            (
                stats["_m"] == n_vecs,
                1 <= stats["_c"] <= 8,
                stats["_dmin"] == 64 and stats["_dmax"] == 64,
            )
        ],
        "members_ok boolean, cells_ok boolean, dims_ok boolean",
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------
@register(
    "text_tfidf_top_terms",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ), tf AS (
      SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w
    ), df AS (
      SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY w
    ), n AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.w AS term,
             round(tf.tf * ln((SELECT n FROM n) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (w)
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term ASC) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf·idf (idf = ln(N/df)) — the standard
    keyword-extraction / topic-probe step. Scale shape: tf is one
    (doc, word)-keyed partial-agg shuffle; df (vocabulary-sized, far
    smaller than the token stream) is broadcast back; ranking windows
    partition by doc. Scores rounded to 6 decimals on both sides (single
    multiply+log per value — no sum reassociation; rounding absorbs
    libm-vs-JVM ulp differences)."""
    docs = sf_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    )
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        tok.distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = tf.join(F.broadcast(df), "w").select(
        "doc_id",
        F.col("w").alias("term"),
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf")
    )


# ---------------------------------------------------------------------------
# Unigram-LM document scoring (model-based quality filtering)
# ---------------------------------------------------------------------------
@register(
    "text_unigram_logprob",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ), freq AS (
      SELECT w, count(*) AS c FROM tok GROUP BY w
    ), total AS (
      SELECT CAST(count(*) AS DOUBLE) AS t FROM tok
    )
    SELECT tok.doc_id,
           count(*) AS n_tokens,
           round(avg(ln((SELECT t FROM total) / freq.c)), 6) AS avg_nll
    FROM tok JOIN freq USING (w)
    GROUP BY tok.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus
    unigram LM (p(w) = count(w)/total) — the classic model-based quality
    score (low = boilerplate/repetitive, high = rare-token soup). The LM
    is the vocabulary-sized frequency table broadcast back over the token
    stream: one corpus aggregation + one map-side join + one doc-keyed
    aggregation; no shuffle keyed on words for the big side. Rounded to 6
    (the per-doc mean sums ~100 doubles; reassociation noise is ~1e-13)."""
    docs = sf_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = tok.count()
    return (
        tok.join(F.broadcast(freq), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.lit(float(total)) / F.col("c"))), 6).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# Capped per-source sampling (content-addressed)
# ---------------------------------------------------------------------------
_SOURCE_CAP = 50


@register(
    "sample_capped_per_source",
    f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= {_SOURCE_CAP}
    """,
)
def sample_capped_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample dominant sources to a fixed cap, keeping a
    content-addressed (md5-ordered) subset — the domain-rebalancing step
    every web-scale corpus needs, deterministic across engines and cluster
    sizes (seeded RNG is not). One window per source; at 100 TB the
    hot-source partitions are bounded by AQE skew splitting, or pre-salt
    on a hash prefix and take per-salt caps first (documented here as the
    2-level variant — same trick as the packing prefix sum)."""
    docs = sf_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SOURCE_CAP)
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Cluster representative selection (dedup keep-best)
# ---------------------------------------------------------------------------
def _keep_best_oracle() -> str:
    from gemini_data_wrangler_spark.operators.dedup import (
        connected_components_oracle_sql,
        ngram_jaccard_oracle_sql,
    )

    closure = connected_components_oracle_sql(
        ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    )
    return rf"""
    WITH comp AS (
      SELECT * FROM ({closure})
    ), q AS (
      SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS quality
      FROM documents
    )
    SELECT c.doc_id, c.cluster_id,
           row_number() OVER (PARTITION BY c.cluster_id
                              ORDER BY q.quality DESC, c.doc_id ASC) = 1 AS keep
    FROM comp c JOIN q USING (doc_id)
    """


@register("dedup_keep_best", _keep_best_oracle())
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step after clustering: inside every near-dup cluster keep the
    highest-quality member (here: token count, ties → smallest id) and
    mark the rest for dropping. Pipeline = MinHash pairs → connected
    components → one broadcast-joined quality ranking window; the oracle
    recomputes the whole chain exactly (character-shingle jaccard ≥ 0.8 +
    recursive-CTE closure + the same argmax)."""
    from gemini_data_wrangler_spark.operators.dedup import connected_components
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    docs = sf_table(spark, sf_dir, "documents")
    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    comp = connected_components(pairs)
    quality = docs.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("quality")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        comp.join(quality, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.row_number().over(w) == 1).alias("keep"),
        )
    )

# ---------------------------------------------------------------------------
# Language-balanced resampling (documents.lang)
# ---------------------------------------------------------------------------
@register(
    "sample_language_balanced",
    """
    WITH target AS (
      SELECT min(c) AS t FROM (SELECT lang, count(*) AS c FROM documents GROUP BY lang)
    )
    SELECT lang, count(*) AS n_docs FROM (
      SELECT lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= (SELECT t FROM target)
    GROUP BY lang
    """,
)
def sample_language_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equalize language proportions by down-sampling every language to
    the smallest language's count, selecting a content-addressed
    (md5-ordered) subset — the rebalancing step multilingual corpora run
    before training. Deterministic across engines/cluster sizes. One tiny
    per-lang aggregation broadcast back + one per-lang ranking window."""
    docs = sf_table(spark, sf_dir, "documents")
    target = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).agg(
        F.min("c").alias("t")
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("lang", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(target))
        .filter(F.col("rk") <= F.col("t"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Resize planning over decoded assets (integer-exact scaling)
# ---------------------------------------------------------------------------
@register(
    "multimodal_resize_plan",
    """
    WITH dims AS (
      SELECT doc_id AS asset_id,
             CASE WHEN doc_id % 3 = 0 THEN 1 + CAST(doc_id % 64 AS INT)
                  ELSE 1 + CAST(doc_id % 32 AS INT) END AS width,
             CASE WHEN doc_id % 3 = 0 THEN 1 + CAST((doc_id // 64) % 64 AS INT)
                  ELSE 1 + CAST((doc_id // 32) % 32 AS INT) END AS height
      FROM documents
      WHERE doc_id % 3 IN (0, 2) AND doc_id % 97 <> 0
    )
    SELECT asset_id, width, height,
           CASE WHEN greatest(width, height) > 48
                THEN CAST(width * 48 // greatest(width, height) AS INT)
                ELSE width END AS target_w,
           CASE WHEN greatest(width, height) > 48
                THEN CAST(height * 48 // greatest(width, height) AS INT)
                ELSE height END AS target_h
    FROM dims
    """,
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning for every successfully decoded visual asset
    (images + videos): longest side capped at 48 px, aspect preserved,
    integer-exact scaling (see ``resize_plan``). The oracle re-derives
    dimensions from the synthesis schedule; the engine recovers them by
    parsing the container bytes first."""
    from gemini_data_wrangler_spark.operators.multimodal import (
        decode_assets,
        resize_plan,
        synthesize_assets,
    )

    docs = sf_table(spark, sf_dir, "documents")
    decoded = decode_assets(synthesize_assets(docs, "doc_id")).filter(
        F.col("ok") & F.col("width").isNotNull()
    )
    return resize_plan(decoded, max_side=48)


# ---------------------------------------------------------------------------
# Z-score outlier detection (per-group standardization)
# ---------------------------------------------------------------------------
@register(
    "dq_outlier_zscore",
    """
    WITH stats AS (
      SELECT o_orderpriority,
             avg(o_totalprice) AS mu,
             stddev_samp(o_totalprice) AS sigma
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           round((o.o_totalprice - s.mu) / s.sigma, 6) AS z
    FROM orders o JOIN stats s USING (o_orderpriority)
    WHERE abs((o.o_totalprice - s.mu) / s.sigma) >= 3
    """,
)
def dq_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outliers (|z| ≥ 3) — the standard numeric
    anomaly screen before training-data ingestion. Group stats are a tiny
    aggregate broadcast back over the fact scan: one exchange for the
    stats, zero for the screen itself. z rounded to 6 on both sides (mu
    and sigma are sums — engine reassociation noise ~1e-13 is absorbed;
    the |z|≥3 cut uses the unrounded value in both engines)."""
    orders = sf_table(spark, sf_dir, "orders")
    stats = orders.groupBy("o_orderpriority").agg(
        F.avg("o_totalprice").alias("mu"),
        F.stddev_samp("o_totalprice").alias("sigma"),
    )
    z = (F.col("o_totalprice") - F.col("mu")) / F.col("sigma")
    return (
        orders.join(F.broadcast(stats), "o_orderpriority")
        .filter(F.abs(z) >= 3)
        .select("o_orderkey", "o_orderpriority", F.round(z, 6).alias("z"))
    )


# ---------------------------------------------------------------------------
# Corpus composition stats (the ingest dashboard query)
# ---------------------------------------------------------------------------
@register(
    "corpus_stats_by_source_lang",
    r"""
    SELECT source, lang,
           count(*) AS n_docs,
           sum(len(regexp_split_to_array(trim(text), '\s+'))) AS n_tokens,
           sum(n_chars) AS n_chars,
           count(DISTINCT doc_id % 251) AS id_buckets
    FROM documents
    GROUP BY source, lang
    """,
)
def corpus_stats_by_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup (docs / tokens / chars per source ×
    language + an id-spread probe) — the first query every ingest run
    fires. One partial-aggregated exchange on a few hundred groups."""
    docs = sf_table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")).alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.count_distinct(F.col("doc_id") % 251).alias("id_buckets"),
    )


# ---------------------------------------------------------------------------
# Bigram LM scoring (add-one smoothing) — completes the LM family
# ---------------------------------------------------------------------------
@register(
    "text_bigram_logprob",
    r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest([{'w1': t[i], 'w2': t[i+1]} for i in generate_series(1, len(t) - 1)],
                    recursive := true)
      FROM tok
    ), uni AS (
      SELECT w1, count(*) AS c1 FROM bg GROUP BY w1
    ), bi AS (
      SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
    ), v AS (
      SELECT CAST(count(DISTINCT w1) AS DOUBLE) AS v FROM bg
    )
    SELECT g.doc_id,
           count(*) AS n_bigrams,
           round(avg(-ln((bi.c12 + 1) / (uni.c1 + (SELECT v FROM v)))), 6) AS avg_nll
    FROM bg g
    JOIN bi ON g.w1 = bi.w1 AND g.w2 = bi.w2
    JOIN uni ON g.w1 = uni.w1
    GROUP BY g.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under an add-one-
    smoothed corpus bigram LM — the second rung of model-based quality
    scoring after ``text_unigram_logprob``. Scale shape: the bigram count
    table is vocabulary²-bounded but corpus-sublinear in practice; at test
    scale it broadcasts, at 100 TB the probe becomes a shuffle join keyed
    on the bigram — same plan text, AQE picks the side. Rounded to 6."""
    docs = sf_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    bg = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 1, 0)), i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("_b"),
    ).select("doc_id", "_b.w1", "_b.w2")
    uni = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    bi = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    v = bg.select(F.count_distinct("w1").cast("double").alias("v"))
    nll = -F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")))
    return (
        bg.join(F.broadcast(bi), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# Percent-rank feature normalization
# ---------------------------------------------------------------------------
@register(
    "feature_percent_rank",
    """
    SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey), 6) AS price_pr
    FROM orders WHERE o_custkey < 300
    """,
)
def feature_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (percent-rank) normalization of a numeric feature within
    each group — the rank-based feature scaling step that is robust to
    outliers. One window per group; ties broken by key so the rank is
    engine-deterministic. Rounded to 6 (percent_rank is a ratio of two
    integers — rounding only guards the division's last bit)."""
    from pyspark.sql import Window as _W

    orders = sf_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    w = _W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("price_pr"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization + dedup counts
# ---------------------------------------------------------------------------
# The synthetic corpus carries no real URLs (same situation as
# text_url_domains), so both sides append an identical MESSY url per doc —
# mixed-case scheme/host, tracking params around a keeper param, fragment,
# trailing slash — and the engine must canonicalize it: lowercase
# scheme+host (path case preserved), drop fragment, drop utm_*/fbclid
# params (keep the rest), strip trailing slashes.
_MESSY_URL_SQL = (
    "'HTTPS://WWW.Site' || CAST(doc_id % 5 AS VARCHAR)"
    " || '.EXAMPLE.com/Docs' || CAST(doc_id % 13 AS VARCHAR)"
    " || '/?utm_source=S' || CAST(doc_id % 2 AS VARCHAR)"
    " || '&id=' || CAST(doc_id % 3 AS VARCHAR)"
    " || '&utm_campaign=C#sec' || CAST(doc_id % 4 AS VARCHAR)"
)


@register(
    "dedup_url_canonical",
    rf"""
    WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
    parts AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS host,
             regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$', '') AS path,
             regexp_replace(
               regexp_replace(regexp_extract(url, '\?([^#]*)', 1),
                              '(^|&)(utm_[A-Za-z]+|fbclid)=[^&]*', '', 'g'),
               '^&+', '') AS q
      FROM u
    )
    SELECT scheme || '://' || host || path
           || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical_url,
           count(*) AS n_docs
    FROM parts
    GROUP BY 1
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the provenance-level dedup step web
    corpora run before any content dedup (the same page arrives under
    hundreds of tracking-param/fragment/case variants). Pure JVM regex
    expressions in one projection + one low-cardinality aggregation; the
    oracle performs the identical normalization in DuckDB (RE2-safe
    patterns only: no lookaheads)."""
    docs = sf_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Site"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".EXAMPLE.com/Docs"), (F.col("doc_id") % 13).cast("string"),
        F.lit("/?utm_source=S"), (F.col("doc_id") % 2).cast("string"),
        F.lit("&id="), (F.col("doc_id") % 3).cast("string"),
        F.lit("&utm_campaign=C#sec"), (F.col("doc_id") % 4).cast("string"),
    )
    u = docs.select(url.alias("url"))
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    host = F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1))
    path = F.regexp_replace(
        F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1), r"/+$", ""
    )
    q = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract("url", r"\?([^#]*)", 1),
            r"(^|&)(utm_[A-Za-z]+|fbclid)=[^&]*",
            "",
        ),
        r"^&+",
        "",
    )
    canonical = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
    return (
        u.select(canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Argmin / argmax aggregate bank
# ---------------------------------------------------------------------------
@register(
    "agg_argminmax_functions",
    """
    SELECT o_orderpriority,
           max_by(o_custkey, o_orderkey) AS last_order_cust,
           min_by(o_custkey, o_orderkey) AS first_order_cust,
           max_by(o_orderkey, o_orderdate || '|' || CAST(o_orderkey AS VARCHAR)) AS latest_date_order,
           count(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_argminmax_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin) aggregates — group-wise "value at the
    extremum" without a join-back or window. Deterministic by
    construction: every ordering key is unique (orderkey; date||key for
    the date variant) because both engines break max_by ties arbitrarily.
    One partial-aggregated exchange."""
    orders = sf_table(spark, sf_dir, "orders")
    date_key = F.concat(
        F.col("o_orderdate").cast("string"), F.lit("|"), F.col("o_orderkey").cast("string")
    )
    return orders.groupBy("o_orderpriority").agg(
        F.max_by("o_custkey", "o_orderkey").alias("last_order_cust"),
        F.min_by("o_custkey", "o_orderkey").alias("first_order_cust"),
        F.max_by("o_orderkey", date_key).alias("latest_date_order"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# As-of join with tolerance (bounded staleness)
# ---------------------------------------------------------------------------
@register(
    "asof_purchase_click_tolerance",
    """
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), matched AS (
      SELECT p.event_id, p.user_id, p.ts, p.value,
             c.click_id AS click_id_right, c.ts AS ts_right
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    )
    SELECT event_id, user_id, ts, value,
           CASE WHEN ts - ts_right <= INTERVAL 30 MINUTE THEN click_id_right END AS click_id_right,
           CASE WHEN ts - ts_right <= INTERVAL 30 MINUTE THEN ts_right END AS ts_right
    FROM matched
    """,
)
def asof_purchase_click_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution with bounded staleness: each purchase takes its latest
    prior click only if it happened within 30 minutes — pandas
    merge_asof(tolerance) semantics as a first-class operator
    (``operators/temporal.py::asof_join_tolerance``)."""
    from gemini_data_wrangler_spark.operators.temporal import asof_join_tolerance

    events = sf_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    return asof_join_tolerance(
        purchases, clicks, on="user_id", tolerance_seconds=1800,
        left_ts="ts", right_ts="ts",
    )


# ---------------------------------------------------------------------------
# Full dedup pipeline with ONE pair-set materialization
# ---------------------------------------------------------------------------
def _full_pipeline_oracle() -> str:
    from gemini_data_wrangler_spark.operators.dedup import (
        connected_components_oracle_sql,
        ngram_jaccard_oracle_sql,
    )

    closure = connected_components_oracle_sql(
        ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    )
    return rf"""
    WITH comp AS ({closure}),
    q AS (
      SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS quality
      FROM documents
    ), merged AS (
      SELECT cluster_id, min(doc_id) AS canonical_id, count(*) AS n_members
      FROM comp GROUP BY cluster_id
    )
    SELECT c.doc_id, c.cluster_id,
           row_number() OVER (PARTITION BY c.cluster_id
                              ORDER BY q.quality DESC, c.doc_id) = 1 AS keep,
           m.canonical_id, m.n_members
    FROM comp c JOIN q USING (doc_id) JOIN merged m USING (cluster_id)
    """


@register("dedup_full_pipeline", _full_pipeline_oracle())
def dedup_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup job shape: MinHash+LSH pairs materialized
    ONCE (localCheckpoint), then clusters, keep-best ranking, and
    survivorship metadata all derived from that single pair set in one
    result. Standalone, `dedup_clusters` + `dedup_keep_best` +
    `dedup_survivorship` each re-pay the ~same pair-set cost (the 10×
    scaling experiment in SCALE.md measured pair materialization as the
    dominant term); fused here the pipeline costs one materialization +
    seconds — the fan-out pattern large corpora must use."""
    from gemini_data_wrangler_spark.operators.dedup import connected_components
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    docs = sf_table(spark, sf_dir, "documents")
    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    comp = connected_components(pairs)
    quality = docs.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("quality")
    )
    merged = comp.groupBy("cluster_id").agg(
        F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_members")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        comp.join(quality, "doc_id")
        .join(F.broadcast(merged), "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.row_number().over(w) == 1).alias("keep"),
            "canonical_id",
            "n_members",
        )
    )
