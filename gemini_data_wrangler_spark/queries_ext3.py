"""Training-data pipeline operators, round 2 — repetition statistics,
PII scrubbing, URL extraction, deterministic (content-hash) sampling,
near-dup cluster canonicalization, corpus n-gram stats.

All hot paths are built-in JVM expressions; every query carries an exact
DuckDB oracle (the synthetic corpus has no PII/URLs, so those queries
synthesize the target substrings from ``doc_id`` inside the query — the
redaction/extraction path is fully exercised and still hash-checkable).
No counterpart in the reference app (zero scalar functions in its stage
algebra — SURVEY.md §2.4); north-star scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.functions.text import (
    EMAIL_PATTERN,
    PHONE_PATTERN,
    URL_DOMAIN_PATTERN,
    pii_counts,
    redact_pii,
    word_bigrams,
)
from gemini_data_wrangler_spark.operators.dedup import (
    connected_components,
    connected_components_oracle_sql,
    ngram_jaccard_oracle_sql,
)
from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.session import session_memo
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Repetition statistics (Gopher-style quality signals; Rae et al. 2021 §A1.1)
# ---------------------------------------------------------------------------
@register(
    "text_repetition_stats",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
    ), tok AS (
      SELECT doc_id, unnest(toks) AS w FROM t
    ), tok_stats AS (
      SELECT doc_id, count(*) AS n_tokens, count(DISTINCT w) AS n_distinct FROM tok GROUP BY doc_id
    ), bg AS (
      SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)]) AS b
      FROM t
    ), bgc AS (
      SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
    ), bgs AS (
      SELECT doc_id, max(c) AS top_bigram_count, sum(c) AS n_bigrams FROM bgc GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_tokens, s.n_distinct,
           round(CAST(s.n_distinct AS DOUBLE) / greatest(s.n_tokens, 1), 6) AS distinct_ratio,
           g.top_bigram_count,
           round(CAST(g.top_bigram_count AS DOUBLE) / greatest(g.n_bigrams, 1), 6) AS top_bigram_frac
    FROM tok_stats s JOIN bgs g ON s.doc_id = g.doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals: distinct-token ratio and most-common
    word-bigram fraction — the standard "excessive repetition" filters for
    LLM training corpora. Two explode→agg passes (tokens, bigrams) joined on
    doc_id; at 100 TB both shuffles key on doc_id so AQE co-partitions the
    final join."""
    docs = sf_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    tok_stats = (
        toks.select("doc_id", F.explode("t").alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("w").alias("n_distinct"),
        )
    )
    bg_stats = (
        toks.select("doc_id", F.explode(word_bigrams(F.col("t"))).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_count"), F.sum("c").alias("n_bigrams"))
    )
    return tok_stats.join(bg_stats, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(
            F.col("n_distinct").cast("double") / F.greatest(F.col("n_tokens"), F.lit(1)), 6
        ).alias("distinct_ratio"),
        "top_bigram_count",
        F.round(
            F.col("top_bigram_count").cast("double") / F.greatest(F.col("n_bigrams"), F.lit(1)), 6
        ).alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# PII scrub (emails/phones synthesized from doc_id — corpus has none)
# ---------------------------------------------------------------------------
_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id % 100 AS VARCHAR)"
    " || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'"
    " || ' or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def _aug_text() -> F.Column:
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        (F.col("doc_id") % 100).cast("string"),
        F.lit("@mail"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com"),
        F.lit(" or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )


@register(
    "text_pii_scrub",
    rf"""
    WITH aug AS (SELECT doc_id, {_AUG_SQL} AS t FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(t, '{EMAIL_PATTERN}')) AS n_emails,
           len(regexp_extract_all(t, '{PHONE_PATTERN}')) AS n_phones,
           md5(regexp_replace(regexp_replace(t, '{EMAIL_PATTERN}', '[EMAIL]', 'g'),
                              '{PHONE_PATTERN}', '[PHONE]', 'g')) AS scrubbed_md5
    FROM aug
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails → [EMAIL], phones → [PHONE]) with per-doc
    match counts and an md5 of the scrubbed text proving byte-identical
    redaction against the oracle. One codegen'd projection — no shuffle, no
    UDF; scales embarrassingly."""
    docs = sf_table(spark, sf_dir, "documents").withColumn("_aug", _aug_text())
    counts = pii_counts(F.col("_aug"))
    return docs.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        F.md5(redact_pii(F.col("_aug"))).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# URL / domain extraction
# ---------------------------------------------------------------------------
_URL_AUG_SQL = (
    "text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)"
    " || '.example.com/p/' || CAST(doc_id AS VARCHAR)"
)


@register(
    "text_url_domains",
    rf"""
    WITH aug AS (SELECT doc_id, {_URL_AUG_SQL} AS t FROM documents)
    SELECT regexp_extract(t, '{URL_DOMAIN_PATTERN}', 1) AS domain,
           count(*) AS n_docs
    FROM aug GROUP BY domain
    """,
)
def text_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain histogram over extracted URLs — the provenance/robots audit
    every web-scale corpus needs. Projection + one partial-aggregated
    shuffle on domain (low cardinality → tiny exchange)."""
    docs = sf_table(spark, sf_dir, "documents").withColumn(
        "_aug",
        F.concat(
            F.col("text"),
            F.lit(" see https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ),
    )
    return (
        docs.select(F.regexp_extract("_aug", URL_DOMAIN_PATTERN, 1).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Deterministic content-hash sampling (md5 threshold — exactly reproducible
# on any engine, unlike seeded RNG sampling)
# ---------------------------------------------------------------------------
@register(
    "sample_deterministic_hash",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE md5(CAST(o_orderkey AS VARCHAR)) < '2a'
    """,
)
def sample_deterministic_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~16.4% deterministic sample: keep rows whose md5(key) falls below a
    hex threshold. Content-addressed, so the SAME rows are kept on every
    engine, every run, every cluster size — the reproducibility property
    seeded sampling cannot give across engines. Pure filter: pushed to the
    scan, no shuffle."""
    orders = sf_table(spark, sf_dir, "orders")
    return orders.filter(F.md5(F.col("o_orderkey").cast("string")) < "2a").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "sample_stratified_hash",
    """
    SELECT o_orderpriority, count(*) AS n_sampled
    FROM orders
    WHERE md5(CAST(o_orderkey AS VARCHAR)) <
          CASE o_orderpriority
            WHEN '1-URGENT' THEN '80'
            WHEN '2-HIGH' THEN '40'
            ELSE '1a'
          END
    GROUP BY o_orderpriority
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-stratum hash thresholds
    (50% urgent, 25% high, ~10% rest) — the down-weight-by-source knob of
    corpus mixing, reproducible across engines. Filter + one tiny
    aggregation shuffle."""
    orders = sf_table(spark, sf_dir, "orders")
    threshold = (
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit("80"))
        .when(F.col("o_orderpriority") == "2-HIGH", F.lit("40"))
        .otherwise(F.lit("1a"))
    )
    return (
        orders.filter(F.md5(F.col("o_orderkey").cast("string")) < threshold)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


# ---------------------------------------------------------------------------
# Near-dup cluster canonicalization (pairs → connected components)
# ---------------------------------------------------------------------------
@register(
    "dedup_clusters",
    connected_components_oracle_sql(
        ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    ),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair set: every
    clustered doc gets its component's min doc_id as cluster_id (keep that
    representative, drop the rest). LSH pair recall equals the exact pair
    set on this corpus (verified in tests), so the exact-jaccard transitive
    closure is a valid oracle."""
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    return connected_components(pairs)


@register(
    "dedup_clusters_cc_distributed",
    connected_components_oracle_sql(
        ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    ),
)
def dedup_clusters_cc_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters`` with the CC route FORCED to the distributed
    min-label loop. At test scale ``route="auto"`` always picks the
    driver union-find (the pair graph is tiny), so without this row the
    100 TB code path — the one a billion-edge dup graph actually runs —
    would have no recorded perf number or driver-checked oracle row.
    Equivalence between the routes is additionally pinned in
    tests/test_dedup.py::test_cc_driver_route_matches_distributed."""
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    return connected_components(pairs, route="distributed")


@register(
    "dedup_clusters_star",
    connected_components_oracle_sql(
        ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    ),
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as ``dedup_clusters`` but via alternating large-star/
    small-star contraction (Kiveris et al. 2014) — O(log² n) rounds on any
    topology vs diameter-many for propagation; the variant a 100 TB corpus
    with adversarial chain-shaped dup clusters needs. Shares the exact
    transitive-closure oracle."""
    from gemini_data_wrangler_spark.operators.dedup import connected_components_star
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    return connected_components_star(pairs)


# ---------------------------------------------------------------------------
# Corpus-level n-gram stats
# ---------------------------------------------------------------------------
@register(
    "text_top_bigrams",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
    ), bg AS (
      SELECT unnest([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)]) AS bigram
      FROM t
    )
    SELECT bigram, count(*) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams — contamination/boilerplate probe.
    Explode → partial-aggregated shuffle → TakeOrderedAndProject (top-k
    never materializes the full sort at scale). Total order (count desc,
    bigram asc) makes the cut deterministic."""
    docs = sf_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.trim("text"), r"\s+").alias("t"))
    return (
        toks.select(F.explode(word_bigrams(F.col("t"))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Stream-stream join (batch surface of the streaming builder — identical
# plan semantics; the true streaming run is asserted equal in
# tests/test_streaming.py)
# ---------------------------------------------------------------------------
@register(
    "stream_join_click_purchase",
    """
    SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts, p.value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 60 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gemini_data_wrangler_spark.streaming.events import streaming_click_purchase_join

    events = sf_table(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    return streaming_click_purchase_join(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
        max_delay_minutes=60,
    )


# ---------------------------------------------------------------------------
# Statistical aggregate bank (beyond the reference's 5-function whitelist)
# ---------------------------------------------------------------------------
@register(
    "agg_stats_functions",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_pop(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qty_price,
           round(median(l_discount), 6) AS median_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates + exact median — single partial-aggregated
    shuffle (median is the exception: exact percentile needs the group's
    values together; Spark plans it as a sort-based aggregate per group)."""
    li = sf_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_pop("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("covar_qty_price"),
        F.round(F.median("l_discount"), 6).alias("median_disc"),
    )


# ---------------------------------------------------------------------------
# Scalar function banks (dates / strings / math) — first-class here, only
# reachable via CUSTOM SQL in the reference (SURVEY §2.4 "none declared")
# ---------------------------------------------------------------------------
@register(
    "scalar_date_functions",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
           quarter(o_orderdate) AS q,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           last_day(CAST(o_orderdate AS DATE)) AS month_end
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = sf_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
    )


@register(
    "scalar_string_functions",
    """
    SELECT c_custkey,
           upper(c_name) AS up, lower(c_name) AS lo,
           substr(c_name, 1, 5) AS pre,
           length(c_name) AS len,
           replace(c_name, '#', '-') AS repl,
           reverse(c_name) AS rev,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
           split_part(c_name, '#', 2) AS after_hash,
           concat_ws('|', c_name, c_mktsegment) AS joined
    FROM customer
    WHERE c_custkey < 500
    """,
)
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = sf_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_name").alias("lo"),
        F.substring("c_name", 1, 5).alias("pre"),
        F.length("c_name").alias("len"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("repl"),
        F.reverse("c_name").alias("rev"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("after_hash"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
    )


@register(
    "scalar_math_functions",
    """
    SELECT p_partkey,
           abs(p_retailprice - 1000) AS dev,
           round(sqrt(p_retailprice), 6) AS root,
           CAST(ceil(p_retailprice) AS BIGINT) AS up_int,
           CAST(floor(p_retailprice) AS BIGINT) AS down_int,
           round(ln(p_retailprice), 6) AS log_e,
           round(power(p_size, 2), 1) AS size_sq,
           p_partkey % 7 AS bucket7,
           greatest(p_size, 10) AS at_least_10,
           least(p_size, 40) AS at_most_40
    FROM part
    WHERE p_partkey < 400
    """,
)
def scalar_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = sf_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 400)
    return p.select(
        "p_partkey",
        F.abs(F.col("p_retailprice") - 1000).alias("dev"),
        F.round(F.sqrt("p_retailprice"), 6).alias("root"),
        F.ceil("p_retailprice").alias("up_int"),
        F.floor("p_retailprice").alias("down_int"),
        F.round(F.ln("p_retailprice"), 6).alias("log_e"),
        F.round(F.pow("p_size", F.lit(2)), 1).alias("size_sq"),
        (F.col("p_partkey") % 7).alias("bucket7"),
        F.greatest("p_size", F.lit(10)).alias("at_least_10"),
        F.least("p_size", F.lit(40)).alias("at_most_40"),
    )


# ---------------------------------------------------------------------------
# K-means centroid training (iterative — oracle: unrolled fixed-iteration
# Lloyd CTE; determinism and monotone inertia additionally asserted in
# tests/test_ext_stages.py)
# ---------------------------------------------------------------------------
def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    """DuckDB cosine with the same arithmetic as
    `functions/vectors.py::cosine_similarity`: double-cast elements,
    left-to-right accumulation — binary-comparable with the Spark side."""
    return (
        f"list_sum(list_transform(range(1, {dim} + 1), i -> "
        f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))) / "
        f"(sqrt(list_sum(list_transform({a}, x -> "
        f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
        f"sqrt(list_sum(list_transform({b}, x -> "
        f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )


def _kmeans_cte(k: int = 8, iters: int = 3, stride: int = 50, dim: int = 64) -> str:
    """The unrolled Lloyd WITH-chain through ``c{iters}`` (final centroid
    table) — shared by the `embedding_kmeans` oracle and the SemDeDup
    oracle in queries_ext14, which extends it with the final multi-assign
    + within-cell pair verify."""

    def cos(a: str, b: str) -> str:
        return _cos_sql(a, b, dim)

    parts = [
        f"""WITH vecs AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_id, v AS c
  FROM (SELECT vec_id, v FROM vecs WHERE vec_id % {stride} = 0
        ORDER BY vec_id LIMIT {k})
)"""
    ]
    for j in range(1, iters + 1):
        parts.append(
            f""", a{j} AS MATERIALIZED (
  SELECT v, cell_id FROM (
    SELECT s.v, c.cell_id,
           row_number() OVER (PARTITION BY s.vec_id
             ORDER BY {cos("s.v", "c.c")} DESC, c.cell_id) AS rn
    FROM vecs s CROSS JOIN c{j - 1} c
  ) WHERE rn = 1
), c{j} AS MATERIALIZED (
  SELECT cell_id, list(m ORDER BY pos) AS c, max(n) AS n_members FROM (
    -- engine-neutral fixed-point mean (round 7): quantize each element
    -- with IEEE-exact floor(val*1e9), sum as exact integers (associative
    -- — any thread/merge order yields the identical sum), then one exact
    -- BIGINT->DOUBLE conversion and one correctly-rounded division.
    -- Mirrors operators/similarity.py::kmeans_lloyd bit-for-bit; no
    -- double->decimal(38,12) cast (whose 12th-digit rounding was
    -- measured to differ between Spark and DuckDB) survives in the loop.
    SELECT cell_id, pos,
           CAST(CAST(sum(CAST(floor(val * 1e9) AS DECIMAL(38,0))) AS BIGINT)
                AS DOUBLE) / (count(*) * 1e9) AS m,
           count(*) AS n FROM (
      SELECT cell_id, unnest(v) AS val, unnest(range(1, {dim} + 1)) AS pos
      FROM a{j}
    ) GROUP BY cell_id, pos
  ) GROUP BY cell_id
)"""
        )
    return "".join(parts)


def _kmeans_oracle(k: int = 8, iters: int = 3, stride: int = 50, dim: int = 64) -> str:
    """Unrolled Lloyd re-derivation in DuckDB: deterministic stride init
    (k smallest ids ≡ vec_id % stride = 0, dense 0..k-1 cell ids), per
    iteration assign-by-max-cosine (tie → lower cell_id, same formula as
    `functions/vectors.py::cosine_similarity`: double-cast elements,
    sequential accumulation) then element-wise means. The COMPARED
    surface is the final assignment's exact per-(cell_id, pos)
    fixed-point element sum ``Σ floor(val·1e9)`` (DECIMAL(38,0)) +
    integer member count — no division, no round, and no double→decimal
    cast anywhere in the compared values. floor(double · 1e9) is a pure
    IEEE-exact derivation (correctly-rounded multiply, exact floor), so
    it is bit-identical on every engine/version, and the integer sum is
    associative; by contrast round(mean, 6) stayed red in the driver
    environment through round 5, and CAST(val AS DECIMAL(38,12)) was
    measured to round its 12th digit differently between Spark and
    DuckDB on this corpus. The double means stay internal to the
    iteration CTEs, exactly as they stay internal to the Spark loop.

    Round 7: published as BIGINT, not DECIMAL(38,0) — the sum is exact
    either way, but Decimal-typed fetches can canonicalize differently
    (exponent forms / Decimal-vs-int rendering) between a driver's Spark
    and DuckDB paths, and the BIGINT cast removes that channel from the
    compared surface (VERDICT r6 ask #1a)."""
    return (
        _kmeans_cte(k, iters, stride, dim)
        + f"""
SELECT cell_id, pos,
       CAST(sum(CAST(floor(val * 1e9) AS DECIMAL(38,0))) AS BIGINT) AS sum_q9,
       count(*) AS n_members
FROM (
  SELECT cell_id, unnest(v) AS val, unnest(range(0, {dim})) AS pos
  FROM a{iters}
)
GROUP BY cell_id, pos"""
    )


# Session memo for the final-assignment stats frame (shared_builds
# contract): the `embedding_kmeans` publisher always builds fresh and the
# `embedding_kmeans_members` diagnostic sibling reuses the latest build.
# The frame is k·dim rows; kmeans_lloyd checkpoints its own state, so the
# build adds no checkpoint.
def _kmeans_stats(spark: SparkSession, sf_dir: str, reuse: bool) -> DataFrame:
    from gemini_data_wrangler_spark.operators.similarity import kmeans_lloyd

    def build() -> DataFrame:
        emb = sf_table(spark, sf_dir, "embeddings")
        return kmeans_lloyd(emb, k=8, max_iter=3, return_stats=True)

    return session_memo(spark, "kmeans_stats", (sf_dir, 8, 3), build, reuse)


@register("embedding_kmeans", _kmeans_oracle())
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-native Lloyd k-means (k=8, 3 iterations, stride init).
    The oracle is a fully unrolled Lloyd CTE in DuckDB — two independent
    implementations of the same deterministic algorithm must converge to
    the identical FINAL-assignment statistics. The compared surface is
    the exact per-(cell_id, pos) fixed-point element sum Σ floor(val·1e9)
    (BIGINT on both engines — round 7 removed the DECIMAL type from the
    published columns so no decimal canonicalization can enter a driver's
    fetch path) plus the integer member count: floor(double·1e9) is
    IEEE-exact (no decimal cast, no round anywhere in the compared
    values) and integer sums are order-independent — bit-identical on
    any engine version in any execution order, unlike the round(mean, 6)
    double surface rounds 4–5 compared (which stayed red in the driver
    environment despite margin measurements proving the algorithm itself
    could not flip). Round 7 also made the iteration state itself
    fixed-point (sum_q9/(n·1e9) means in both loops), so no
    engine-version float/decimal behavior can influence assignments
    either. `embedding_kmeans_members` is the discriminating sibling:
    members-only green + sum red would isolate any residual divergence
    to the sum values; members red would prove assignment drift."""
    stats = _kmeans_stats(spark, sf_dir, reuse=False)
    return stats.select("cell_id", "pos", "sum_q9", "n_members")


@register(
    "embedding_kmeans_members",
    _kmeans_cte()
    + """
SELECT cell_id, count(*) AS n_members FROM a3 GROUP BY cell_id""",
)
def embedding_kmeans_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discriminating sibling for the 4-round-old `embedding_kmeans`
    driver divergence (VERDICT r6 ask #1b): publishes ONLY the final
    assignment's (cell_id, n_members) — two BIGINT-family columns, no
    sums, no floats, no decimals anywhere. If this row goes green while
    the full query stays red in the driver, the divergence lives in the
    sum values' canonicalization; if this is red too, the driver's DuckDB
    genuinely assigns vectors differently (cosine accumulation drift) and
    the fixed-point iteration state is where to look next. Reuses the
    publisher's memoized stats frame, so bench prices the Lloyd pipeline
    once."""
    stats = _kmeans_stats(spark, sf_dir, reuse=True)
    return stats.select("cell_id", "n_members").distinct()


# ---------------------------------------------------------------------------
# Mergeable HLL sketches (datasketches) — the partial-aggregation scale
# story: per-partition sketches union to the global answer without re-scan
# ---------------------------------------------------------------------------
@register(
    "sketch_hll_mergeable",
    """
    WITH seg AS (
      SELECT o_orderpriority,
             count(DISTINCT o_custkey) AS exact_distinct,
             abs(approx_count_distinct(o_custkey)
                 - count(DISTINCT o_custkey)) * 1.0
               <= 0.05 * count(DISTINCT o_custkey) AS est_ok
      FROM orders GROUP BY o_orderpriority
    ), g_all AS (
      SELECT 'ALL' AS o_orderpriority,
             count(DISTINCT o_custkey) AS exact_distinct,
             abs(approx_count_distinct(o_custkey)
                 - count(DISTINCT o_custkey)) * 1.0
               <= 0.05 * count(DISTINCT o_custkey) AS est_ok
      FROM orders
    )
    SELECT * FROM seg UNION ALL SELECT * FROM g_all
    """,
)
def sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority HLL sketches of the customer set, PLUS the global
    estimate obtained by union-MERGING those sketches (never re-scanning
    the fact table) — exactly how a 100 TB pipeline maintains distinct
    counts across partitions/days: sketch once, merge cheaply. Sketch
    bits differ per engine, so the hash-checked contract is the merge +
    error guarantee: every estimate (including the merged 'ALL' row,
    which in Spark comes ONLY from `hll_union_agg` over the per-group
    sketches) must sit within 5% of the shared exact anchor."""
    orders = sf_table(spark, sf_dir, "orders")
    # Eagerly materialize the 5-row sketch table: seg_est and the merged
    # global_est branch both consume it, and a lazy plan would re-scan and
    # re-sketch the fact table once per branch.
    per_seg = (
        orders.groupBy("o_orderpriority")
        .agg(
            F.hll_sketch_agg(F.col("o_custkey").cast("string")).alias("_sk"),
            F.count_distinct("o_custkey").alias("exact_distinct"),
        )
        .localCheckpoint()
    )
    seg_est = per_seg.select(
        "o_orderpriority",
        "exact_distinct",
        (
            F.abs(F.hll_sketch_estimate("_sk") - F.col("exact_distinct")) * 1.0
            <= 0.05 * F.col("exact_distinct")
        ).alias("est_ok"),
    )
    global_exact = orders.agg(
        F.count_distinct("o_custkey").alias("exact_distinct")
    )
    global_est = (
        per_seg.agg(F.hll_union_agg("_sk").alias("_u"))
        .crossJoin(F.broadcast(global_exact))
        .select(
            F.lit("ALL").alias("o_orderpriority"),
            "exact_distinct",
            (
                F.abs(F.hll_sketch_estimate("_u") - F.col("exact_distinct")) * 1.0
                <= 0.05 * F.col("exact_distinct")
            ).alias("est_ok"),
        )
    )
    return seg_est.unionByName(global_est)
