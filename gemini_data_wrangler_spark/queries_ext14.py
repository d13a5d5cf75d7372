"""Round-2 extensions, batch 14: semantic dedup, quantized ANN,
incremental corpus dedup, skew diagnostics, EWMA smoothing, and an
array-function bank.

- SemDeDup (Abbas et al. 2023): k-means blocking + within-cluster exact
  cosine — the embedding-space dedup that scales past all-pairs. Directly
  oracle-backed since round 3 (the unrolled Lloyd CTE extends to the
  multi-assign + pair verify); the companion check query additionally
  gates precision (exactly 1 vs the exact pair set) and a recall floor.
- Int8-quantized top-k: the ¼-footprint serving tier — full oracle since
  round 3 (deterministic codes + exact integer dot re-derived in DuckDB),
  plus the recall@10 gate vs the exact brute-force ranking.
- Incremental batch dedup: the nightly-crawl shape — dedup a NEW batch
  against the existing corpus (near-dup via the MinHash pair set, which
  is exact-verified ≡ the jaccard-0.8 pair set). At 100 TB the corpus
  side is touched only through its LSH band buckets: candidates are
  generated per-band, never corpus×batch.
- Key-skew diagnostics: the pre-join profiling every large pipeline runs
  before choosing broadcast/salt/AQE strategies.
- EWMA: recursive exponential smoothing computed as an ordered list fold
  (`aggregate` over a windowed `collect_list`) — identical fp operation
  order in both engines, so the result is binary-comparable. Quadratic
  prefix-list memory is fine for per-series lengths in the thousands;
  beyond that, segment the series and fold segment summaries (same
  two-level trick as `pack_sequences`).
- Array bank: `array_*` higher-order coverage (distinct/sort/slice/
  contains/position/max) mapped to DuckDB `list_*` semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.queries_ext import _ANN_RECALL_ORACLE
from gemini_data_wrangler_spark.session import session_memo
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): k-means blocking + within-cluster cosine
# ---------------------------------------------------------------------------
_SEM_THRESHOLD = 0.45
_SEM_K = 8

# Session-scoped memo for the SemDeDup pair frame (k-means training +
# multi-assign + within-cell verify — the expensive index build):
# `dedup_semantic` publishes the pairs and `dedup_semantic_check` gates
# precision/recall over the SAME pair set, so rebuilding the pipeline in
# the gate doubled its cost (same amortization the round-6 kNN-graph memo
# applies to the graph-ANN family). The PUBLISHER always builds fresh and
# refreshes the memo — its bench timing stays an honest measurement of the
# pipeline — while the gate reuses the latest build (shared_builds
# contract); the checkpointed frame is ~|near-dup pairs| rows.
def _sem_pairs(spark: SparkSession, sf_dir: str, reuse: bool) -> DataFrame:
    from gemini_data_wrangler_spark.operators.similarity import semantic_dedup_pairs

    def build() -> DataFrame:
        emb = sf_table(spark, sf_dir, "embeddings")
        return semantic_dedup_pairs(
            emb, "vec_id", "embedding", threshold=_SEM_THRESHOLD, k=_SEM_K
        ).localCheckpoint()

    return session_memo(spark, "sem_pairs", (sf_dir, _SEM_THRESHOLD, _SEM_K), build, reuse)


def _semantic_oracle(k: int = _SEM_K, iters: int = 3, n_assign: int = 2) -> str:
    """Full SemDeDup re-derivation in DuckDB: the unrolled Lloyd CTE from
    queries_ext3 (shared with the hash-matched `embedding_kmeans` oracle —
    identical centroids through every iteration), extended with the final
    rank≤n_assign multi-assignment and within-cell pair verify. Both
    engines round the pair cosine to 6 before thresholding, and the cosine
    accumulates left-to-right in doubles on both sides, so the pair set
    and sims are hash-comparable. The per-cell numpy prefilter on the
    Spark side admits everything within 1e-3 of the threshold before the
    exact verify, so it cannot flip membership."""
    from gemini_data_wrangler_spark.queries_ext3 import _cos_sql, _kmeans_cte

    return (
        _kmeans_cte(k=k, iters=iters)
        + f""", asg AS MATERIALIZED (
  SELECT vec_id, cell_id FROM (
    SELECT s.vec_id, c.cell_id,
           row_number() OVER (PARTITION BY s.vec_id
             ORDER BY {_cos_sql("s.v", "c.c")} DESC, c.cell_id) AS rn
    FROM vecs s CROSS JOIN c{iters} c
  ) WHERE rn <= {n_assign}
), cand AS (
  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM asg a JOIN asg b USING (cell_id)
  WHERE a.vec_id < b.vec_id
)
SELECT doc_a, doc_b, sim FROM (
  SELECT cand.doc_a, cand.doc_b,
         round({_cos_sql("va.v", "vb.v")}, 6) AS sim
  FROM cand
  JOIN vecs va ON va.vec_id = cand.doc_a
  JOIN vecs vb ON vb.vec_id = cand.doc_b
) WHERE sim >= {_SEM_THRESHOLD}"""
    )


@register("dedup_semantic", _semantic_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pairs, now DIRECTLY oracle-backed (was rows-only through
    round 2): the DuckDB side re-derives k-means blocking, multi-assign,
    and the within-cell rounded-cosine verify from scratch — two
    independent implementations of the full pipeline must emit the
    identical (doc_a, doc_b, sim) set. `dedup_semantic_check` stays as
    the precision/recall gate against the exact all-pairs set."""
    return _sem_pairs(spark, sf_dir, reuse=False)


@register(
    "dedup_semantic_check",
    "SELECT TRUE AS precision_ok, TRUE AS recall_ok",
)
def dedup_semantic_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduce SemDeDup to driver-checkable booleans: every emitted pair
    must be in the exact cosine-pair set (precision exactly 1 — the
    within-cluster verify uses the oracle's own rounding, so any
    deviation is a bug, not noise), and the pair count must reach ≥ 60%
    of the exact set (recall floor; cross-cluster pairs are the
    sacrifice blocking makes). The oracle pins TRUE/TRUE, so a precision
    or recall regression becomes a driver hash MISMATCH."""
    from gemini_data_wrangler_spark.operators.similarity import (
        cosine_pair_candidates,
    )
    from gemini_data_wrangler_spark.functions.vectors import cosine_similarity

    emb = sf_table(spark, sf_dir, "embeddings")
    sem = _sem_pairs(spark, sf_dir, reuse=True).select("doc_a", "doc_b")

    cand = cosine_pair_candidates(
        emb, "vec_id", "embedding", threshold=_SEM_THRESHOLD, block_rows=500
    )
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("_v")
    )
    a = vecs.select(F.col("vec_id").alias("doc_a"), F.col("_v").alias("_va"))
    b = vecs.select(F.col("vec_id").alias("doc_b"), F.col("_v").alias("_vb"))
    exact = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("_s", F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("_s") >= _SEM_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    # One action for all three counts: full-outer join the pair sets and
    # aggregate membership flags — k-means and the exact kernel each run
    # exactly once (three separate .count() actions would recompute them).
    joined = sem.withColumn("_s", F.lit(1)).join(
        exact.withColumn("_e", F.lit(1)), ["doc_a", "doc_b"], "full"
    )
    row = joined.agg(
        F.sum(F.coalesce("_s", F.lit(0))).alias("n_sem"),
        F.sum(F.coalesce("_e", F.lit(0))).alias("n_exact"),
        F.sum(
            F.when(F.col("_s").isNotNull() & F.col("_e").isNull(), 1).otherwise(0)
        ).alias("n_false"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            (
                row["n_false"] == 0,
                row["n_exact"] > 0 and row["n_sem"] / row["n_exact"] >= 0.6,
            )
        ],
        "precision_ok boolean, recall_ok boolean",
    )


# ---------------------------------------------------------------------------
# Int8-quantized ANN + recall gate
# ---------------------------------------------------------------------------
def _quantized_topk_oracle(k: int = 10, dim: int = 64) -> str:
    """Direct DuckDB re-derivation of int8-quantized top-k: the
    approximation is DETERMINISTIC (unit-normalize → round(127·x) int8
    codes → exact integer dot / 127²), so unlike the hash-bucketed ANN
    tiers it admits a full oracle, not just a recall gate. The only
    floating-point steps — the normalization and the final /16129 —
    mirror the Spark side's left-to-right double arithmetic; the dot
    itself is integer-exact, and ranking uses the rounded sim with
    vec_id tie-breaks on both sides."""
    from gemini_data_wrangler_spark.queries_ext import _ANN_QUERY_IDS

    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    return f"""
    WITH u AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(round(CAST(x AS DOUBLE) / nrm * 127.0) AS INT)) AS qv
      FROM (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(embedding, x ->
                 CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings)
    ), q AS (
      SELECT vec_id AS query_id, qv AS qq FROM u WHERE vec_id IN ({ids})
    ), scored AS (
      SELECT q.query_id, u.vec_id,
             round(CAST(list_sum(list_transform(range(1, {dim} + 1), i ->
               CAST(q.qq[i] AS BIGINT) * CAST(u.qv[i] AS BIGINT))) AS DOUBLE)
               / (127.0 * 127.0), 6) AS sim
      FROM u CROSS JOIN q
      WHERE u.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, sim, rank FROM (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {k}"""


@register("similarity_quantized_topk", _quantized_topk_oracle())
def similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized top-k, DIRECTLY oracle-backed since round 3 (was
    rows-only): quantization is deterministic, so DuckDB re-derives the
    codes, the exact integer dot, and the ranking from scratch. The
    recall gate below additionally anchors it to the float ranking.
    PUBLISHER of the session-shared int8 ranked list (round 7): the
    recall gate reuses the identical list; this query always rebuilds
    (reuse=False) so its bench row prices the full quantize+search."""
    from gemini_data_wrangler_spark.shared_builds import approx_topk_list

    return approx_topk_list(spark, sf_dir, "quantized", reuse=False)


@register("similarity_quantized_recall", _ANN_RECALL_ORACLE)
def similarity_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of int8-quantized scoring vs exact float cosine, floored
    at 0.8 per query (quantization error ~0.008 on unit vectors is far
    below typical neighbor gaps). Pinned-TRUE oracle — same driver-gated
    contract as `similarity_lsh_recall`/`similarity_ivf_recall`.
    Reuses the session-shared int8 ranked list (identical parameters to
    the `similarity_quantized_topk` publisher)."""
    from gemini_data_wrangler_spark.queries_ext import _ann_recall_check
    from gemini_data_wrangler_spark.shared_builds import approx_topk_list

    return _ann_recall_check(
        spark,
        sf_dir,
        lambda emb, q, k: approx_topk_list(spark, sf_dir, "quantized", reuse=True),
        floor=0.8,
    )


# ---------------------------------------------------------------------------
# Incremental batch dedup: new docs (doc_id % 7 == 0) vs existing corpus
# ---------------------------------------------------------------------------
def _incremental_oracle() -> str:
    from gemini_data_wrangler_spark.operators.dedup import ngram_jaccard_oracle_sql

    pairs = ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    return f"""
    WITH pairs AS ({pairs}),
    b AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
    dup AS (
      SELECT doc_a AS doc_id FROM pairs WHERE doc_a % 7 = 0 AND doc_b % 7 <> 0
      UNION
      SELECT doc_b FROM pairs WHERE doc_b % 7 = 0 AND doc_a % 7 <> 0
    )
    SELECT b.doc_id, (dup.doc_id IS NOT NULL) AS is_dup
    FROM b LEFT JOIN dup ON b.doc_id = dup.doc_id
    """


@register("dedup_incremental_batch", _incremental_oracle())
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-crawl dedup: flag documents of an incoming batch (here:
    doc_id % 7 == 0) that are near-duplicates (jaccard ≥ 0.8 on 5-char
    shingles) of any EXISTING corpus document. Uses the MinHash+LSH pair
    set (exact-verified, ≡ the true jaccard pair set) restricted to
    batch×corpus pairs. At scale the corpus side is a pre-materialized
    band-bucket table: the nightly job shingles only the batch, probes
    the buckets, and verifies candidates — corpus cost is amortized, the
    join is band-equi, never batch×corpus."""
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    docs = sf_table(spark, sf_dir, "documents")
    in_batch = lambda c: (F.col(c) % 7) == 0  # noqa: E731
    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    # Single pass over the pair set: at most one side of a pair can be the
    # batch-vs-corpus orientation, so a when() chain replaces the former
    # two-filter union (which referenced — and recomputed — the whole LSH
    # pipeline once per branch).
    dup = (
        pairs.select(
            F.when(in_batch("doc_a") & ~in_batch("doc_b"), F.col("doc_a"))
            .when(in_batch("doc_b") & ~in_batch("doc_a"), F.col("doc_b"))
            .alias("doc_id")
        )
        .filter(F.col("doc_id").isNotNull())
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    return (
        docs.filter(in_batch("doc_id"))
        .select("doc_id")
        .join(dup, "doc_id", "left")
        .select("doc_id", F.col("_d").isNotNull().alias("is_dup"))
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnostics
# ---------------------------------------------------------------------------
@register(
    "diag_key_skew",
    """
    WITH c AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)
    SELECT count(*) AS n_keys,
           sum(n) AS total_rows,
           max(n) AS max_per_key,
           round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_share,
           round(avg(n), 6) AS avg_per_key,
           round(quantile_cont(n, 0.5), 6) AS p50_per_key,
           round(quantile_cont(n, 0.99), 6) AS p99_per_key
    FROM c
    """,
)
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew profile of a key column (orders.o_custkey): distinct
    keys, max/avg/median/p99 rows per key, and the hottest key's share of
    the table. This is the decision input for join strategy at scale —
    top_share ≫ 1/shuffle-partitions means the hot key serializes one
    task (→ salt it, `join_salted_skew`) and a tiny n_keys means
    broadcast. Two partial-aggregated shuffles, output is one row."""
    orders = sf_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("total_rows"),
        F.max("n").alias("max_per_key"),
        F.round(F.max("n").cast("double") / F.sum("n"), 6).alias("top_share"),
        F.round(F.avg("n"), 6).alias("avg_per_key"),
        F.round(F.expr("percentile(n, 0.5)"), 6).alias("p50_per_key"),
        F.round(F.expr("percentile(n, 0.99)"), 6).alias("p99_per_key"),
    )


# ---------------------------------------------------------------------------
# EWMA of daily event value (α = 0.2), exact recursive fold
# ---------------------------------------------------------------------------
@register(
    "ewma_daily_value",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             round(sum(value), 6) AS total
      FROM events GROUP BY 1
    )
    SELECT d, total,
           round(list_reduce(
             list(total) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW),
             (acc, x) -> acc * CAST(0.8 AS DOUBLE) + x * CAST(0.2 AS DOUBLE)
           ), 6) AS ewma
    FROM daily
    """,
)
def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=0.2) of daily event value,
    computed as the exact recursion s_t = 0.8·s_{t-1} + 0.2·x_t via an
    ordered-list fold — both engines run the identical left-to-right fp
    sequence (no closed-form pow() rewriting, which catastrophically
    cancels for long series). Prefix lists are O(n²) per series — fine to
    thousands of points; longer series get segmented two-level folds."""
    events = sf_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.round(F.sum("value"), 6).alias("total"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    ewma = F.expr(
        "aggregate(slice(_l, 2, greatest(size(_l) - 1, 0)), element_at(_l, 1),"
        " (acc, x) -> acc * 0.8D + x * 0.2D)"
    )
    return (
        daily.withColumn("_l", F.collect_list("total").over(w))
        .select("d", "total", F.round(ewma, 6).alias("ewma"))
    )


# ---------------------------------------------------------------------------
# Array higher-order-function bank
# ---------------------------------------------------------------------------
@register(
    "scalar_array_functions",
    r"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           len(ws) AS n_words,
           array_to_string(list_sort(list_distinct(ws))[1:5], '|')
             AS first5_distinct,
           list_contains(ws, 'the') AS has_the,
           list_position(ws, 'table') AS pos_table,
           list_max(list_transform(ws, x -> len(x))) AS max_word_len,
           array_to_string(list_reverse(ws[1:3]), '|') AS first3_rev
    FROM w
    """,
)
def scalar_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function bank — the `array_*` surface mapped to
    DuckDB's `list_*` semantics (sorted-distinct prefix, membership,
    1-based position with 0 for absent, element max, slice+reverse). All
    whole-stage-codegen'd row-local expressions; complements the
    string/math/date scalar banks."""
    docs = sf_table(spark, sf_dir, "documents")
    ws = F.split(F.trim("text"), r"\s+")
    d = docs.filter(F.col("doc_id") < 100).select("doc_id", ws.alias("ws"))
    return d.select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct("ws")), 1, 5), "|"
        ).alias("first5_distinct"),
        F.array_contains("ws", "the").alias("has_the"),
        F.array_position("ws", "table").alias("pos_table"),
        F.array_max(F.transform("ws", F.length)).alias("max_word_len"),
        F.array_join(F.reverse(F.slice("ws", 1, 3)), "|").alias("first3_rev"),
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN + recall gate
# ---------------------------------------------------------------------------
def _pq_topk_oracle(
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    shortlist: int = 100,
    code_stride: int = 31,
) -> str:
    """Direct DuckDB re-derivation of PQ+ADC top-k, possible because every
    float reduction in the Spark operator is a FIXED-ORDER fold: unit
    normalization, per-subspace L2² encode distances, LUT partial dots,
    and (since round 3) the ADC score itself — a subspace-ordered fold,
    not a plan-order groupBy sum. DuckDB's list_sum accumulates the same
    left-to-right order, so codes, LUT, ADC, the 100-candidate shortlist
    boundary (unrounded ADC with vec_id tie-breaks — identical doubles on
    both sides), and the exact rerank all reproduce bit-for-bit."""
    from gemini_data_wrangler_spark.queries_ext import _ANN_QUERY_IDS
    from gemini_data_wrangler_spark.queries_ext3 import _cos_sql

    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    sub = dim // m

    def sub_dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {sub} + 1), i -> {a}[i] * {b}[i]))"
        )

    def sub_l2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {sub} + 1), i -> "
            f"({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    return f"""
    WITH u AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS u
      FROM (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(embedding, x ->
                 CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings)
    ), subs AS MATERIALIZED (
      SELECT vec_id, j, u[j * {sub} + 1 : (j + 1) * {sub}] AS sv
      FROM u CROSS JOIN range(0, {m}) r(j)
    ), cb AS MATERIALIZED (
      SELECT j, code, sv AS cv FROM (
        SELECT j, row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS code, sv
        FROM subs WHERE vec_id % {code_stride} = 0
      ) WHERE code < {n_codes}
    ), codes AS MATERIALIZED (
      SELECT vec_id, j, code FROM (
        SELECT s.vec_id, s.j, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.j
                 ORDER BY {sub_l2("s.sv", "c.cv")} ASC, c.code ASC) AS rn
        FROM subs s JOIN cb c ON c.j = s.j
      ) WHERE rn = 1
    ), lut AS (
      SELECT s.vec_id AS query_id, c.j, c.code,
             {sub_dot("s.sv", "c.cv")} AS p
      FROM subs s JOIN cb c ON c.j = s.j
      WHERE s.vec_id IN ({ids})
    ), adc AS (
      SELECT l.query_id, co.vec_id,
             list_sum(list(l.p ORDER BY l.j)) AS adc
      FROM codes co JOIN lut l ON l.j = co.j AND l.code = co.code
      WHERE co.vec_id <> l.query_id
      GROUP BY l.query_id, co.vec_id
    ), short AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc DESC, vec_id ASC) AS rn
        FROM adc
      ) WHERE rn <= {shortlist}
    ), v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), scored AS (
      SELECT s.query_id, s.vec_id,
             round({_cos_sql("vq.v", "vc.v")}, 6) AS sim
      FROM short s
      JOIN v vq ON vq.vec_id = s.query_id
      JOIN v vc ON vc.vec_id = s.vec_id
    )
    SELECT query_id, vec_id, sim, rank FROM (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {k}"""


@register("similarity_pq_topk", _pq_topk_oracle())
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ+ADC top-k, DIRECTLY oracle-backed since round 3 (was rows-only):
    with the ADC score computed as a subspace-ordered fold, every float
    reduction in the pipeline is fixed-order, so DuckDB re-derives the
    codebook, codes, LUT, shortlist, and exact rerank from scratch. The
    recall gate below still anchors it to the brute-force ranking.
    PUBLISHER of the session-shared PQ index (round 7): the recall gate
    reuses the identical (codes, codebook) pair — only the search
    differs there; this query always re-encodes (reuse=False) so its
    bench row prices the full index build + search."""
    from gemini_data_wrangler_spark.operators.similarity import (
        pq_topk,
        queries_from_ids,
    )
    from gemini_data_wrangler_spark.queries_ext import _ANN_QUERY_IDS
    from gemini_data_wrangler_spark.shared_builds import pq_index

    emb = sf_table(spark, sf_dir, "embeddings")
    idx = pq_index(spark, sf_dir, reuse=False)
    return pq_topk(emb, queries_from_ids(emb, _ANN_QUERY_IDS), k=10, index=idx)


@register("similarity_pq_recall", _ANN_RECALL_ORACLE)
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ/ADC scoring (8 subspaces × 16 codes = 64×
    compression) vs exact float cosine, floored per query. PQ trades the
    most accuracy of the ANN tiers for the most compression, so the floor
    is the loosest. Pinned-TRUE oracle like the other recall gates.

    Corpus-adaptive shortlist (round 7): the sf0.1 sweep showed a FIXED
    100-row ADC shortlist eroding recall at 10× corpus — with coarse
    4-bit codes the true neighbors rank lower as more near-ties crowd
    the shortlist, so the rerank budget must track the corpus (25%,
    floored at 100 — exactly the `refine` knob a production PQ serving
    tier sizes). The fraction is high because the synthetic corpus is
    near-uniform random in 64-d (no cluster structure for the coarse
    codes to separate — ADC score margins shrink toward zero), the
    worst case for quantized scoring; a real clustered corpus reaches
    the floor at a few percent via the same knob. The fixed-parameter
    `similarity_pq_topk` keeps its deterministic replay oracle.
    Verified ≥ floor at sf0.001/0.01/0.1 (COVERAGE.md)."""
    import math

    from gemini_data_wrangler_spark.operators.similarity import pq_topk
    from gemini_data_wrangler_spark.queries_ext import _ann_recall_check
    from gemini_data_wrangler_spark.shared_builds import pq_index

    emb = sf_table(spark, sf_dir, "embeddings")
    shortlist = max(100, math.ceil(0.25 * emb.count()))
    # The index is identical to the publisher's; only the SEARCH uses the
    # corpus-adaptive shortlist, so the session-shared (codes, codebook)
    # pair serves both.
    idx = pq_index(spark, sf_dir, reuse=True)

    def pq_adaptive(emb2, q, k):
        return pq_topk(emb2, q, k=k, shortlist=shortlist, index=idx)

    return _ann_recall_check(spark, sf_dir, pq_adaptive, floor=0.5)
