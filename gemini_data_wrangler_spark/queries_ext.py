"""Extension-operator query registrations — the beyond-the-reference
surface (SURVEY.md §7.2 M6): window functions, dedup (exact / exact-jaccard
/ MinHash-LSH / SimHash / embedding-cosine), similarity search (brute-force
/ LSH / IVF), text analysis, multimodal plumbing, event-time windows.

Registered into the same ``queries.registry()`` the driver consumes. Every
query that is SQL-expressible carries a DuckDB oracle; approximate operators
whose *verified* output equals the exact answer on the test corpus carry the
exact oracle (recall confirmed in tests), and the deterministic approximate
tiers (LSH / IVF here) carry FULL index re-derivation oracles since round 3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.functions.text import (
    doc_fingerprint,
    language_id,
    language_id_oracle_sql,
    quality_features,
    token_count,
)
from gemini_data_wrangler_spark.operators.dedup import (
    exact_dedup,
    ngram_jaccard_oracle_sql,
    ngram_jaccard_pairs,
    simhash_oracle_sql,
    simhash_pairs,
)
from gemini_data_wrangler_spark.operators.multimodal import (
    attach_binary_payload,
    decode_assets,
    frame_sample,
    synthesize_assets,
)
from gemini_data_wrangler_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_oracle_sql,
    ivf_topk,
    lsh_topk,
    queries_from_ids,
)
from gemini_data_wrangler_spark.queries import (
    _REGISTRY,
    make_runner,
    register,
    run_stages,
)
from gemini_data_wrangler_spark.sources.readers import sf_table
from gemini_data_wrangler_spark.streaming.events import (
    session_agg,
    session_oracle_sql,
    sliding_window_agg,
    tumbling_window_agg,
)


# ---------------------------------------------------------------------------
# Window functions (extension WINDOW stage through the pipeline runner)
# ---------------------------------------------------------------------------
@register(
    "window_rank_topn",
    """
    SELECT c_custkey, c_nationkey, c_acctbal, rn FROM (
      SELECT c_custkey, c_nationkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def window_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "WINDOW",
                "data": {
                    "table": "customer",
                    "partitionBy": ["c_nationkey"],
                    "orderBy": [
                        {"column": "c_acctbal", "direction": "DESC"},
                        {"column": "c_custkey", "direction": "ASC"},
                    ],
                    "functions": [{"function": "ROW_NUMBER", "alias": "rn"}],
                },
            },
            {
                "id": "stage_1",
                "type": "FILTER",
                "data": {"table": "result_stage_0_window", "column": "rn", "operator": "<=", "value": 3},
            },
        ],
    )
    return df.select("c_custkey", "c_nationkey", "c_acctbal", "rn")


@register(
    "window_running_sum",
    """
    SELECT o_orderkey, o_custkey,
           round(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate ASC, o_orderkey ASC
                                         ROWS UNBOUNDED PRECEDING), 2) AS running_total
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "WINDOW",
                "data": {
                    "table": "orders",
                    "partitionBy": ["o_custkey"],
                    "orderBy": [
                        {"column": "o_orderdate", "direction": "ASC"},
                        {"column": "o_orderkey", "direction": "ASC"},
                    ],
                    "functions": [
                        {
                            "function": "SUM",
                            "column": "o_totalprice",
                            "alias": "running_total",
                            "frame": "rows_unbounded",
                        }
                    ],
                },
            }
        ],
    )
    # Round: running double sums accumulate in different associativity
    # between engines (DuckDB windows use segment-tree aggregation).
    return df.select("o_orderkey", "o_custkey", F.round("running_total", 2).alias("running_total"))


@register(
    "window_lag_lead",
    """
    SELECT o_orderkey, o_custkey,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "WINDOW",
                "data": {
                    "table": "orders",
                    "partitionBy": ["o_custkey"],
                    "orderBy": [
                        {"column": "o_orderdate", "direction": "ASC"},
                        {"column": "o_orderkey", "direction": "ASC"},
                    ],
                    "functions": [
                        {"function": "LAG", "column": "o_totalprice", "alias": "prev_price"},
                        {"function": "LEAD", "column": "o_totalprice", "alias": "next_price"},
                    ],
                },
            }
        ],
    )
    return df.select("o_orderkey", "o_custkey", "prev_price", "next_price")


@register(
    "window_ntile_quartiles",
    """
    SELECT c_custkey,
           ntile(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
    FROM customer
    """,
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "WINDOW",
                "data": {
                    "table": "customer",
                    "partitionBy": [],
                    "orderBy": [
                        {"column": "c_acctbal", "direction": "ASC"},
                        {"column": "c_custkey", "direction": "ASC"},
                    ],
                    "functions": [{"function": "NTILE", "n": 4, "alias": "quartile"}],
                },
            }
        ],
    )
    return df.select("c_custkey", "quartile")


# ---------------------------------------------------------------------------
# Text analysis (documents table)
# ---------------------------------------------------------------------------
@register(
    "text_token_stats",
    """
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )


@register(
    "text_bpe_tokens",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens
    FROM documents
    """,
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gemini_data_wrangler_spark.functions.text import bpe_ish_token_count

    docs = sf_table(spark, sf_dir, "documents")
    return docs.select("doc_id", bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"))


_QUALITY_ORACLE = """
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS p_cnt,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                 t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS s_cnt
      FROM documents
    )
    SELECT doc_id,
           round(CAST(p_cnt AS DOUBLE) / greatest(n_chars, 1), 6) AS punct_ratio,
           round(CAST(s_cnt AS DOUBLE) / greatest(n_tokens, 1), 6) AS stop_ratio,
           round(round(CAST(s_cnt AS DOUBLE) / greatest(n_tokens, 1), 6) * 2
                 + (1.0 - round(CAST(p_cnt AS DOUBLE) / greatest(n_chars, 1), 6)), 6) AS quality_score
    FROM f
"""


@register("text_quality_scores", _QUALITY_ORACLE)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stop_ratio"].alias("stop_ratio"),
        feats["quality_score"].alias("quality_score"),
    )


@register(
    "text_language_id",
    f"SELECT doc_id, {language_id_oracle_sql('text')} AS lang_pred FROM documents",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


@register(
    "text_fingerprint",
    """
    SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Dedup suite (documents table)
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    "SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS copies FROM documents GROUP BY text",
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id")


_NGRAM_ORACLE = ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)


@register("dedup_ngram_jaccard", _NGRAM_ORACLE)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.8)


# MinHash-LSH produces candidates that are then EXACT-verified, so on
# corpora where band-collision recall holds (16 bands × r=4 → ≈0.9998 at
# j=0.8; confirmed for the driver testdata at sf0.01 AND sf0.1 —
# COVERAGE.md) its output equals the exact pair set → same oracle.
# PUBLISHER of the shared near-dup pair memo (shared_builds.neardup_pairs):
# always rebuilds, so this bench row prices the full LSH pipeline while
# the 14 sibling consumers reuse the checkpointed pair set.
@register("dedup_minhash_lsh", _NGRAM_ORACLE)
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    return neardup_pairs(spark, sf_dir, reuse=False)


# SimHash's oracle replays the GATE itself (md5-nibble bit source → ±1
# votes → pigeonhole chunks → hamming ≤ 7 → exact-jaccard verify), not the
# exact pair set: with max_hamming ≤ chunks-1 the candidates are complete,
# so "hamming ≤ 7 AND jaccard ≥ 0.8" is exactly defined and parity is
# corpus-INDEPENDENT. (The old exact-pair oracle was falsified at sf0.1 by
# 4 boundary pairs at hamming 8-9 — simhash at this operating point is a
# near-identical dedup, not a j≥0.8 recall guarantee.)
@register(
    "dedup_simhash",
    simhash_oracle_sql(
        "documents", "doc_id", "text", n=5, max_hamming=7, jaccard_threshold=0.8
    ),
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", n=5, jaccard_threshold=0.8)


@register(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           round(
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           6) >= 0.45
    """,
)
def dedup_embedding_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _embedding_cosine_pairs(spark, sf_dir, route="auto")


def _embedding_cosine_pairs(spark: SparkSession, sf_dir: str, route: str) -> DataFrame:
    from gemini_data_wrangler_spark.functions.vectors import l2_norm, vec_dot
    from gemini_data_wrangler_spark.operators.similarity import cosine_pair_candidates

    emb = sf_table(spark, sf_dir, "embeddings")
    # Two-phase exact all-pairs: (1) numpy block-matmul candidates at
    # threshold − 1e-3 (guaranteed superset: float reassociation error is
    # ~1e-12), then (2) exact verification with the SAME left-to-right
    # double reduction DuckDB uses — so the final pair set and sims are
    # oracle-identical, but the O(n²·d) work runs in BLAS instead of the
    # interpreted higher-order-function evaluator (which is ~1000× slower
    # per dot product and NOT whole-stage-codegen'd).
    cand = cosine_pair_candidates(
        emb, "vec_id", "embedding", threshold=0.45, route=route, block_rows=500
    )
    sc = spark.sparkContext
    prepped = (
        emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("_v"),
            l2_norm(F.col("embedding")).alias("_norm"),
        )
        .repartition(sc.defaultParallelism, "vec_id")
        .localCheckpoint()  # eager: both pair-join sides (a, b) scan this frame
    )
    a = prepped.select(F.col("vec_id").alias("doc_a"), F.col("_v").alias("_va"), F.col("_norm").alias("_na"))
    b = prepped.select(F.col("vec_id").alias("doc_b"), F.col("_v").alias("_vb"), F.col("_norm").alias("_nb"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("sim", F.round(vec_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6))
        .filter(F.col("sim") >= 0.45)
        .select("doc_a", "doc_b", "sim")
    )


@register("dedup_embedding_cosine_tiled", _REGISTRY["dedup_embedding_cosine"][1])
def dedup_embedding_cosine_tiled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract and oracle as ``dedup_embedding_cosine`` but with the
    candidate kernel FORCED onto the distributed tiled cogroup block-matmul
    tier — the path a corpus too big to broadcast takes. A driver-verified
    row for the scale kernel, not just a unit test."""
    return _embedding_cosine_pairs(spark, sf_dir, route="tiled")


# ---------------------------------------------------------------------------
# Similarity search (embeddings table)
# ---------------------------------------------------------------------------
_ANN_QUERY_IDS = [0, 1, 2, 3, 4]
# Pinned-TRUE oracle of every ANN recall gate: one row per query id.
_ANN_RECALL_ORACLE = (
    "SELECT vec_id AS query_id, TRUE AS recall_ok FROM embeddings WHERE vec_id IN ({ids})"
).format(ids=", ".join(str(i) for i in _ANN_QUERY_IDS))


@register(
    "similarity_cosine_topk",
    cosine_topk_oracle_sql("embeddings", _ANN_QUERY_IDS, k=10),
)
def similarity_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUBLISHER of the shared exact ranked list (round 7): every ANN
    recall/NDCG/MMR/RRF gate reuses the same brute-force ranking via
    `shared_builds.ann_exact_topk` instead of re-scanning the corpus per
    gate; this query always rebuilds it fresh (reuse=False), so its bench
    row stays the honest price of the exact scan. The top-10 prefix of
    the depth-30 cached list is identical to the direct k=10 result
    (same total order: sim rounded to 6 desc, vec_id asc)."""
    from gemini_data_wrangler_spark.shared_builds import ann_exact_topk

    return ann_exact_topk(spark, sf_dir, reuse=False, k=10)


def _lsh_topk_oracle(
    k: int = 10, n_planes: int = 4, n_tables: int = 12, dim: int = 64
) -> str:
    """Direct DuckDB re-derivation of random-hyperplane LSH top-k: the
    hyperplanes are sha256-derived ±1 constants, baked here as SQL
    literals, so the whole index — sign-bit bucket strings per (vector,
    table), hamming≤1 multi-probe on the query side, exact rounded-cosine
    rerank — is re-derivable from scratch. The one float-sensitive step is
    the bucket sign bit: numpy's matmul and DuckDB's sequential list_sum
    accumulate in different orders, so a projection within ~1e-15 of zero
    could bucket differently — odds ~1e-13 per (vector, plane), pinned
    green by the sf0.01/sf0.001 hash checks."""
    from gemini_data_wrangler_spark.operators.similarity import _hyperplane_weights
    from gemini_data_wrangler_spark.queries_ext3 import _cos_sql

    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    wrows = ",\n      ".join(
        "({t}, {p}, [{ws}])".format(
            t=t,
            p=p,
            ws=", ".join(
                "1.0" if x > 0 else "-1.0" for x in _hyperplane_weights(t, p, dim)
            ),
        )
        for t in range(n_tables)
        for p in range(n_planes)
    )
    flips = ", ".join(
        f"concat(substr(b.bucket, 1, {p - 1}), "
        f"CASE WHEN substr(b.bucket, {p}, 1) = '1' THEN '0' ELSE '1' END, "
        f"substr(b.bucket, {p + 1}, {n_planes - p}))"
        for p in range(1, n_planes + 1)
    )
    return f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), w(tbl, plane, wt) AS (
      VALUES
      {wrows}
    ), b AS MATERIALIZED (
      SELECT vec_id, tbl,
             string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, ''
                        ORDER BY plane) AS bucket
      FROM (
        SELECT v.vec_id, w.tbl, w.plane,
               list_sum(list_transform(range(1, {dim} + 1),
                 i -> v.v[i] * wt[i])) AS dot
        FROM v CROSS JOIN w
      ) GROUP BY vec_id, tbl
    ), probes AS (
      SELECT b.vec_id AS query_id, b.tbl,
             unnest([b.bucket, {flips}]) AS bucket
      FROM b WHERE b.vec_id IN ({ids})
    ), pairs AS (
      SELECT DISTINCT p.query_id, c.vec_id
      FROM probes p
      JOIN b c ON c.tbl = p.tbl AND c.bucket = p.bucket
      WHERE c.vec_id != p.query_id
    ), scored AS (
      SELECT pr.query_id, pr.vec_id,
             round({_cos_sql("vq.v", "vc.v")}, 6) AS sim
      FROM pairs pr
      JOIN v vq ON vq.vec_id = pr.query_id
      JOIN v vc ON vc.vec_id = pr.vec_id
    )
    SELECT query_id, vec_id, sim, rank FROM (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {k}"""


@register("similarity_lsh_topk", _lsh_topk_oracle())
def similarity_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH top-k, DIRECTLY oracle-backed since round 3 (was
    rows-only): the planes are deterministic sha256 constants, so DuckDB
    re-derives buckets, multi-probe, and the exact rerank from scratch.
    The recall gate below still anchors it to the brute-force ranking.
    PUBLISHER of the session-shared LSH ranked list (round 7): the recall
    and NDCG gates reuse the identical list instead of re-running the
    bucket+probe+rerank search; this query always rebuilds (reuse=False)
    so its bench row stays the honest price of the full search."""
    from gemini_data_wrangler_spark.shared_builds import approx_topk_list

    return approx_topk_list(spark, sf_dir, "lsh", reuse=False)


def _ivf_topk_oracle(
    k: int = 10, n_cells: int = 10, nprobe: int = 3, stride: int = 50, dim: int = 64
) -> str:
    """Direct DuckDB re-derivation of IVF top-k: the index is DETERMINISTIC
    (stride-sampled centroids, argmax-cosine assignment with cell-id
    tie-breaks, nprobe nearest cells, exact rounded-cosine rerank), so
    like the quantized tier it admits a full oracle rather than only a
    recall gate. Cosines mirror the Spark side's left-to-right double
    arithmetic (the same pairing the kmeans / SemDeDup oracles already
    hash-match through three Lloyd iterations). The centroid sample pins
    ORDER BY vec_id — the id order Spark's stride-filter + limit yields on
    the id-ordered parquet source."""
    from gemini_data_wrangler_spark.queries_ext3 import _cos_sql

    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    return f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), cent AS MATERIALIZED (
      SELECT vec_id AS cell_id, v AS c FROM v
      WHERE vec_id % {stride} = 0 ORDER BY vec_id LIMIT {n_cells}
    ), asg AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT s.vec_id, c.cell_id AS cell,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY {_cos_sql("s.v", "c.c")} DESC, c.cell_id) AS rn
        FROM v s CROSS JOIN cent c
      ) WHERE rn = 1
    ), qasg AS (
      SELECT query_id, cell FROM (
        SELECT s.vec_id AS query_id, c.cell_id AS cell,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY {_cos_sql("s.v", "c.c")} DESC, c.cell_id) AS rn
        FROM v s CROSS JOIN cent c
        WHERE s.vec_id IN ({ids})
      ) WHERE rn <= {nprobe}
    ), scored AS (
      SELECT q.query_id, a.vec_id,
             round({_cos_sql("vq.v", "va.v")}, 6) AS sim
      FROM qasg q
      JOIN asg a USING (cell)
      JOIN v vq ON vq.vec_id = q.query_id
      JOIN v va ON va.vec_id = a.vec_id
      WHERE a.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, sim, rank FROM (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {k}"""


@register("similarity_ivf_topk", _ivf_topk_oracle())
def similarity_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k, DIRECTLY oracle-backed since round 3 (was rows-only):
    every index step is deterministic, so DuckDB re-derives centroids,
    assignments, probing, and the exact rerank from scratch. The recall
    gate below still anchors it to the brute-force ranking."""
    emb = sf_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, queries_from_ids(emb, _ANN_QUERY_IDS), k=10)


def _ann_recall_check(spark: SparkSession, sf_dir: str, approx_fn, floor: float) -> DataFrame:
    """Per-query recall@10 of an ANN method vs the exact brute-force top-k,
    reduced to an oracle-checkable bound: ``recall_ok`` must be TRUE for
    every query id. The oracle pins TRUE (it cannot reproduce the ANN
    candidates), so a recall regression below ``floor`` becomes a driver
    hash MISMATCH instead of a self-attested rows-only pass."""
    from gemini_data_wrangler_spark.shared_builds import ann_exact_topk

    emb = sf_table(spark, sf_dir, "embeddings")
    q = queries_from_ids(emb, _ANN_QUERY_IDS)
    exact = ann_exact_topk(spark, sf_dir, reuse=True, k=10).select(
        "query_id", "vec_id"
    )
    approx = approx_fn(emb, q, k=10).select("query_id", "vec_id")
    n_exact = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n"))
    n_hit = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_h"))
    )
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            ((F.coalesce("_h", F.lit(0)) / F.col("_n")) >= floor).alias("recall_ok"),
        )
    )


@register("similarity_lsh_recall", _ANN_RECALL_ORACLE)
def similarity_lsh_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reuses the session-shared LSH ranked list (identical parameters to
    # the `similarity_lsh_topk` publisher) instead of re-running the search.
    from gemini_data_wrangler_spark.shared_builds import approx_topk_list

    return _ann_recall_check(
        spark,
        sf_dir,
        lambda emb, q, k: approx_topk_list(spark, sf_dir, "lsh", reuse=True),
        floor=0.8,
    )


@register("similarity_ivf_recall", _ANN_RECALL_ORACLE)
def similarity_ivf_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-adaptive TRAINED-quantizer IVF (round 7): the sf0.1 sweep
    showed the fixed 10-cell/5-probe untrained (stride-anchor) index
    eroding recall at 10× corpus. The gate now measures the
    configuration a production index runs: k-means-trained centroids
    (`kmeans_lloyd` — its docstring has always named this as the
    training step a real IVF needs), cells ≈ √n/2 with init stride
    sized to leave ~4 init candidates per cell, HALF the cells probed.
    The probe fraction is deliberately that high because the synthetic
    corpus is near-uniform random in 64-d (kmeans cells come out almost
    equal-sized) — the WORST case for space partitioning: neighbor
    lists have no cluster structure to exploit, so recall ∝ scanned
    fraction. The gate therefore pins the plumbing (trained assignment,
    multi-cell probing, exact rerank) at the fraction this geometry
    demands; a real embedding corpus with cluster structure gets the
    same recall at far smaller nprobe, via exactly this knob. The
    fixed-parameter untrained `similarity_ivf_topk` keeps its full
    deterministic replay oracle; this gate is the scale story.
    Verified ≥ floor at sf0.001/0.01/0.1 (COVERAGE.md)."""
    import math

    from gemini_data_wrangler_spark.operators.similarity import kmeans_lloyd

    emb = sf_table(spark, sf_dir, "embeddings")
    n = emb.count()
    n_cells = max(4, math.ceil(math.sqrt(n) / 2))
    nprobe = max(3, math.ceil(n_cells / 2))
    init_stride = max(1, n // (4 * n_cells))
    cents = kmeans_lloyd(
        emb, k=n_cells, max_iter=2, init_stride=init_stride
    ).localCheckpoint()

    def ivf_trained(emb2, q, k):
        return ivf_topk(emb2, q, k=k, nprobe=nprobe, centroids=cents)

    return _ann_recall_check(spark, sf_dir, ivf_trained, floor=0.6)


# ---------------------------------------------------------------------------
# Event-time windows (events table; batch mode of the streaming builders)
# ---------------------------------------------------------------------------
@register(
    "events_tumbling_hourly",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, round(SUM(value), 6) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_window_agg(sf_table(spark, sf_dir, "events"), "1 hour")


@register(
    "events_sliding_halfhour",
    """
    WITH e AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, user_id FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws, user_id FROM events
    )
    SELECT ws AS window_start, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
    FROM e GROUP BY 1
    """,
)
def events_sliding_halfhour(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_window_agg(sf_table(spark, sf_dir, "events"), "1 hour", "30 minutes")


@register("events_sessions", session_oracle_sql("events", 30))
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_agg(sf_table(spark, sf_dir, "events"), "30 minutes")


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary payloads built from documents)
# ---------------------------------------------------------------------------
@register(
    "multimodal_metadata",
    """
    SELECT doc_id AS asset_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS content_hash
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    return attach_binary_payload(docs, "doc_id", "text").select(
        "asset_id", "modality", "n_bytes", "content_hash"
    )


# The decode oracle re-derives the synthesis parameter schedule
# (operators/multimodal.py::synth_params) in SQL: the Spark side must
# recover the same numbers by PARSING the real PNG/WAV/GIF container bytes.
@register(
    "multimodal_decode",
    """
    SELECT doc_id AS asset_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           CASE WHEN doc_id % 97 = 0 THEN NULL
                WHEN doc_id % 3 = 0 THEN 1 + CAST(doc_id % 64 AS INT)
                WHEN doc_id % 3 = 2 THEN 1 + CAST(doc_id % 32 AS INT) END AS width,
           CASE WHEN doc_id % 97 = 0 THEN NULL
                WHEN doc_id % 3 = 0 THEN 1 + CAST((doc_id // 64) % 64 AS INT)
                WHEN doc_id % 3 = 2 THEN 1 + CAST((doc_id // 32) % 32 AS INT) END AS height,
           CASE WHEN doc_id % 97 = 0 THEN NULL
                WHEN doc_id % 3 = 0 THEN 1
                WHEN doc_id % 3 = 2 THEN 1 + CAST(doc_id % 24 AS INT) END AS n_frames,
           CASE WHEN doc_id % 97 = 0 THEN NULL
                WHEN doc_id % 3 = 1 THEN 8000 * (1 + CAST(doc_id % 5 AS INT)) END AS sample_rate,
           doc_id % 97 <> 0 AS ok
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    return decode_assets(synthesize_assets(docs, "doc_id"))


@register(
    "multimodal_frame_sample",
    """
    WITH v AS (
      SELECT doc_id, 1 + CAST(doc_id % 24 AS INT) AS n_frames
      FROM documents WHERE doc_id % 3 = 2 AND doc_id % 97 <> 0
    )
    SELECT doc_id AS asset_id, unnest(range(0, n_frames, 8)) AS frame_idx FROM v
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    return frame_sample(decode_assets(synthesize_assets(docs, "doc_id")))
