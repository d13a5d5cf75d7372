"""Round-3 extensions, batch 101: reciprocal-rank fusion of lexical and
vector retrieval.

Scale notes: RRF (Cormack et al. 2009) is the standard score-free hybrid
of heterogeneous rankings — the fusion step behind most "BM25 + dense"
retrieval stacks, and the piece the registry's MRR/RBO/NDCG rows assume
exists upstream. Both input rankings follow the engine's broadcast-query
contract (`operators/similarity.py cosine_topk`): the query rows are
broadcast, the candidate scan is one shuffle-free pass over the corpus,
and the per-query top-k prune happens before fusion, so the fused join
touches |queries| x 2k rows regardless of corpus size. The lexical
branch scores 5-gram character Jaccard with the same shingling the
dedup oracles pin; at web scale the exact branches swap for the
LSH/IVF tiers without touching the fusion.

Reference: ui/src/App.tsx:736-1536 executes ranked stages; fusion is an
LLM-pipeline extension (SURVEY §2 "beyond the reference" family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


_RRF_QUERY_IDS = [0, 1, 2, 3, 4]
_RRF_K = 60  # standard RRF damping constant
_RRF_LIST_K = 20  # per-ranking candidate depth
_RRF_TOP = 10  # fused results per query

_SHINGLES = (
    "list_distinct([substr({t}, i, 5) "
    "for i in generate_series(1, greatest(length({t}) - 4, 1))])"
)


def _rrf_oracle() -> str:
    ids = ", ".join(str(i) for i in _RRF_QUERY_IDS)
    # Shingle each document once, before the (query, document) cross join;
    # shingling inside the join redid it for every pair, 100x slower.
    return f"""
    WITH shingled AS (
      SELECT doc_id, {_SHINGLES.format(t="text")} AS sh FROM documents
    ), qdoc AS (
      SELECT doc_id AS query_id, sh AS qsh FROM shingled WHERE doc_id IN ({ids})
    ), lex AS (
      SELECT q.query_id, d.doc_id AS vec_id,
             round(CAST(len(list_intersect(q.qsh, d.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(q.qsh, d.sh))), 6) AS jac
      FROM qdoc q CROSS JOIN shingled d
      WHERE d.doc_id != q.query_id
    ), lex_ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY jac DESC, vec_id ASC) AS lex_rank
      FROM lex
    ), qv AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id IN ({ids})
    ), vec AS (
      SELECT q.query_id, e.vec_id,
             round(
               list_sum(list_transform(list_zip(q.qv, e.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             6) AS sim
      FROM qv q CROSS JOIN embeddings e
      WHERE e.vec_id != q.query_id
    ), vec_ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id ASC) AS vec_rank
      FROM vec
    ), fused AS (
      SELECT coalesce(l.query_id, v.query_id) AS query_id,
             coalesce(l.vec_id, v.vec_id) AS vec_id,
             round(coalesce(1.0 / ({_RRF_K} + l.lex_rank), 0)
                   + coalesce(1.0 / ({_RRF_K} + v.vec_rank), 0), 9) AS rrf_score
      FROM (SELECT * FROM lex_ranked WHERE lex_rank <= {_RRF_LIST_K}) l
      FULL OUTER JOIN (SELECT * FROM vec_ranked WHERE vec_rank <= {_RRF_LIST_K}) v
        ON l.query_id = v.query_id AND l.vec_id = v.vec_id
    ), final AS (
      SELECT query_id, vec_id, rrf_score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_score DESC, vec_id ASC) AS fused_rank
      FROM fused
    )
    SELECT query_id, vec_id, rrf_score, fused_rank
    FROM final WHERE fused_rank <= {_RRF_TOP}
    """


@register("rec_reciprocal_rank_fusion", _rrf_oracle())
def rec_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF hybrid retrieval: fuse a 5-gram-Jaccard lexical ranking and an
    exact cosine vector ranking per query document with
    score = Σ 1/(60 + rank), taking each ranking's top
    20 and returning the fused top 10. Rankings use
    rounded scores with id tie-breaks, and the fused score adds at most
    two identically-computed doubles in a fixed order, so the output is
    engine-deterministic. Queries are broadcast on both branches —
    candidate scans are shuffle-free passes; the fusion join sees only
    |queries| x 2k rows."""
    docs = sf_table(spark, sf_dir, "documents")

    # Shingles hash to longs INSIDE the transform (the jaccard below only
    # needs set sizes, which xxhash64 preserves at ~1e-13 collision odds —
    # the sf0.01 oracle hash-check pins the counts): the per-(doc,query)
    # array_intersect then probes primitive longs instead of hashing 5-char
    # strings, and no shingle string survives past the scan projection.
    sh = (
        "array_distinct(transform(sequence(1, greatest(length({t}) - 4, 1)), "
        "i -> xxhash64(substring({t}, i, 5))))"
    )
    shingled = docs.select(
        "doc_id", F.expr(sh.format(t="text")).alias("_sh")
    )
    qdocs = F.broadcast(
        shingled.filter(F.col("doc_id").isin(_RRF_QUERY_IDS)).select(
            F.col("doc_id").alias("query_id"), F.col("_sh").alias("_qsh")
        )
    )
    jac = F.round(
        F.size(F.array_intersect("_qsh", "_sh")).cast("double")
        / F.size(F.array_union("_qsh", "_sh")),
        6,
    )
    lex_w = Window.partitionBy("query_id").orderBy(
        F.desc("jac"), F.asc("vec_id")
    )
    lex = (
        shingled.crossJoin(qdocs)
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id", F.col("doc_id").alias("vec_id"), jac.alias("jac")
        )
        .withColumn("lex_rank", F.row_number().over(lex_w))
        .filter(F.col("lex_rank") <= _RRF_LIST_K)
        .select("query_id", "vec_id", "lex_rank")
    )
    # _RRF_QUERY_IDS == queries_ext._ANN_QUERY_IDS ([0..4]), so the
    # vector branch reads the session-shared exact ranked list
    # (shared_builds.ann_exact_topk — identical by the top-k-prefix
    # argument) instead of re-scanning the corpus.
    from gemini_data_wrangler_spark.shared_builds import ann_exact_topk

    vec = (
        ann_exact_topk(spark, sf_dir, reuse=True, k=_RRF_LIST_K)
        .select("query_id", "vec_id", F.col("rank").alias("vec_rank"))
    )
    fused = (
        lex.join(vec, ["query_id", "vec_id"], "full_outer")
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("vec_rank")), F.lit(0.0)),
                9,
            ).alias("rrf_score"),
        )
    )
    fw = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("vec_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(fw))
        .filter(F.col("fused_rank") <= _RRF_TOP)
        .select("query_id", "vec_id", "rrf_score", "fused_rank")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source sampling weights
# ---------------------------------------------------------------------------
_TEMP_ALPHA = 0.3  # mT5's multilingual sampling exponent


@register(
    "corpus_temperature_sampling",
    f"""
    WITH src AS (
      SELECT source, count(*) AS n_docs,
             sum(CAST(n_chars AS BIGINT)) AS n_chars
      FROM documents GROUP BY source
    ), tot AS (
      SELECT sum(n_chars) AS tot_chars,
             sum(power(CAST(n_chars AS DOUBLE), {_TEMP_ALPHA})) AS z
      FROM src
    )
    SELECT s.source, s.n_docs, s.n_chars,
           round(CAST(s.n_chars AS DOUBLE) / t.tot_chars, 6) AS natural_p,
           round(power(CAST(s.n_chars AS DOUBLE), {_TEMP_ALPHA}) / t.z, 6)
             AS sampled_p,
           round((power(CAST(s.n_chars AS DOUBLE), {_TEMP_ALPHA}) / t.z)
                 / (CAST(s.n_chars AS DOUBLE) / t.tot_chars), 6)
             AS epochs_per_pass
    FROM src s CROSS JOIN tot t
    ORDER BY s.source
    """,
)
def corpus_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (mT5 / XLM-R recipe): sampling
    probability p_s ∝ chars_s^0.3 flattens the natural size (char-budget)
    distribution so low-resource sources are seen more than their share;
    ``epochs_per_pass`` = sampled_p / natural_p is how many effective
    epochs each source runs per corpus pass (the repetition-budget
    number an over-sampled source must stay under). One groupBy plus a
    broadcast 1-row total — the canonical two-aggregate shape."""
    docs = sf_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("n_chars"),
    )
    tot = src.agg(
        F.sum("n_chars").alias("tot_chars"),
        F.sum(F.pow(F.col("n_chars").cast("double"), _TEMP_ALPHA)).alias("z"),
    )
    nat = F.col("n_chars").cast("double") / F.col("tot_chars")
    samp = F.pow(F.col("n_chars").cast("double"), _TEMP_ALPHA) / F.col("z")
    return (
        src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            F.round(nat, 6).alias("natural_p"),
            F.round(samp, 6).alias("sampled_p"),
            F.round(samp / nat, 6).alias("epochs_per_pass"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Repeated-window duplication coverage (exact-substring dedup signal)
# ---------------------------------------------------------------------------
_RW_W = 32  # window width (chars)
_RW_S = 16  # stride


@register(
    "dedup_repeated_window_rate",
    f"""
    WITH wins AS (
      SELECT doc_id,
             unnest([substr(text, i, {_RW_W})
                     for i in generate_series(1, greatest(length(text)
                                              - {_RW_W - 1}, 0), {_RW_S})]) AS w
      FROM documents
      WHERE length(text) >= {_RW_W}
    ), dup AS (
      SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT wins.doc_id,
           count(*) AS n_windows,
           count(dup.w) AS n_dup_windows,
           round(CAST(count(dup.w) AS DOUBLE) / count(*), 6) AS dup_rate
    FROM wins LEFT JOIN dup ON wins.w = dup.w
    GROUP BY wins.doc_id
    """,
)
def dedup_repeated_window_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication coverage (the Lee et al. 2022 signal
    behind suffix-array dedup, at window granularity): slide a
    32-char window at stride 16 over every document; a window
    is DUPLICATED when its exact text occurs in ≥ 2 distinct documents;
    ``dup_rate`` is the duplicated fraction of a document's windows —
    the per-doc "how much of this text exists elsewhere verbatim"
    number that length-normalized Jaccard hides. Two shuffles, both on
    the window key (the group-by that finds cross-doc windows and the
    join back); windows are |chars|/16 rows. At corpus scale, swap
    the shuffled key for xxhash64(window) — here the raw text keys keep
    the DuckDB oracle exact."""
    docs = sf_table(spark, sf_dir, "documents")
    wins = (
        docs.filter(F.length("text") >= _RW_W)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.length("text") - (_RW_W - 1),
                    F.lit(_RW_S),
                )
            ).alias("i"),
            "text",
        )
        .select("doc_id", F.expr(f"substring(text, i, {_RW_W})").alias("w"))
    )
    dup = (
        wins.groupBy("w")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("w", F.lit(1).alias("_dup"))
    )
    return (
        wins.join(dup, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count("_dup").alias("n_dup_windows"),
            F.round(
                F.count("_dup").cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
    )
