"""Round-2 extensions, batch 42: content-defined chunking, winnowing
fingerprints, positional phrase search, retrieve-then-rerank ANN.

Scale notes:
- CONTENT-DEFINED CHUNKING is the byte/word-level dedup primitive
  (FastCDC lineage): boundaries depend only on local content, so an
  insertion early in a document shifts ONE chunk, not every fixed-width
  chunk after it. All per-token work is row-local expressions + one
  per-doc window; chunk stats are an ordinary hash aggregate — nothing
  grows with corpus size except the shuffle, which is linear in tokens.
- WINNOWING (Schleimer et al., SIGMOD 2003 — the MOSS fingerprint) picks
  the minimum k-gram hash in every sliding window of w grams, giving a
  position-robust fingerprint set with density 2/(w+1) and a guarantee:
  any shared run of >= w+k-1 tokens yields a shared fingerprint. Per-doc
  windows only (no cross-doc state); the share join is an equi-join on
  the fingerprint hash — the same bucketed shape as MinHash-LSH.
- PHRASE SEARCH demonstrates the positional-inverted-index plan: the
  phrase becomes an adjacency self-join on (doc, pos+i) over a token
  index, which at scale probes only the posting lists of the phrase's
  words (the rarest word's list bounds the work) instead of rescanning
  text. The oracle reproduces it with a sliding n-gram window.
- RETRIEVE-THEN-RERANK is the production ANN shape: a cheap coarse
  scorer (here truncated-dimension cosine — 2x fewer FLOPs and half the
  bytes moved; int8/PQ are the sibling coarse tiers) over-fetches
  candidates, then the exact scorer reranks only those. Recall is gated
  with the pinned-TRUE oracle contract used by the LSH/IVF/PQ tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.queries_ext import _ANN_RECALL_ORACLE
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Content-defined chunking (word-level FastCDC shape) + dedup accounting
# ---------------------------------------------------------------------------
# A chunk boundary falls AFTER any word whose md5 starts below '2'
# (P = 1/8 -> mean chunk ~8 words). md5 is the cross-engine deterministic
# hash (same trick as `sample_deterministic_hash`). Production CDC adds
# min/max chunk-size clamps; the unclamped rule keeps the oracle exact.
@register(
    "chunk_content_defined",
    r"""
    WITH w AS (
      SELECT doc_id, source,
             unnest(list_transform(generate_series(1, len(ws)),
                    i -> {'pos': i, 't': ws[i]})) AS s
      FROM (SELECT doc_id, source,
                   regexp_split_to_array(trim(lower(text)), '\s+') AS ws
            FROM documents)
    ), tok AS (
      SELECT doc_id, source, s.pos AS pos, s.t AS t,
             CASE WHEN md5(s.t) < '2' THEN 1 ELSE 0 END AS b
      FROM w
    ), cid AS (
      SELECT doc_id, source, pos, t,
             COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_id
      FROM tok
    ), chunks AS (
      SELECT source, doc_id, chunk_id,
             string_agg(t, ' ' ORDER BY pos) AS chunk, count(*) AS n_words
      FROM cid GROUP BY 1, 2, 3
    )
    SELECT source, count(*) AS n_chunks,
           count(DISTINCT chunk) AS n_distinct_chunks,
           round(1 - count(DISTINCT chunk) / CAST(count(*) AS DOUBLE), 6)
             AS dup_chunk_ratio,
           round(avg(n_words), 6) AS avg_chunk_words
    FROM chunks GROUP BY source
    """,
)
def chunk_content_defined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + per-source chunk-dedup accounting: split
    every document at content-derived boundaries (md5(word) < '2', the
    word-level FastCDC rule), then measure how much of each source is
    repeated chunks (`dup_chunk_ratio`). This is the storage/transfer
    dedup primitive — shifted or lightly-edited re-crawls still share
    most chunk hashes, where fixed-width chunking shares none. Plan: one
    per-doc running-sum window to number chunks, one hash aggregate to
    re-assemble them (sorted collect keeps token order deterministic),
    one aggregate for the stats — linear in tokens, no driver state."""
    docs = sf_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            "source",
            F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias("pos", "t"),
        )
        .withColumn("b", (F.md5("t") < "2").cast("int"))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cid = tok.withColumn("chunk_id", F.coalesce(F.sum("b").over(w), F.lit(0)))
    chunks = cid.groupBy("source", "doc_id", "chunk_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "t"))), lambda s: s["t"]
            ),
            " ",
        ).alias("chunk"),
        F.count(F.lit(1)).alias("n_words"),
    )
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("chunk").alias("n_distinct_chunks"),
        F.round(
            1 - F.countDistinct("chunk") / F.count(F.lit(1)).cast("double"), 6
        ).alias("dup_chunk_ratio"),
        F.round(F.avg("n_words"), 6).alias("avg_chunk_words"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (k=4-word grams, window w=5) + sharing stats
# ---------------------------------------------------------------------------
_WIN_K = 4  # words per gram
_WIN_W = 5  # grams per winnowing window


@register(
    "text_winnowing_fingerprint",
    rf"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - {_WIN_K - 1}),
                    i -> {{'pos': i,
                           'gram': array_to_string(ws[i:i+{_WIN_K - 1}], ' ')}})) AS s
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\s+') AS ws
            FROM documents)
      WHERE len(ws) >= {_WIN_K}
    ), h AS (
      SELECT doc_id, s.pos AS pos,
             substr(md5(s.gram), 1, 8) || '|' ||
               lpad(CAST(s.pos AS VARCHAR), 6, '0') AS key
      FROM g
    ), sel AS (
      SELECT doc_id,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp_key
      FROM h
    ), per_doc AS (
      SELECT doc_id, count(*) AS n_grams,
             count(DISTINCT fp_key) AS n_fingerprints
      FROM sel GROUP BY doc_id
    ), fp AS (
      SELECT DISTINCT doc_id, substr(fp_key, 1, 8) AS fp_hash FROM sel
    ), shared AS (
      SELECT fp_hash FROM fp GROUP BY fp_hash
      HAVING count(DISTINCT doc_id) >= 2
    ), ns AS (
      SELECT fp.doc_id, count(*) AS n_shared_fp
      FROM fp JOIN shared USING (fp_hash) GROUP BY fp.doc_id
    )
    SELECT p.doc_id, p.n_grams, p.n_fingerprints,
           COALESCE(ns.n_shared_fp, 0) AS n_shared_fp,
           round(COALESCE(ns.n_shared_fp, 0)
                 / CAST(p.n_fingerprints AS DOUBLE), 6) AS shared_ratio
    FROM per_doc p LEFT JOIN ns ON p.doc_id = ns.doc_id
    """,
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    {_WIN_K}-word gram, slide a window of {_WIN_W} gram hashes over each
    document, keep the window minimum (ties broken by position via the
    hash||pos composite key — a strict total order, so selection is
    deterministic in both engines; tail windows clip identically).
    Guarantee: any shared run of >= w+k-1 = {_WIN_W + _WIN_K - 1} words
    produces a shared fingerprint, at ~2/(w+1) storage density — the
    robust middle ground between per-gram inverted indexes (dense) and
    single-doc hashes (brittle). `shared_ratio` flags documents whose
    fingerprints collide with other docs — the plagiarism/near-dup
    signal. Per-doc windows + one equi-join on fp_hash; linear in
    tokens, bucketed at scale like the MinHash band join."""
    docs = sf_table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    grams = F.expr(
        f"transform(sequence(1, size(ws) - {_WIN_K - 1}),"
        f" i -> struct(i AS pos, array_join(slice(ws, i, {_WIN_K}), ' ') AS gram))"
    )
    g = (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= _WIN_K)
        .select("doc_id", F.explode(grams).alias("s"))
        .select(
            "doc_id",
            F.col("s.pos").alias("pos"),
            F.concat(
                F.substring(F.md5("s.gram"), 1, 8),
                F.lit("|"),
                F.lpad(F.col("s.pos").cast("string"), 6, "0"),
            ).alias("key"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    # eager: per_doc and fp both scan the selected-fingerprint frame (and
    # fp fans out again below) — lazily, the md5-per-gram + window-min
    # pipeline would recompute once per branch.
    sel = g.select(
        "doc_id", F.min("key").over(win).alias("fp_key")
    ).localCheckpoint()
    per_doc = sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("fp_key").alias("n_fingerprints"),
    )
    fp = (
        sel.select("doc_id", F.substring("fp_key", 1, 8).alias("fp_hash"))
        .distinct()
        .localCheckpoint()  # eager: shared + ns branches
    )
    shared = (
        fp.groupBy("fp_hash")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("fp_hash")
    )
    ns = fp.join(shared, "fp_hash").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared_fp")
    )
    return per_doc.join(ns, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        "n_fingerprints",
        F.coalesce("n_shared_fp", F.lit(0)).alias("n_shared_fp"),
        F.round(
            F.coalesce("n_shared_fp", F.lit(0))
            / F.col("n_fingerprints").cast("double"),
            6,
        ).alias("shared_ratio"),
    )


# ---------------------------------------------------------------------------
# Positional-index phrase search for the corpus's top trigram
# ---------------------------------------------------------------------------
@register(
    "text_phrase_search",
    r"""
    WITH tri AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - 2),
                    i -> array_to_string(ws[i:i+2], ' '))) AS phrase
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\s+') AS ws
            FROM documents)
      WHERE len(ws) >= 3
    ), top AS (
      SELECT phrase FROM (
        SELECT phrase, count(*) AS c FROM tri GROUP BY phrase
        ORDER BY c DESC, phrase ASC LIMIT 1)
    )
    SELECT tri.doc_id, tri.phrase, count(*) AS n_occ
    FROM tri JOIN top USING (phrase)
    GROUP BY 1, 2
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query answered from a POSITIONAL token index: find
    every occurrence of the corpus's most frequent word trigram (ties ->
    lexicographic) as a three-way adjacency self-join on (doc_id, pos),
    (doc_id, pos+1), (doc_id, pos+2). This is the inverted-index phrase
    plan — at scale each leg probes only the posting list of one phrase
    word (the rarest word's list bounds the join), instead of re-scanning
    text; the oracle reproduces the result with a sliding trigram window.
    The top phrase itself is one TakeOrderedAndProject, broadcast back."""
    docs = sf_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias("pos", "t"),
    )
    # Phrase discovery: top trigram by count (ties -> lexicographic).
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    tri = (
        docs.select(ws.alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(F.explode(
            F.expr("transform(sequence(1, size(ws) - 2),"
                   " i -> array_join(slice(ws, i, 3), ' '))")
        ).alias("phrase"))
        .groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("phrase").asc())
        .limit(1)
        .select("phrase")
    )
    top = F.broadcast(tri.withColumn("_w", F.split("phrase", " ")))
    p1 = tok.join(top, tok["t"] == F.element_at("_w", 1)).select(
        "doc_id", "pos", "phrase"
    )
    p2 = tok.select(F.col("doc_id").alias("_d2"), F.col("pos").alias("_p2"), F.col("t").alias("_t2"))
    p3 = tok.select(F.col("doc_id").alias("_d3"), F.col("pos").alias("_p3"), F.col("t").alias("_t3"))
    occ = (
        p1.join(
            p2,
            (F.col("doc_id") == F.col("_d2")) & (F.col("_p2") == F.col("pos") + 1),
        )
        .join(
            p3,
            (F.col("doc_id") == F.col("_d3")) & (F.col("_p3") == F.col("pos") + 2),
        )
        .filter(
            (F.col("_t2") == F.element_at(F.split("phrase", " "), 2))
            & (F.col("_t3") == F.element_at(F.split("phrase", " "), 3))
        )
    )
    return occ.groupBy("doc_id", "phrase").agg(F.count(F.lit(1)).alias("n_occ"))


# ---------------------------------------------------------------------------
# Retrieve-then-rerank: truncated-dim coarse retrieval + exact rerank
# ---------------------------------------------------------------------------
_RERANK_DIMS = 32   # coarse scorer uses the first 32 of 64 dims
_RERANK_CAND = 100  # candidates over-fetched per query before exact rerank


def _rerank_topk(emb: DataFrame, q: DataFrame, k: int = 10) -> DataFrame:
    """Two-stage ANN: coarse top-{_RERANK_CAND} by truncated-dimension
    cosine (half the FLOPs/bytes of the full scorer), exact full-dim
    rerank of only those candidates. The coarse stage is the same
    broadcast-scan shape as `cosine_topk`; the rerank touches
    n_queries x {_RERANK_CAND} rows regardless of corpus size."""
    from gemini_data_wrangler_spark.functions.vectors import cosine_similarity
    from gemini_data_wrangler_spark.operators.similarity import cosine_topk

    emb_t = emb.withColumn("embedding", F.slice("embedding", 1, _RERANK_DIMS))
    q_t = q.withColumn("query_vec", F.slice("query_vec", 1, _RERANK_DIMS))
    cand = cosine_topk(emb_t, q_t, k=_RERANK_CAND).select("query_id", "vec_id")
    full = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("_v")
    )
    qfull = q.select(
        "query_id", F.transform("query_vec", lambda x: x.cast("double")).alias("_q")
    )
    scored = (
        cand.join(full, "vec_id")
        .join(F.broadcast(qfull), "query_id")
        .withColumn("sim", F.round(cosine_similarity(F.col("_q"), F.col("_v")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def _rerank_topk_oracle(k: int = 10) -> str:
    """Direct DuckDB re-derivation of retrieve-then-rerank: both stages
    are DETERMINISTIC (truncated-dim rounded cosine with vec_id
    tie-breaks → exact full-dim rounded cosine), so the whole two-stage
    pipeline admits a full oracle. Cosines mirror Spark's left-to-right
    double accumulation; the coarse cut ranks on the same rounded sim as
    `_ranked_topk`, so the 100-candidate boundary is identical."""
    from gemini_data_wrangler_spark.queries_ext import _ANN_QUERY_IDS
    from gemini_data_wrangler_spark.queries_ext3 import _cos_sql

    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    return f"""
    WITH t AS MATERIALIZED (
      SELECT vec_id, embedding, embedding[1:{_RERANK_DIMS}] AS tv FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             embedding[1:{_RERANK_DIMS}] AS qt
      FROM embeddings WHERE vec_id IN ({ids})
    ), coarse AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round({_cos_sql("q.qt", "e.tv", _RERANK_DIMS)}, 6) DESC,
                          e.vec_id) AS crank
        FROM q CROSS JOIN t e
        WHERE e.vec_id != q.query_id
      ) WHERE crank <= {_RERANK_CAND}
    ), scored AS (
      SELECT c.query_id, c.vec_id,
             round({_cos_sql("q.qv", "e.embedding", 64)}, 6) AS sim
      FROM coarse c
      JOIN t e ON e.vec_id = c.vec_id
      JOIN q ON q.query_id = c.query_id
    )
    SELECT query_id, vec_id, sim, rank FROM (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {k}"""


@register("similarity_rerank_topk", _rerank_topk_oracle())
def similarity_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank top-k, DIRECTLY oracle-backed since round 3
    (was rows-only): both stages are deterministic, so DuckDB re-derives
    the truncated-dim coarse cut and the exact rerank from scratch. The
    recall gate below still anchors it to the brute-force ranking.
    PUBLISHER of the session-shared rerank ranked list (round 7): the
    recall gate reuses the identical list; this query always rebuilds
    (reuse=False) so its bench row prices the full coarse+rerank."""
    from gemini_data_wrangler_spark.shared_builds import approx_topk_list

    return approx_topk_list(spark, sf_dir, "rerank", reuse=False)


@register("similarity_rerank_recall", _ANN_RECALL_ORACLE)
def similarity_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of retrieve-then-rerank vs exact cosine, floored at 0.6
    per query (measured ≥ 0.8 on the driver corpus with a 100-candidate
    coarse stage over 32/64 dims; these synthetic embeddings are not
    Matryoshka-trained, so truncation is a worst case — real MRL
    embeddings retrieve far better at the same dims). Pinned-TRUE oracle:
    a recall regression becomes a driver hash MISMATCH, same contract as
    the LSH/IVF/PQ recall gates.
    Reuses the session-shared rerank ranked list (identical parameters
    to the `similarity_rerank_topk` publisher)."""
    from gemini_data_wrangler_spark.queries_ext import _ann_recall_check
    from gemini_data_wrangler_spark.shared_builds import approx_topk_list

    return _ann_recall_check(
        spark,
        sf_dir,
        lambda emb, q, k: approx_topk_list(spark, sf_dir, "rerank", reuse=True),
        floor=0.6,
    )
