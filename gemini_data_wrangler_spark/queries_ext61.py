"""Round-2 extensions, batch 61: MMR diversified retrieval and
embedding split-drift.

Scale notes:
- MMR (Carbonell & Goldstein 1998) diversifies a top-k result:
  iteratively select argmax λ·relevance − (1−λ)·max-similarity-to-
  already-selected. The iteration is inherently sequential IN K but
  bounded: it runs inside a grouped `applyInPandas` over each query's
  candidate pool (≤ the over-fetch size), so the cluster parallelizes
  across queries while each group's O(k·|pool|) loop stays in one
  Arrow batch — the standard shape for bounded per-group algorithms.
- SPLIT DRIFT compares per-label centroids between two deterministic
  halves of the corpus: distance gated against the sampling-noise
  scale √(trace(Σ)·(1/n₁+1/n₂)). Centroids are per-dimension averages
  (explode + aggregate, linear); an honest split should sit within a
  few noise units — a real ingestion drift pushes it out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# MMR diversified top-k
# ---------------------------------------------------------------------------
_MMR_K = 5
_MMR_POOL = 30
_MMR_LAMBDA = 0.7


def mmr_topk(
    emb: DataFrame, query_ids: list[int], k: int = _MMR_K, pool: int = _MMR_POOL,
    lam: float = _MMR_LAMBDA, cand: DataFrame | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance top-k: over-fetch a relevance pool via
    exact cosine, then greedily pick items maximizing
    λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s). The greedy loop runs
    per query group in one Arrow batch (pool ≤ {_MMR_POOL}); ties break
    by vec_id so the selection is deterministic.

    The pairwise pool similarities are computed JVM-SIDE with the exact
    left-to-right fold and rounded to 6 BEFORE the kernel sees them
    (round 3; previously a numpy matmul inside the kernel): the greedy
    chain then runs on engine-reproducible inputs, which is what lets
    `similarity_mmr_topk` carry a full recursive-CTE DuckDB oracle
    instead of only invariant gates. Pool pairs are |Q|·pool² skinny
    rows — trivial beside the corpus scan that feeds the pool."""
    import pandas as pd

    from gemini_data_wrangler_spark.functions.vectors import cosine_similarity
    from gemini_data_wrangler_spark.operators.similarity import (
        cosine_topk,
        queries_from_ids,
    )

    # ``cand`` lets callers inject the session-shared exact ranked list
    # (shared_builds.ann_exact_topk) instead of re-scanning the corpus;
    # the frames are identical by the top-k-prefix argument there.
    if cand is None:
        q = queries_from_ids(emb, query_ids)
        cand = cosine_topk(emb, q, k=pool)
    cand = cand.select("query_id", "vec_id", "sim")
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("_v")
    )
    pool_v = cand.join(vecs, "vec_id").select("query_id", "vec_id", "sim", "_v")
    a = pool_v.select(
        "query_id",
        F.col("vec_id").alias("va"),
        F.col("sim").alias("rel_a"),
        F.col("_v").alias("_xa"),
    )
    b = pool_v.select(
        "query_id", F.col("vec_id").alias("vb"), F.col("_v").alias("_xb")
    )
    # Self-pairs stay in (the greedy never consults S[i][i] — i is skipped
    # once chosen) so single-candidate pools still form a pandas group.
    pairs = a.join(b, "query_id").select(
        "query_id",
        "va",
        "vb",
        "rel_a",
        F.round(cosine_similarity(F.col("_xa"), F.col("_xb")), 6).alias("s"),
    )

    schema = "query_id long, vec_id long, sim double, mmr_rank int"

    def select_group(pdf: pd.DataFrame) -> pd.DataFrame:
        rel: dict[int, float] = {}
        sim: dict[tuple[int, int], float] = {}
        for row in pdf.itertuples():
            rel[row.va] = row.rel_a
            sim[(row.va, row.vb)] = row.s
        ids = sorted(rel)
        chosen: list[int] = []
        for _ in range(min(k, len(ids))):
            best, best_key = None, None
            for i in ids:
                if i in chosen:
                    continue
                div = max(sim[(i, j)] for j in chosen) if chosen else 0.0
                score = lam * rel[i] - (1 - lam) * div
                key = (score, -i)
                if best is None or key > best_key:
                    best, best_key = i, key
            chosen.append(best)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "vec_id": chosen,
                "sim": [rel[c] for c in chosen],
                "mmr_rank": range(1, len(chosen) + 1),
            }
        )

    return pairs.groupBy("query_id").applyInPandas(select_group, schema)


def _mmr_topk_oracle(
    k: int = _MMR_K, pool: int = _MMR_POOL, lam: float = _MMR_LAMBDA
) -> str:
    """Direct DuckDB re-derivation of the MMR greedy chain as a recursive
    CTE: with the pool's pairwise similarities rounded to 6 on both sides
    (identical left-to-right cosine arithmetic), each greedy step is an
    argmax over engine-identical doubles — the score expression spells
    ``λ·rel − (1−λ)·div`` with λ CAST to DOUBLE so ``1−λ`` produces the
    same binary64 value Python's float arithmetic does. One recursion
    step per selection, window-ranked argmax with the kernel's
    (score DESC, vec_id ASC) tie-break."""
    from gemini_data_wrangler_spark.queries_ext import _ANN_QUERY_IDS
    from gemini_data_wrangler_spark.queries_ext3 import _cos_sql

    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    lamd = f"CAST({lam!r} AS DOUBLE)"
    return f"""
    WITH RECURSIVE v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), pool AS MATERIALIZED (
      SELECT query_id, vec_id, sim FROM (
        SELECT q.vec_id AS query_id, e.vec_id,
               round({_cos_sql("q.v", "e.v")}, 6) AS sim,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round({_cos_sql("q.v", "e.v")}, 6) DESC, e.vec_id) AS rn
        FROM v q CROSS JOIN v e
        WHERE q.vec_id IN ({ids}) AND e.vec_id != q.vec_id
      ) WHERE rn <= {pool}
    ), ps AS MATERIALIZED (
      SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
             round({_cos_sql("x.v", "y.v")}, 6) AS s
      FROM pool a
      JOIN pool b ON b.query_id = a.query_id AND b.vec_id != a.vec_id
      JOIN v x ON x.vec_id = a.vec_id
      JOIN v y ON y.vec_id = b.vec_id
    ), sel AS (
      SELECT query_id, 1 AS step, vec_id, sim, [vec_id] AS sel_list FROM (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY {lamd} * sim DESC, vec_id) AS rn
        FROM pool
      ) WHERE rn = 1
      UNION ALL
      SELECT query_id, step + 1, vec_id, sim, list_append(sel_list, vec_id) FROM (
        SELECT s.query_id, s.step, p.vec_id, p.sim, s.sel_list,
               row_number() OVER (PARTITION BY s.query_id ORDER BY
                 {lamd} * p.sim - (1 - {lamd}) * (
                   SELECT max(ps.s) FROM ps
                   WHERE ps.query_id = s.query_id AND ps.va = p.vec_id
                     AND list_contains(s.sel_list, ps.vb)
                 ) DESC, p.vec_id) AS rn
        FROM sel s
        JOIN pool p ON p.query_id = s.query_id
        WHERE s.step < {k} AND NOT list_contains(s.sel_list, p.vec_id)
      ) WHERE rn = 1
    )
    SELECT query_id, vec_id, sim, step AS mmr_rank FROM sel"""


@register("similarity_mmr_topk", _mmr_topk_oracle())
def similarity_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR top-k, DIRECTLY oracle-backed since round 3 (was rows-only):
    with rounded engine-identical pairwise sims, the greedy chain is
    reproducible, and DuckDB replays it step by step in a recursive CTE.
    The invariant gates below still pin diversity and relevance."""
    from gemini_data_wrangler_spark.shared_builds import mmr_list

    return mmr_list(spark, sf_dir, reuse=False)


def _mmr_check_oracle() -> str:
    from gemini_data_wrangler_spark.queries_ext import _ANN_QUERY_IDS

    return (
        "SELECT vec_id AS query_id, TRUE AS diversity_ok, TRUE AS relevance_ok "
        "FROM embeddings WHERE vec_id IN ({ids})"
    ).format(ids=", ".join(str(i) for i in _ANN_QUERY_IDS))


@register("similarity_mmr_check", _mmr_check_oracle())
def similarity_mmr_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated MMR quality contract: per query, the MMR set's
    maximum intra-set similarity must not exceed the plain top-k set's
    (diversity never worse), and the MMR set's top-1 must equal the
    exact top-1 (λ < 1 never displaces the best hit — greedy picks it
    first when nothing is selected yet). Pinned-TRUE oracle: a
    regression in either property becomes a driver hash MISMATCH."""
    from gemini_data_wrangler_spark.functions.vectors import cosine_similarity
    from gemini_data_wrangler_spark.shared_builds import ann_exact_topk, mmr_list

    emb = sf_table(spark, sf_dir, "embeddings")
    mmr = mmr_list(spark, sf_dir, reuse=True).select(
        "query_id", "vec_id", "mmr_rank"
    )
    plain = ann_exact_topk(spark, sf_dir, reuse=True, k=_MMR_K).select(
        "query_id", "vec_id", "rank"
    )
    vecs = emb.select("vec_id", F.col("embedding").alias("_v"))

    def max_intra(df: DataFrame, label: str) -> DataFrame:
        a = df.join(vecs, "vec_id").select(
            "query_id", F.col("vec_id").alias("ia"), F.col("_v").alias("_va")
        )
        b = df.join(vecs, "vec_id").select(
            F.col("query_id").alias("qb"), F.col("vec_id").alias("ib"),
            F.col("_v").alias("_vb"),
        )
        return (
            a.join(b, (F.col("query_id") == F.col("qb")) & (F.col("ia") < F.col("ib")))
            .withColumn("_s", F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 6))
            .groupBy("query_id")
            .agg(F.max("_s").alias(label))
        )

    div = max_intra(mmr, "mmr_max_intra").join(
        max_intra(plain, "plain_max_intra"), "query_id"
    )
    top1 = (
        mmr.filter(F.col("mmr_rank") == 1)
        .select("query_id", F.col("vec_id").alias("mmr_top1"))
        .join(
            plain.filter(F.col("rank") == 1).select(
                "query_id", F.col("vec_id").alias("plain_top1")
            ),
            "query_id",
        )
    )
    return (
        div.join(top1, "query_id")
        .select(
            "query_id",
            (F.col("mmr_max_intra") <= F.col("plain_max_intra") + 1e-9).alias(
                "diversity_ok"
            ),
            (F.col("mmr_top1") == F.col("plain_top1")).alias("relevance_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding split drift: centroid distance between deterministic halves
# ---------------------------------------------------------------------------
@register(
    "embedding_split_drift",
    """
    WITH halves AS (
      SELECT label, embedding,
             CASE WHEN md5(CAST(vec_id AS VARCHAR)) < '8' THEN 'a' ELSE 'b' END AS half
      FROM embeddings
    ), dims AS (
      SELECT label, half, u.i AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
      FROM halves, unnest(generate_series(1, len(embedding))) AS u(i)
    ), cent AS (
      SELECT label, half, dim, avg(v) AS c, var_samp(v) AS var_v, count(*) AS n
      FROM dims GROUP BY 1, 2, 3
    ), paired AS (
      SELECT a.label, a.dim, a.c AS ca, b.c AS cb,
             a.var_v AS va, a.n AS na, b.n AS nb
      FROM (SELECT * FROM cent WHERE half = 'a') a
      JOIN (SELECT * FROM cent WHERE half = 'b') b
        ON a.label = b.label AND a.dim = b.dim
    )
    SELECT label,
           round(sqrt(sum((ca - cb) * (ca - cb))), 6) AS centroid_dist,
           round(sqrt(sum(va) * (1.0 / any_value(na) + 1.0 / any_value(nb))), 6)
             AS noise_scale,
           (sqrt(sum((ca - cb) * (ca - cb)))
              <= 4 * sqrt(sum(va) * (1.0 / any_value(na) + 1.0 / any_value(nb))))
             AS within_noise
    FROM paired GROUP BY label
    """,
)
def embedding_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift screen: per label, the distance between the
    centroids of two deterministic md5 halves of the corpus, against
    the sampling-noise scale √(trace(Σ)·(1/n₁+1/n₂)) — an honest random
    split stays within ~4 noise units (`within_noise`); a real
    distribution shift between ingestion batches lands far outside.
    Per-dimension explode + hash aggregate (linear in vectors × dims),
    then a label-bounded reduction — the embedding twin of
    `dq_psi_price_drift`."""
    emb = sf_table(spark, sf_dir, "embeddings")
    halves = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("dim0", "v0"),
        F.when(F.md5(F.col("vec_id").cast("string")) < "8", "a")
        .otherwise("b")
        .alias("half"),
    ).select(
        "label", "half", (F.col("dim0") + 1).alias("dim"),
        F.col("v0").cast("double").alias("v"),
    )
    cent = halves.groupBy("label", "half", "dim").agg(
        F.avg("v").alias("c"), F.var_samp("v").alias("var_v"), F.count(F.lit(1)).alias("n")
    )
    a = cent.filter(F.col("half") == "a").select(
        "label", "dim", F.col("c").alias("ca"), F.col("var_v").alias("va"),
        F.col("n").alias("na"),
    )
    b = cent.filter(F.col("half") == "b").select(
        "label", "dim", F.col("c").alias("cb"), F.col("n").alias("nb")
    )
    paired = a.join(b, ["label", "dim"])
    dist = F.sqrt(F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))))
    noise = F.sqrt(
        F.sum("va") * (1.0 / F.first("na") + 1.0 / F.first("nb"))
    )
    return paired.groupBy("label").agg(
        F.round(dist, 6).alias("centroid_dist"),
        F.round(noise, 6).alias("noise_scale"),
        (dist <= 4 * noise).alias("within_noise"),
    )
