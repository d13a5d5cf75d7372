"""Round-2 extensions, batch 68: kNN-density outliers, personalized
PageRank, Spark-4 VARIANT JSON access.

Scale notes:
- kNN-DENSITY reuses the tiled exact kNN kernel (numpy prunes, JVM
  rescoring decides) — O(n·k·blocks) candidates, no broadcast of the
  full table — then two constant-size aggregates for the z-score gate.
- PERSONALIZED PAGERANK has the same per-round shape as `pagerank`
  (cached co-partitioned edge join + map-side-combined aggregation,
  node-sized state, lineage checkpointed); only the restart vector
  changes. Oracle is the same unrolled-CTE construction.
- VARIANT parses each JSON document ONCE into Spark 4's binary variant
  encoding; every field access after that is a typed tree walk, not a
  re-parse — the at-scale answer to get_json_object-per-field (which
  re-parses the string N times for N fields). Row-local, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# kNN-density outlier scores over embeddings
# ---------------------------------------------------------------------------
_KD_K = 5


def _knn_outlier_oracle() -> str:
    return f"""
    WITH scored AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             round(
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             6) AS sim
      FROM embeddings a CROSS JOIN embeddings b
      WHERE a.vec_id != b.vec_id
    ), ranked AS (
      SELECT u, v, sim,
             row_number() OVER (PARTITION BY u ORDER BY sim DESC, v ASC) AS rk
      FROM scored
    ), dens AS (
      SELECT u AS vec_id, round(avg(1 - sim), 6) AS knn_dist
      FROM ranked WHERE rk <= {_KD_K} GROUP BY u
    ), g AS (
      SELECT avg(knn_dist) AS mu, stddev_pop(knn_dist) AS sd FROM dens
    )
    SELECT vec_id, knn_dist,
           round((knn_dist - g.mu) / g.sd, 6) AS z,
           round(knn_dist - (g.mu + 2 * g.sd), 6) > 0 AS is_outlier
    FROM dens CROSS JOIN g
    """


@register("similarity_knn_outlier", _knn_outlier_oracle())
def similarity_knn_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-density outlier screen: each vector's mean cosine DISTANCE to
    its 5 exact nearest neighbors, z-scored globally, flagged beyond
    2σ — the density view of embedding quality (`embedding_centroid_
    outliers` asks "far from my label's center?"; this asks "far from
    EVERYONE?" — it catches junk in sparse regions that still sits near
    a centroid line). Tiled exact kNN kernel + two scalar aggregates;
    the flag compares a ROUNDED margin so the boolean cannot flip on
    engine float noise."""
    from gemini_data_wrangler_spark.shared_builds import knn_table

    knn = knn_table(spark, sf_dir, reuse=True, k=_KD_K)
    dens = knn.groupBy(F.col("query_id").alias("vec_id")).agg(
        F.round(F.avg(1 - F.col("sim")), 6).alias("knn_dist")
    )
    g = dens.agg(
        F.avg("knn_dist").alias("mu"), F.stddev_pop("knn_dist").alias("sd")
    )
    return dens.crossJoin(F.broadcast(g)).select(
        "vec_id",
        "knn_dist",
        F.round((F.col("knn_dist") - F.col("mu")) / F.col("sd"), 6).alias("z"),
        (
            F.round(F.col("knn_dist") - (F.col("mu") + 2 * F.col("sd")), 6) > 0
        ).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (restart on a seed set)
# ---------------------------------------------------------------------------
_PPR_ITERS = 5
_PPR_SEED_MOD = 20  # seed set: node ids ≡ 0 (mod 20) — deterministic subset


def _ppr_oracle(iterations: int) -> str:
    return f"""
    WITH li AS (
      SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
      FROM lineitem WHERE l_shipdate BETWEEN '1995-01-01' AND '1995-12-31'
    ),
    e AS (SELECT src, dst FROM li UNION SELECT dst AS src, src AS dst FROM li),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    seeds AS (
      SELECT node, CASE WHEN node % {_PPR_SEED_MOD} = 0
                        THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS s
      FROM nodes
    ),
    ns AS (SELECT sum(s) AS k FROM seeds),
    deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
    r0 AS (SELECT node, s / (SELECT k FROM ns) AS rank FROM seeds)""" + "".join(
        f""",
    r{i} AS (
      SELECT seeds.node,
             CAST(0.15 AS DOUBLE) * seeds.s / (SELECT k FROM ns)
             + CAST(0.85 AS DOUBLE) * coalesce(t.inr, CAST(0 AS DOUBLE)) AS rank
      FROM seeds LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank / deg.deg) AS inr
        FROM e JOIN r{i - 1} r ON e.src = r.node JOIN deg ON e.src = deg.node
        GROUP BY e.dst
      ) t ON seeds.node = t.node
    )"""
        for i in range(1, iterations + 1)
    ) + f"""
    SELECT node, round(rank, 9) AS rank FROM r{iterations}
    ORDER BY round(rank, 9) DESC, node LIMIT 50
    """


@register("graph_personalized_pagerank", _ppr_oracle(_PPR_ITERS))
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the supplier↔part graph with restart on a
    deterministic seed subset (node ≡ 0 mod 20): ranks measure proximity
    to the seeds — "more parts like these suppliers' parts", the
    lookalike-expansion primitive global PageRank can't express (its
    stationary mass forgets the query). Same cached-edge iterative
    rounds as `graph_pagerank_parts`; unrolled-CTE DuckDB oracle,
    9-decimal rounding absorbs summation-order noise."""
    from gemini_data_wrangler_spark.operators.graphs import personalized_pagerank

    li = (
        sf_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between("1995-01-01", "1995-12-31"))
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = li.union(li.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    seeds = nodes.filter(F.col("node") % _PPR_SEED_MOD == 0)
    ranked = personalized_pagerank(edges, seeds, iterations=_PPR_ITERS).select(
        "node", F.round("rank", 9).alias("rank")
    )
    return ranked.orderBy(F.col("rank").desc(), F.col("node")).limit(50)


# ---------------------------------------------------------------------------
# Spark-4 VARIANT: parse once, typed access (vs per-field re-parse)
# ---------------------------------------------------------------------------
@register(
    "scalar_variant_functions",
    """
    WITH j AS (
      SELECT event_id,
             '{"k": ' || CAST(event_id % 100 AS VARCHAR) ||
             ', "tags": ["' || event_type || '", "x"]' ||
             ', "price": ' || CAST(event_id % 7 AS VARCHAR) || '.5' ||
             ', "meta": {"v": ' || CAST(user_id % 10 AS VARCHAR) ||
             ', "ok": ' || CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END
             || '}}' AS doc
      FROM events WHERE event_id < 300
    )
    SELECT event_id,
           CAST(json_extract(doc, '$.k') AS BIGINT) AS k_val,
           json_extract_string(doc, '$.tags[1]') AS second_tag,
           CAST(json_extract(doc, '$.price') AS DOUBLE) AS price,
           CAST(json_extract(doc, '$.meta.v') AS BIGINT) AS nested_v,
           CAST(json_extract(doc, '$.meta.ok') AS BOOLEAN) AS ok_flag,
           CAST(json_extract(doc, '$.absent') AS BIGINT) AS missing_val
    FROM j
    """,
)
def scalar_variant_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT bank: `parse_json` converts each constructed JSON
    document ONCE into the binary variant encoding, then `variant_get`
    pulls typed fields (int, string-by-index, double, nested, boolean,
    missing→NULL) as tree walks — the at-scale replacement for chained
    `get_json_object` calls, which re-parse the source string once PER
    FIELD (this bank touches 6 fields ⇒ 6× parse work saved). Row-local
    projection; DuckDB oracle reads the same doc through its native JSON
    type."""
    ev = sf_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    doc = F.concat(
        F.lit('{"k": '),
        (F.col("event_id") % 100).cast("string"),
        F.lit(', "tags": ["'),
        F.col("event_type"),
        F.lit('", "x"], "price": '),
        (F.col("event_id") % 7).cast("string"),
        F.lit('.5, "meta": {"v": '),
        (F.col("user_id") % 10).cast("string"),
        F.lit(', "ok": '),
        F.when(F.col("event_id") % 2 == 0, "true").otherwise("false"),
        F.lit("}}"),
    )
    v = ev.select("event_id", F.parse_json(doc).alias("v"))
    return v.select(
        "event_id",
        F.try_variant_get("v", "$.k", "bigint").alias("k_val"),
        F.try_variant_get("v", "$.tags[1]", "string").alias("second_tag"),
        F.try_variant_get("v", "$.price", "double").alias("price"),
        F.try_variant_get("v", "$.meta.v", "bigint").alias("nested_v"),
        F.try_variant_get("v", "$.meta.ok", "boolean").alias("ok_flag"),
        F.try_variant_get("v", "$.absent", "bigint").alias("missing_val"),
    )
