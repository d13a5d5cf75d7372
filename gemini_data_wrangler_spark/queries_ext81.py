"""Round-2 extensions, batch 81: k-center greedy coreset selection and a
DoReMi-style domain-reweighting step.

Scale notes:
- K-CENTER GREEDY (Gonzalez 1985; the diversity coreset selector behind
  modern data-pruning pipelines) keeps one running min-distance column:
  each of the k-1 rounds is (a) a distributed arg-max (TakeOrdered — one
  reduce, O(1) driver data) and (b) a row-local ``least(dmin, dist to the
  new center)`` update over the persisted corpus — k full passes total,
  never k·n² work, and the loop state is k·dim floats on the driver (the
  selected centers), constant in corpus size. Cross-engine exactness:
  distances fold (xi−ci)² left-to-right over the dimension index in both
  engines (Spark ``aggregate``+``zip_with``, DuckDB ``list_reduce``+
  comprehension), all correctly-rounded IEEE ops — ties on the arg-max
  break by vec_id, so the selected set is bit-stable.
- DOREMI STEP (Xie et al. 2023, one mirror-ascent update): domain losses
  are the per-domain mean token NLL under the corpus unigram MLE (two
  grouped aggregates over the token stream — the same linear shape as
  `text_unigram_logprob`), and the reweighting w'_d ∝ u_d·exp(η·excess_d)
  is arithmetic on the 20-row domain table. This is the data-mixing
  optimizer's inner step a 100 TB pre-training pipeline re-runs per
  epoch; everything heavy partial-aggregates map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# k-center greedy coreset
# ---------------------------------------------------------------------------
_KC_K = 8


def _duck_dist(a: str, c: str) -> str:
    term = f"(CAST({a}[i] AS DOUBLE) - CAST({c}[i] AS DOUBLE))"
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})),"
        f" i -> {term} * {term}), (x, y) -> x + y)"
    )


def _kcenter_oracle() -> str:
    layers = [
        "e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings)",
        "p1 AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 1)",
        "c1 AS (SELECT e.embedding AS ce FROM e JOIN p1 USING (vec_id))",
        f"d1 AS (SELECT e.vec_id, {_duck_dist('e.embedding', 'c.ce')} AS d"
        " FROM e CROSS JOIN c1 c)",
    ]
    for i in range(2, _KC_K + 1):
        layers.append(
            f"p{i} AS (SELECT vec_id, d FROM d{i - 1} ORDER BY d DESC, vec_id LIMIT 1)"
        )
        if i < _KC_K:
            layers.append(
                f"c{i} AS (SELECT e.embedding AS ce FROM e JOIN p{i} USING (vec_id))"
            )
            layers.append(
                f"d{i} AS (SELECT d.vec_id,"
                f" least(d.d, {_duck_dist('e.embedding', 'c.ce')}) AS d"
                f" FROM d{i - 1} d JOIN e ON d.vec_id = e.vec_id CROSS JOIN c{i} c)"
            )
    picks = ["SELECT 1 AS rank, vec_id, 0.0 AS dist_to_selected FROM p1"] + [
        f"SELECT {i} AS rank, vec_id, round(d, 6) AS dist_to_selected FROM p{i}"
        for i in range(2, _KC_K + 1)
    ]
    return "WITH " + ",\n".join(layers) + "\n" + "\nUNION ALL ".join(picks)


@register("coreset_kcenter_seeds", _kcenter_oracle())
def coreset_kcenter_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy coreset seeds over the embedding corpus: start at
    the minimum vec_id, then {_KC_K}-1 times select the point farthest
    (squared L2) from the already-selected set (ties to the lowest id),
    reporting each pick's distance-to-selected at selection time — the
    classic max-coverage diversity subset for data pruning / active
    labeling. One distributed arg-max plus one row-local least() update
    per round over the persisted corpus; driver state is the k centers
    only."""
    emb = sf_table(spark, sf_dir, "embeddings")
    base = (
        emb.select(
            "vec_id", F.expr("transform(embedding, v -> CAST(v AS DOUBLE))").alias("_e")
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )

    def dist_to(center: list) -> F.Column:
        c = F.array(*[F.lit(float(v)) for v in center])
        return F.aggregate(
            F.zip_with(F.col("_e"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, t: a + t,
        )

    seed = base.orderBy("vec_id").limit(1).collect()[0]
    picks = [(1, seed["vec_id"], 0.0)]
    cur = base.withColumn("_dmin", dist_to(seed["_e"]))
    for i in range(2, _KC_K + 1):
        top = cur.orderBy(F.desc("_dmin"), F.asc("vec_id")).limit(1).collect()[0]
        picks.append((i, top["vec_id"], float(top["_dmin"])))
        if i < _KC_K:
            cur = cur.withColumn(
                "_dmin", F.least(F.col("_dmin"), dist_to(top["_e"]))
            ).localCheckpoint()
    out = spark.createDataFrame(picks, "rank int, vec_id bigint, dist_to_selected double")
    return out.select(
        "rank", "vec_id", F.round("dist_to_selected", 6).alias("dist_to_selected")
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting step
# ---------------------------------------------------------------------------
_DRM_ETA = 1.0


@register(
    "corpus_doremi_reweight",
    rf"""
    WITH tok AS MATERIALIZED (
      SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ), cnt AS MATERIALIZED (
      SELECT w, count(*) AS c FROM tok GROUP BY w
    ), n AS (SELECT sum(c) AS n FROM cnt),
    dom AS (
      SELECT t.source, count(*) AS n_tokens,
             avg(-ln(CAST(c.c AS DOUBLE) / n.n)) AS nll
      FROM tok t JOIN cnt c ON t.w = c.w CROSS JOIN n
      GROUP BY t.source
    ), base AS (
      SELECT source, n_tokens, nll,
             nll - (SELECT min(nll) FROM dom) AS excess
      FROM dom
    ), scored AS (
      SELECT source, n_tokens, nll, excess, exp({_DRM_ETA} * excess) AS raw
      FROM base
    )
    SELECT source, n_tokens, round(nll, 6) AS nll, round(excess, 6) AS excess,
           round(raw / (SELECT sum(raw) FROM scored), 6) AS weight
    FROM scored
    """,
)
def corpus_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi mirror-ascent step on the domain mixture: domain loss =
    mean token NLL under the corpus unigram MLE (the cheap proxy for the
    reference-model excess loss), then w'_d ∝ exp(eta*excess_d) over the
    uniform prior, normalized. Token counts partial-aggregate map-side;
    the token->count join is a shuffle equi-join on the word key (AQE
    broadcasts the count table when small); the reweight itself runs on
    the |domains|-row table."""
    docs = sf_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    )
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = cnt.agg(F.sum("c").alias("n"))
    dom = (
        tok.join(cnt, "w")
        .crossJoin(F.broadcast(n))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(-F.log(F.col("c").cast("double") / F.col("n"))).alias("nll"),
        )
    )
    min_nll = dom.agg(F.min("nll").alias("_m"))
    scored = (
        dom.crossJoin(F.broadcast(min_nll))
        .withColumn("excess", F.col("nll") - F.col("_m"))
        .withColumn("raw", F.exp(_DRM_ETA * F.col("excess")))
    )
    z = scored.agg(F.sum("raw").alias("_z"))
    return (
        scored.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_tokens",
            F.round("nll", 6).alias("nll"),
            F.round("excess", 6).alias("excess"),
            F.round(F.col("raw") / F.col("_z"), 6).alias("weight"),
        )
    )
