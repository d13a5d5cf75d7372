"""Round-2 extensions, batch 83: top principal component of the
embedding corpus.

Scale notes: PCA's data-scale work is exactly two moment passes — the
per-dimension mean and the 64x64 second-moment matrix — both expressed
as bounded explodes (x64 and x2080 fan-outs of the vector column only)
that partial-aggregate map-side down to dimension-indexed cells, so the
shuffle is metadata-sized at any corpus size. The power iteration then
runs on the collected 64x64 covariance: O(dims^2) driver state,
corpus-size-independent (the same constant-small-state class as the
PageRank dangling-mass probe). The DuckDB oracle recomputes the moments
relationally and unrolls {_PCA_ITERS} matrix-vector layers; both engines
converge to the same dominant eigenvector, and the fixed sign convention
(component of largest magnitude positive, ties to the lowest dimension)
makes the loading table comparable value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


_PCA_DIMS = 64
_PCA_ITERS = 40


def _pca_oracle() -> str:
    layers = [
        "x AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings)",
        f"dims AS (SELECT unnest(range(1, {_PCA_DIMS + 1})) AS i)",
        "m AS MATERIALIZED (SELECT i, avg(CAST(embedding[i] AS DOUBLE)) AS mu"
        " FROM x CROSS JOIN dims GROUP BY i)",
        "cov AS MATERIALIZED ("
        " SELECT a.i AS i, b.i AS j,"
        "        avg(CAST(x.embedding[a.i] AS DOUBLE) * CAST(x.embedding[b.i] AS DOUBLE))"
        "          - ma.mu * mb.mu AS c"
        " FROM x CROSS JOIN dims a CROSS JOIN dims b"
        " JOIN m ma ON ma.i = a.i JOIN m mb ON mb.i = b.i"
        " GROUP BY a.i, b.i, ma.mu, mb.mu)",
        f"v0 AS (SELECT i, 1.0 / sqrt({_PCA_DIMS}) AS val FROM dims)",
    ]
    # Every layer MATERIALIZED: v{t} references w{t} twice (values +
    # normalizer) and w{t} references v{t-1} — inlined CTEs would expand
    # 2^iters times.
    for t in range(1, _PCA_ITERS + 1):
        layers.append(
            f"w{t} AS MATERIALIZED (SELECT cov.i, sum(cov.c * v.val) AS wv"
            f" FROM cov JOIN v{t - 1} v ON cov.j = v.i GROUP BY cov.i)"
        )
        layers.append(
            f"v{t} AS MATERIALIZED (SELECT i, wv / sqrt((SELECT sum(wv * wv) FROM w{t})) AS val"
            f" FROM w{t})"
        )
    last = f"v{_PCA_ITERS}"
    return f"""
    WITH {", ".join(layers)},
    sgn AS (
      SELECT CASE WHEN val < 0 THEN -1.0 ELSE 1.0 END AS s
      FROM {last} ORDER BY abs(val) DESC, i ASC LIMIT 1
    ),
    lam AS (
      SELECT sum(v.val * w.wv) AS ev
      FROM {last} v JOIN w{_PCA_ITERS} w ON v.i = w.i
    ),
    tr AS (SELECT sum(c) AS t FROM cov WHERE i = j)
    SELECT v.i AS dim,
           round(v.val * sgn.s, 3) AS loading,
           round(lam.ev, 4) AS eigenvalue,
           round(lam.ev / tr.t, 4) AS explained_frac
    FROM {last} v CROSS JOIN sgn CROSS JOIN lam CROSS JOIN tr
    """


@register("embedding_pca_top_component", _pca_oracle())
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding corpus: two
    distributed moment passes (mean vector, second-moment matrix — both
    bounded fan-outs with map-side partial aggregation), then
    {_PCA_ITERS} power-iteration steps on the driver-held 64x64
    covariance (constant state). Output: every dimension's loading under
    the fixed sign convention plus the dominant eigenvalue and its
    explained-variance fraction — the spectral summary a pipeline uses
    to size a JL/PCA cut before ANN indexing."""
    emb = sf_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode(F.col("embedding")).alias("p", "xv")).select(
        (F.col("p") + 1).alias("i"), F.col("xv").cast("double").alias("x")
    )
    mean = ex.groupBy("i").agg(F.avg("x").alias("mu"))
    # x2080 fan-out of (i, j >= i) products; symmetric completion after agg
    pair = (
        emb.select(
            F.col("embedding").alias("_e"),
            F.posexplode(F.col("embedding")).alias("p", "xa"),
        )
        .select(
            "p",
            F.col("xa").cast("double").alias("x_i"),
            F.posexplode(F.expr("slice(_e, p + 1, size(_e))")).alias("q", "xb"),
        )
        .select(
            (F.col("p") + 1).alias("i"),
            (F.col("p") + 1 + F.col("q")).alias("j"),
            (F.col("x_i") * F.col("xb").cast("double")).alias("prod"),
        )
        .groupBy("i", "j")
        .agg(F.avg("prod").alias("m2"))
    )
    ma = mean.select(F.col("i"), F.col("mu").alias("mu_i"))
    mb = mean.select(F.col("i").alias("j"), F.col("mu").alias("mu_j"))
    cov_upper = (
        pair.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .select("i", "j", (F.col("m2") - F.col("mu_i") * F.col("mu_j")).alias("c"))
    )
    rows = cov_upper.collect()
    n = _PCA_DIMS
    C = [[0.0] * n for _ in range(n)]
    for r in rows:
        C[r["i"] - 1][r["j"] - 1] = r["c"]
        C[r["j"] - 1][r["i"] - 1] = r["c"]
    import math

    v = [1.0 / math.sqrt(n)] * n
    w = v
    for _ in range(_PCA_ITERS):
        w = [sum(C[i][j] * v[j] for j in range(n)) for i in range(n)]
        nrm = math.sqrt(sum(x * x for x in w))
        v = [x / nrm for x in w]
    lam = sum(v[i] * w[i] for i in range(n))
    tr = sum(C[i][i] for i in range(n))
    top = max(range(n), key=lambda i: (abs(v[i]), -i))
    s = -1.0 if v[top] < 0 else 1.0
    out = [
        (i + 1, round(v[i] * s, 3), round(lam, 4), round(lam / tr, 4))
        for i in range(n)
    ]
    return spark.createDataFrame(
        out, "dim int, loading double, eigenvalue double, explained_frac double"
    )
