"""Round-2 extensions, batch 36: PCM waveform statistics and the
chi-square independence screen.

Scale notes:
- WAV RMS: sample unpack runs inside the same Arrow ``mapInPandas`` as
  the other content decoders; the oracle re-derives the synthesizer's
  sawtooth arithmetically, so a decoder that misreads the data chunk,
  sample width, or signedness hash-mismatches.
- CHI-SQUARE: the contingency table is one grouped count (map-side
  combined); marginals and the statistic are two more aggregations over
  that tiny table — the categorical-drift sibling of the numeric KS
  test (`corpus_ks_drift_test`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# PCM waveform statistics (RMS / peak) from content decode
# ---------------------------------------------------------------------------
@register(
    "multimodal_audio_rms",
    """
    WITH a AS (
      SELECT doc_id, CAST(50 + doc_id % 50 AS INT) AS n
      FROM documents WHERE doc_id % 3 = 1 AND doc_id % 97 <> 0
    )
    SELECT doc_id AS asset_id, n AS n_samples,
           round(sqrt(list_sum(list_transform(range(0, n),
                 i -> CAST(((i * 1103) % 2001 - 1000)
                           * ((i * 1103) % 2001 - 1000) AS DOUBLE)))
                 / n), 6) AS rms,
           CAST(list_max(list_transform(range(0, n),
                 i -> abs((i * 1103) % 2001 - 1000))) AS INT) AS peak
    FROM a
    """,
)
def multimodal_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RMS and peak amplitude from REAL PCM sample decode: the parser
    walks to the data chunk and unpacks every 16-bit signed sample
    (operators/multimodal.py::_decode_wav_samples). The synthesizer
    writes a deterministic sawtooth, so the oracle recomputes the exact
    sample statistics arithmetically — loudness screening that requires
    byte-exact waveform reconstruction, completing the content-decode
    trio (PNG pixels, GIF frames, PCM samples)."""
    from gemini_data_wrangler_spark.operators.multimodal import (
        audio_sample_stats,
        synthesize_assets,
    )

    docs = sf_table(spark, sf_dir, "documents")
    stats = audio_sample_stats(synthesize_assets(docs, "doc_id"))
    return stats.select(
        "asset_id",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        "peak",
    )


# ---------------------------------------------------------------------------
# Chi-square independence: order priority × order year
# ---------------------------------------------------------------------------
@register(
    "dq_chi_square_mix",
    """
    WITH obs AS (
      SELECT o_orderpriority AS p, year(CAST(o_orderdate AS DATE)) AS y,
             count(*) AS o
      FROM orders GROUP BY 1, 2
    ), rows_m AS (SELECT p, sum(o) AS rp FROM obs GROUP BY p),
    cols_m AS (SELECT y, sum(o) AS cy FROM obs GROUP BY y),
    n AS (SELECT sum(o) AS n FROM obs)
    SELECT round(sum(power(obs.o - rows_m.rp * cols_m.cy / n.n, 2)
                     / (rows_m.rp * cols_m.cy / n.n)), 6) AS chi2,
           (count(DISTINCT obs.p) - 1) * (count(DISTINCT obs.y) - 1) AS dof,
           max(n.n) AS n
    FROM obs JOIN rows_m USING (p) JOIN cols_m USING (y) CROSS JOIN n
    """,
)
def dq_chi_square_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and order
    year: Σ(observed − expected)²/expected over the contingency table,
    expected = row·col/N — the categorical drift screen (is the priority
    MIX shifting across years?) pairing with the numeric KS test. The
    contingency table is tiny after one grouped count; compare chi2 to
    the χ²(dof) quantile offline (the CDF needs the incomplete gamma,
    which neither engine exposes — dof and N ship alongside)."""
    orders = sf_table(spark, sf_dir, "orders")
    obs = orders.groupBy(
        F.col("o_orderpriority").alias("p"),
        F.year(F.to_date("o_orderdate")).alias("y"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_m = obs.groupBy("p").agg(F.sum("o").alias("rp"))
    cols_m = obs.groupBy("y").agg(F.sum("o").alias("cy"))
    n = obs.agg(F.sum("o").alias("n"))
    j = (
        obs.join(F.broadcast(rows_m), "p")
        .join(F.broadcast(cols_m), "y")
        .crossJoin(F.broadcast(n))
    )
    e = F.col("rp") * F.col("cy") / F.col("n")
    return j.agg(
        F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 6).alias("chi2"),
        (
            (F.count_distinct("p") - 1) * (F.count_distinct("y") - 1)
        ).alias("dof"),
        F.max("n").alias("n"),
    )
