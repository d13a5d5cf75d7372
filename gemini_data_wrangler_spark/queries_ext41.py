"""Round-2 extensions, batch 41: forecast backtesting and the
compression-ratio quality signal.

Scale notes:
- BACKTEST: the honest evaluation loop for `forecast_holt_linear` —
  one-step-ahead errors come from lagging the fold's forecast against
  the next observation (one extra window over the per-day table), then
  one aggregate for MAPE/RMSE. No refitting per origin: the fold's
  prefix property IS the rolling origin.
- COMPRESSION SIGNAL: deflate ratio per document — the classic
  repetition/boilerplate screen (templated text compresses far below
  natural prose). zlib runs in the same Arrow ``mapInPandas`` shape as
  the decoders (content work, Python-side by necessity); rows-only by
  contract (no SQL deflate), pinned by an exact-equality test against
  direct zlib on the same bytes and by the repetition cross-check.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Rolling-origin backtest of the Holt forecast
# ---------------------------------------------------------------------------
_HOLT_A, _HOLT_B = 0.3, 0.1  # must match forecast_holt_linear

@register(
    "forecast_holt_backtest",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             round(sum(value), 6) AS total
      FROM events GROUP BY 1
    ), folded AS (
      SELECT d, total,
             list_reduce(
               list_transform(
                 list(total) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW),
                 x -> [CAST(x AS DOUBLE), CAST(0 AS DOUBLE)]),
               (acc, x) -> [
                 CAST({_HOLT_A} AS DOUBLE) * x[1]
                   + CAST({1 - _HOLT_A} AS DOUBLE) * (acc[1] + acc[2]),
                 CAST({_HOLT_B} AS DOUBLE)
                   * ((CAST({_HOLT_A} AS DOUBLE) * x[1]
                       + CAST({1 - _HOLT_A} AS DOUBLE) * (acc[1] + acc[2]))
                      - acc[1])
                   + CAST({1 - _HOLT_B} AS DOUBLE) * acc[2]
               ]
             ) AS s
      FROM daily
    ), joined AS (
      SELECT d, total,
             lag(s[1] + s[2]) OVER (ORDER BY d) AS forecast
      FROM folded
    )
    SELECT count(*) AS n_evaluated,
           round(avg(abs(total - forecast) / total), 6) AS mape,
           round(sqrt(avg(power(total - forecast, 2))), 6) AS rmse
    FROM joined WHERE forecast IS NOT NULL
    """,
)
def forecast_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the Holt forecast: each day's
    prediction is the PREVIOUS day's level+trend (no peeking — the
    fold's prefix property gives every origin's fit for free), scored
    as MAPE and RMSE against the realized totals. The evaluation every
    capacity forecast needs before anyone trusts it; one lag window
    over the per-day table plus one aggregate."""
    events = sf_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.round(F.sum("value"), 6).alias("total"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    a, b = _HOLT_A, _HOLT_B
    fold = F.expr(
        "aggregate("
        " slice(_l, 2, greatest(size(_l) - 1, 0)),"
        " array(element_at(_l, 1), 0.0D),"
        f" (acc, x) -> array("
        f"   {a}D * x + {1 - a}D * (element_at(acc, 1) + element_at(acc, 2)),"
        f"   {b}D * (({a}D * x + {1 - a}D * (element_at(acc, 1) + element_at(acc, 2)))"
        f"           - element_at(acc, 1))"
        f"     + {1 - b}D * element_at(acc, 2)))"
    )
    folded = daily.withColumn("_l", F.collect_list("total").over(w)).withColumn(
        "_s", fold
    )
    w_lag = Window.orderBy("d")
    joined = folded.withColumn(
        "forecast",
        F.lag(F.element_at("_s", 1) + F.element_at("_s", 2)).over(w_lag),
    ).filter(F.col("forecast").isNotNull())
    err = F.col("total") - F.col("forecast")
    return joined.agg(
        F.count(F.lit(1)).alias("n_evaluated"),
        F.round(F.avg(F.abs(err) / F.col("total")), 6).alias("mape"),
        F.round(F.sqrt(F.avg(F.pow(err, 2))), 6).alias("rmse"),
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (bound-gated: no SQL deflate)
# ---------------------------------------------------------------------------
def compression_signal_frame(docs: DataFrame) -> DataFrame:
    """Per-document deflate signal with the full column set
    (doc_id, raw_bytes, compressed_bytes, ratio) — the registered query
    projects the bound-gate subset; the unit test pins byte-exactness
    against direct zlib through this frame."""
    import zlib

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [t.encode("utf-8") if t is not None else b"" for t in pdf["text"]]
            comp = [len(zlib.compress(b, 6)) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": [len(b) for b in raw],
                    "compressed_bytes": comp,
                }
            )

    out = docs.mapInPandas(
        gen, "doc_id bigint, raw_bytes int, compressed_bytes int"
    )
    return out.withColumn(
        "ratio",
        F.round(
            F.col("compressed_bytes")
            / F.greatest(F.col("raw_bytes"), F.lit(1)).cast("double"),
            6,
        ),
    )


@register(
    "text_compression_signal",
    """
    SELECT doc_id,
           coalesce(strlen(text), 0) AS raw_bytes,
           TRUE AS bound_ok
    FROM documents
    """,
)
def text_compression_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflate compression ratio per document (zlib level 6 over utf-8
    bytes): templated/repetitive text compresses far below natural
    prose, making the ratio a cheap standalone quality screen (the
    information-theoretic cousin of `text_repetition_stats`, which
    tests cross-check it against). Arrow-batched ``mapInPandas`` —
    content work like the media decoders.

    DuckDB has no deflate, so the oracle follows the repo's bound-gate
    pattern (queries_ext10 module docstring): doc_id and raw_bytes are
    pinned EXACTLY (``strlen`` = utf-8 byte length) and ``bound_ok``
    pins the deflate envelope — 0 < compressed ≤ raw + raw/4096 +
    raw/16384 + 77, which is zlib's own deflateBound worst case for the
    default memLevel (len + (len>>12) + (len>>14) + (len>>25) + 13)
    plus 64 bytes of headroom. The old flat ``raw + 64`` envelope is
    violated by incompressible inputs above ~760 KB (measured: 900 KB
    random bytes → raw+281), because zlib emits its stored/fixed blocks
    from a ~16 KiB pending buffer, not one per 64 KiB window. zlib
    byte-exactness stays pinned by the unit test.

    Output: doc_id, raw_bytes, bound_ok."""
    docs = sf_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = compression_signal_frame(docs)
    return out.select(
        "doc_id",
        "raw_bytes",
        (
            (F.col("compressed_bytes") > 0)
            & (
                F.col("compressed_bytes")
                # size-proportional deflate envelope: zlib's deflateBound
                # (len + len>>12 + len>>14 + 13 for default memLevel;
                # the >>25 term is 0 below 32 MB) + 64 bytes headroom
                <= F.col("raw_bytes")
                + F.floor(F.col("raw_bytes") / F.lit(4096))
                + F.floor(F.col("raw_bytes") / F.lit(16384))
                + 77
            )
        ).alias("bound_ok"),
    )
