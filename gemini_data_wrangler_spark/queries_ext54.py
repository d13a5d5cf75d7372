"""Round-2 extensions, batch 54: parquet-layout partition advisor and
Markov next-event accuracy under a temporal split.

Scale notes:
- The PARTITION ADVISOR reads only parquet FOOTERS (driver-side
  metadata, KBs per file regardless of data size — the same reads
  Spark's own scan planner performs) and recommends scan-task counts
  against the 128 MB `maxPartitionBytes` contract. At 100 TB this is
  the nightly table-health report that catches the small-files problem
  before it becomes a scheduler stall.
- MARKOV ACCURACY is the eval loop for the sequence model the engine
  already fits (`events_markov_transitions`): train transitions before
  a time split, score top-1 predictions after it, against the
  majority-class baseline. Transition matrix is domain-bounded
  (|types|²); the only row-scale work is one lag window per user.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table

_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# ---------------------------------------------------------------------------
# Parquet-layout partition advisor (footer metadata only)
# ---------------------------------------------------------------------------
_TARGET_BYTES = 134217728  # spark.sql.files.maxPartitionBytes default


def _advisor_oracle() -> str:
    parts = []
    for t in _TABLES:
        path = f"/root/testdata/sf0.01/{t}.parquet"
        parts.append(f"""
        SELECT '{t}' AS table_name,
               sum(total_compressed_size) AS compressed_bytes,
               count(DISTINCT row_group_id) AS n_row_groups,
               greatest(1, CAST(ceil(sum(total_compressed_size)
                   / {float(_TARGET_BYTES)}) AS BIGINT)) AS recommended_scan_tasks
        FROM parquet_metadata('{path}')
        """)
    return " UNION ALL ".join(parts)


@register("layout_partition_advisor", _advisor_oracle())
def layout_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout advisor from parquet FOOTER metadata (the same
    bytes Spark's scan planner reads): per table, compressed size, row-
    group count, and the scan-task count the 128 MB
    `maxPartitionBytes` contract implies. The production signal is the
    RATIO row-groups : recommended-tasks — thousands of row groups for
    a single recommended task is the small-files problem;
    one giant row group above the target is the unsplittable-scan
    problem (`layout_compaction_plan` is the remediation step).
    Metadata-only: cost is per-FILE, not per-byte, at any scale."""
    import pyarrow.parquet as pq

    rows = []
    for t in _TABLES:
        md = pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata
        comp = sum(
            md.row_group(rg).column(c).total_compressed_size
            for rg in range(md.num_row_groups)
            for c in range(md.num_columns)
        )
        rows.append(
            (
                t,
                comp,
                md.num_row_groups,
                max(1, -(-comp // _TARGET_BYTES)),
            )
        )
    return spark.createDataFrame(
        rows,
        "table_name string, compressed_bytes bigint, n_row_groups bigint, "
        "recommended_scan_tasks bigint",
    )


# ---------------------------------------------------------------------------
# Markov next-event top-1 accuracy under a temporal split
# ---------------------------------------------------------------------------
_MK_SPLIT = "2024-01-22"


@register(
    "events_markov_accuracy",
    f"""
    WITH seq AS (
      SELECT user_id, ts, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev
      FROM events
    ), train AS (
      SELECT prev, event_type AS nxt, count(*) AS c FROM seq
      WHERE prev IS NOT NULL AND ts < TIMESTAMP '{_MK_SPLIT}'
      GROUP BY 1, 2
    ), pred AS (
      SELECT prev, nxt FROM (
        SELECT prev, nxt,
               row_number() OVER (PARTITION BY prev ORDER BY c DESC, nxt ASC) AS rn
        FROM train
      ) WHERE rn = 1
    ), base AS (
      SELECT nxt AS bnxt FROM (
        SELECT nxt, sum(c) AS c FROM train GROUP BY nxt
        ORDER BY c DESC, nxt ASC LIMIT 1)
    ), test AS (
      SELECT prev, event_type AS actual FROM seq
      WHERE prev IS NOT NULL AND ts >= TIMESTAMP '{_MK_SPLIT}'
    )
    SELECT count(*) AS n_test,
           round(avg(CASE WHEN p.nxt = t.actual THEN 1.0 ELSE 0.0 END), 6)
             AS markov_accuracy,
           round(avg(CASE WHEN b.bnxt = t.actual THEN 1.0 ELSE 0.0 END), 6)
             AS baseline_accuracy
    FROM test t LEFT JOIN pred p ON t.prev = p.prev CROSS JOIN base b
    """,
)
def events_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 next-event accuracy of the first-order Markov model under
    a TEMPORAL split (train before {_MK_SPLIT}, score after — the only
    honest split for sequence models; a random split leaks the future),
    against the majority-class baseline. Markov ≤ baseline means the
    sequence carries no first-order signal — the go/no-go gate before
    investing in a sequence model. One lag window per user; the
    transition matrix and argmax predictor are |types|²-bounded."""
    events = sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "ts", "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    split = F.lit(_MK_SPLIT).cast("timestamp")
    train = (
        seq.filter(F.col("ts") < split)
        .groupBy("prev", F.col("event_type").alias("nxt"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy("prev").orderBy(F.col("c").desc(), F.col("nxt").asc())
    pred = (
        train.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("prev", "nxt")
    )
    base = (
        train.groupBy("nxt")
        .agg(F.sum("c").alias("c"))
        .orderBy(F.col("c").desc(), F.col("nxt").asc())
        .limit(1)
        .select(F.col("nxt").alias("bnxt"))
    )
    test = seq.filter(F.col("ts") >= split).select(
        "prev", F.col("event_type").alias("actual")
    )
    return (
        test.join(F.broadcast(pred), "prev", "left")
        .crossJoin(F.broadcast(base))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.round(
                F.avg(F.when(F.col("nxt") == F.col("actual"), 1.0).otherwise(0.0)), 6
            ).alias("markov_accuracy"),
            F.round(
                F.avg(F.when(F.col("bnxt") == F.col("actual"), 1.0).otherwise(0.0)),
                6,
            ).alias("baseline_accuracy"),
        )
    )
