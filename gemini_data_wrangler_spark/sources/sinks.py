"""Sinks — columnar/text writers for result tables.

The reference exports only the stage-flow JSON and a PNG of the DAG
(ui/src/App.tsx:2043-2056, 2077+); it has **no** table export at all
(SURVEY.md §2.4). A Spark engine needs real sinks, so these are
first-class here:

* ``write_parquet`` — the scale path. Supports ``partition_by`` (hive-style
  directory partitioning → partition pruning for downstream readers) and
  ``max_records_per_file`` to bound file sizes at 100 TB.
* ``write_csv`` / ``write_json`` — interchange formats, header on by
  default to round-trip with the CSV LOAD path.

All writers go through ``df.write`` (distributed, executor-side IO —
never a driver collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
) -> None:
    df.write.mode(mode).option("header", header).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_xml(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    row_tag: str = "row",
    root_tag: str = "rows",
) -> None:
    """XML export (Spark 4 native): one ``row_tag`` element per row under
    ``root_tag`` — round-trips with ``readers.read_xml``."""
    df.write.mode(mode).format("xml").option("rowTag", row_tag).option(
        "rootTag", root_tag
    ).save(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sort-within-bucket) managed
    table. Two tables bucketed on the same key with the same bucket count
    join WITHOUT any exchange — the shuffle is paid once at write time and
    amortized over every subsequent join/aggregation on that key. This is
    the 100 TB answer for fact tables that are repeatedly joined on the
    same key (orders ⋈ lineitem on orderkey); the co-location is asserted
    in tests/test_graph_sinks.py (no Exchange in the joined plan)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def zorder_column(df: DataFrame, cols: list[str], out: str = "_z") -> DataFrame:
    """Append a Morton (Z-order) key interleaving the given numeric
    columns, each min-max scaled to a fixed bit budget (30 bits split
    across dimensions). One tiny min/max aggregate (collected as two
    scalars per column) plus pure JVM bit arithmetic — no UDF, no sort."""
    from pyspark.sql import functions as F

    bits = 30 // len(cols)
    top = (1 << bits) - 1
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"_mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    z = F.lit(0).cast("bigint")
    for i, c in enumerate(cols):
        mn, mx = stats[f"_mn_{i}"], stats[f"_mx_{i}"]
        span = (mx - mn) or 1.0
        scaled = F.least(
            F.lit(top),
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top),
        ).cast("bigint")
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(scaled, b).bitwiseAND(F.lit(1)),
                b * len(cols) + i,
            )
    return df.withColumn(out, z)


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write parquet laid out along a Z-order curve over `cols`: range
    partition + sort by the interleaved Morton key, so EVERY listed
    dimension is clustered within each file. Parquet min/max footer stats
    then prune files/row-groups for predicates on ANY of the dimensions —
    a linear sort clusters only its leading column. At 100 TB this is the
    difference between scanning ~1/n_files of the data for a 2-D range
    predicate and scanning half the table; the per-file multi-dimension
    clustering is asserted in tests/test_graph_sinks.py."""
    zdf = zorder_column(df, cols)
    (
        zdf.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
