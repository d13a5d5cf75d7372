"""Sources — CSV/parquet readers + inline-row tables.

Reference LOAD semantics (``ui/src/App.tsx:354-459``): a 3-tier CSV ingest —
(1) ``read_csv_auto(header=true, auto_detect=true)`` (type-sniffing),
(2) same from re-read text, (3) a manual all-VARCHAR parse. Spark-first:
tier 1–2 ≡ ``spark.read.csv(..., inferSchema=True)``, tier 3 ≡
``inferSchema=False`` (every column string). Image-extracted tables
(``ui/src/App.tsx:812-835``) built row-by-row with INSERTs become a single
``spark.createDataFrame`` — no driver-side row loops at scale.

Driver testdata is parquet; ``load_sf_tables`` registers all tables of a
scale-factor directory as temp views so both DataFrame code and CUSTOM SQL
stages can reach them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _enable_nanos_timestamps(spark: SparkSession) -> None:
    """The driver testdata stores TIMESTAMP(NANOS) parquet columns, which
    Spark rejects by default (PARQUET_TYPE_ILLEGAL). This runtime conf makes
    Spark 4 read them (as timestamp_ntz, truncated to µs — the same value
    DuckDB's TIMESTAMP cast produces). Set here, not only at session build,
    so it also applies under an externally-provided SparkSession."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


def _normalize_ns_timestamps(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """TIMESTAMP(NANOS) parquet columns arrive as bigint (nanos since epoch)
    under ``nanosAsLong``; convert them back to timestamp_ntz so event-time
    operators (window/session_window) see real timestamps. Conversion goes
    through epoch-micros with the session timezone pinned to UTC so the
    wall-clock values match what DuckDB reads, independent of the host tz."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    try:
        arrow_schema = pq.read_schema(path)
    except Exception:
        return df
    ns_cols = [f.name for f in arrow_schema if str(f.type) == "timestamp[ns]"]
    if not ns_cols:
        return df
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    for c in ns_cols:
        # Integer DIV, not `/`: float division of ~1.7e18 nanos exceeds
        # double precision (2^53) and lands microseconds off.
        df = df.withColumn(
            c, F.expr(f"CAST(timestamp_micros(CAST(`{c}` AS BIGINT) DIV 1000) AS TIMESTAMP_NTZ)")
        )
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    _enable_nanos_timestamps(spark)
    return _normalize_ns_timestamps(spark, spark.read.parquet(path), path)


def read_csv(
    spark: SparkSession,
    path: str,
    infer_schema: bool = True,
    header: bool = True,
) -> DataFrame:
    """CSV ingest. ``infer_schema=True`` is the reference's
    ``read_csv_auto`` path; ``False`` is the all-VARCHAR fallback
    (ui/src/App.tsx:417)."""
    return (
        spark.read.option("header", header)
        .option("inferSchema", infer_schema)
        # Quote-aware parsing like the manual parser at ui/src/App.tsx:328-352.
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
) -> DataFrame:
    """JSON-lines ingest (one object per line — the splittable layout; a
    single multi-line JSON document cannot be partitioned across workers).

    Pass an explicit ``schema`` DDL string in production: schema inference
    costs a FULL extra pass over the data before the real read — fine at
    test scale, a double-read of the lake at 100 TB. No counterpart in the
    reference (its only file source is CSV — ui/src/App.tsx:1779-1786);
    JSONL is table stakes for training-data interchange.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC ingest — same vectorized columnar path as parquet (predicate
    pushdown, column pruning, splittable stripes); common in Hive-era
    lakes. No counterpart in the reference (CSV-only —
    ui/src/App.tsx:1779-1786)."""
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: str | None = None,
) -> DataFrame:
    """XML ingest (Spark 4 native source): one output row per ``row_tag``
    element. Same production rule as JSONL: pass an explicit ``schema``
    DDL — inference is an extra full pass. Feeds/enterprise exports are
    the usual carriers; no counterpart in the reference (CSV-only —
    ui/src/App.tsx:1779-1786)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_text(
    spark: SparkSession,
    path: str,
    whole_file: bool = False,
) -> DataFrame:
    """Raw-text ingest: one row per line (``value`` string), or one row
    per FILE when ``whole_file`` — the raw-corpus entry point before any
    schema exists. Line mode is splittable; whole-file mode is not (each
    file is one record — fine for document corpora of many small files,
    wrong for a few huge ones)."""
    return spark.read.text(path, wholetext=whole_file)


def dataframe_from_rows(
    spark: SparkSession,
    columns: list[dict[str, str]] | list[str],
    rows: list[list],
) -> DataFrame:
    """Build a table from extracted row data (image-OCR path,
    ui/src/App.tsx:812-835) — one distributed createDataFrame instead of
    per-row INSERTs.

    ``columns`` is either a list of names (all-string, the reference's
    VARCHAR default) or ``[{"name": ..., "type": ...}]`` with SQL type names
    (VARCHAR/INTEGER/BIGINT/DOUBLE/DATE/TIMESTAMP/BOOLEAN —
    server/index.js:359).
    """
    type_map = {
        "VARCHAR": "string",
        "TEXT": "string",
        "STRING": "string",
        "INTEGER": "int",
        "INT": "int",
        "BIGINT": "long",
        "DOUBLE": "double",
        "FLOAT": "float",
        "DATE": "date",
        "TIMESTAMP": "timestamp",
        "BOOLEAN": "boolean",
    }
    if columns and isinstance(columns[0], dict):
        fields = ", ".join(
            f"`{c['name']}` {type_map.get(str(c.get('type', 'VARCHAR')).upper(), 'string')}"
            for c in columns
        )
    else:
        fields = ", ".join(f"`{c}` string" for c in columns)
    return spark.createDataFrame(rows, schema=fields)


def load_sf_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every parquet table of a testdata scale-factor directory and
    register each as a temp view (for CUSTOM SQL stages). The DataFrames
    are memoized per application: parquet schema discovery costs a JVM
    round-trip per table."""
    from gemini_data_wrangler_spark.session import session_memo
    from gemini_data_wrangler_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)

    def build() -> dict[str, DataFrame]:
        out: dict[str, DataFrame] = {}
        for name in TESTDATA_TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                out[name] = read_parquet(spark, path)
        return out

    tables = session_memo(spark, "sf_tables", (sf_dir,), build)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return dict(tables)


def sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One table of a scale-factor directory (see :func:`load_sf_tables`)."""
    return load_sf_tables(spark, sf_dir)[name]


def load_dir_tables(
    spark: SparkSession,
    dir_path: str,
    register: bool = True,
) -> dict[str, DataFrame]:
    """Discover and load every ``<name>.parquet`` / ``<name>.csv`` table in
    a directory (the CLI's table-catalog convention — a superset of
    ``load_sf_tables``' fixed list). Parquet directories (partitioned
    writes) are detected by extension-less directory names containing
    parquet part files. Each table optionally registers as a temp view so
    CUSTOM SQL / ``--sql`` can reference it by name."""
    out: dict[str, DataFrame] = {}
    for fn in sorted(os.listdir(dir_path)):
        path = os.path.join(dir_path, fn)
        if fn.endswith(".parquet"):
            name = fn[: -len(".parquet")]
            df = read_parquet(spark, path)
        elif fn.endswith(".csv"):
            name = fn[: -len(".csv")]
            df = read_csv(spark, path)
        elif os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            name = fn
            df = read_parquet(spark, path)
        else:
            continue
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
