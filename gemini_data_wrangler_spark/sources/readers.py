"""Sources — CSV/parquet readers + inline-row tables.

Reference LOAD semantics (``ui/src/App.tsx:354-459``): a 3-tier CSV ingest —
(1) ``read_csv_auto(header=true, auto_detect=true)`` (type-sniffing),
(2) same from re-read text, (3) a manual all-VARCHAR parse. Spark-first:
tier 1–2 ≡ ``spark.read.csv(..., inferSchema=True)``, tier 3 ≡
``inferSchema=False`` (every column string). Image-extracted tables
(``ui/src/App.tsx:812-835``) built row-by-row with INSERTs become a single
``spark.createDataFrame`` — no driver-side row loops at scale.

Parquet: a LOAD in the reference costs DuckDB one footer read, and so does
:func:`read_parquet` here. It reads the footer once with pyarrow and hands
Spark the schema it would infer (``spark.read.schema(...)``), so opening a
file runs no Spark job. INT64 ``TIMESTAMP(NANOS)`` columns are read as
bigint nanos (``nanosAsLong``) and converted to µs timestamps; INT96
columns keep Spark's own type and values. Directories of part files, hive
partitions, files Spark wrote and types the footer conversion cannot map
(e.g. ``uint32``) keep ``spark.read.parquet`` inference.

Views: :func:`bind_view` is the engine's only temp-view registration.
Driver testdata is parquet; ``load_sf_tables`` binds all tables of a
scale-factor directory to views of their names so both DataFrame code and
CUSTOM SQL stages can reach them. Each view is registered once per
application and registered again only when the catalog no longer holds
the relation bound for that frame (replaced, dropped, or bound to another
scale); memo-hit loads and pipeline runners over loaded tables run no
view command.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

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
    Spark 4 read them as bigint nanos, which :func:`read_parquet` converts.
    Set here, not only at session build, so it also applies under an
    externally-provided SparkSession."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


# Reader confs whose non-default value changes the types Spark infers from
# a parquet footer; under any other value the footer schema is not derived.
_FOOTER_SCHEMA_CONFS = {
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.parquet.int96AsTimestamp": "true",
    "spark.sql.parquet.binaryAsString": "false",
}
# Footer key of the schema Spark stores in the files it writes; Spark's
# inference prefers it over the parquet types.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _same_in_spark(at) -> bool:
    """Whether Spark reads the parquet column of Arrow type ``at`` as
    ``from_arrow_type(at)`` does. Excluded: unsigned ints, half floats,
    decimal256, date64, time and duration (Arrow-only annotations, or
    types Spark reads differently or refuses) and anything else not
    listed."""
    import pyarrow.types as pt

    if pt.is_dictionary(at):
        return _same_in_spark(at.value_type)
    if pt.is_list(at) or pt.is_large_list(at) or pt.is_fixed_size_list(at):
        return _same_in_spark(at.value_type)
    if pt.is_map(at):
        return _same_in_spark(at.key_type) and _same_in_spark(at.item_type)
    if pt.is_struct(at):
        return all(_same_in_spark(f.type) for f in at)
    return any(
        check(at)
        for check in (
            pt.is_boolean, pt.is_signed_integer, pt.is_float32, pt.is_float64,
            pt.is_decimal128, pt.is_string, pt.is_large_string, pt.is_binary,
            pt.is_large_binary, pt.is_fixed_size_binary, pt.is_date32, pt.is_timestamp,
        )
    )


def _footer_schema(spark: SparkSession, path: str) -> tuple[StructType | None, dict[str, bool]]:
    """Read the parquet footer of ``path`` once and return ``(schema,
    ns_columns)``.

    ``ns_columns`` maps every top-level INT64 ``TIMESTAMP(NANOS)`` column to
    its ``isAdjustedToUTC`` flag (for a directory, from its first part
    file). ``schema`` is the Spark schema ``spark.read.parquet`` would
    infer, built without a Spark job: ``from_arrow_type(...,
    prefer_timestamp_ntz=True)`` per field, with the ns columns as bigint (what
    ``nanosAsLong`` reads) and INT96 columns as timestamp. It is ``None``
    (Spark infers) for a directory, a file Spark wrote, nested ns or INT96
    fields, a type outside :func:`_same_in_spark`, or a reader conf that
    changes inference."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    single = os.path.isfile(path)
    file = path if single else _first_part_file(path)
    try:
        meta = pq.read_metadata(file) if file else None
    except (OSError, ValueError):
        meta = None
    if meta is None:
        return None, {}
    arrow = meta.schema.to_arrow_schema()
    top = set(arrow.names)
    ns: dict[str, bool] = {}
    int96: set[str] = set()
    nested_special = False
    for i in range(meta.num_columns):
        col = meta.schema.column(i)
        logical = json.loads(col.logical_type.to_json())
        is_ns = (
            col.physical_type == "INT64"
            and logical.get("Type") == "Timestamp"
            and logical.get("timeUnit") == "nanoseconds"
        )
        if not is_ns and col.physical_type != "INT96":
            continue
        if col.path not in top:
            nested_special = True
        elif is_ns:
            ns[col.path] = bool(logical.get("isAdjustedToUTC"))
        else:
            int96.add(col.path)
    if (
        not single
        or nested_special
        or _SPARK_SCHEMA_KEY in (meta.metadata or {})
        or any(spark.conf.get(k, v) != v for k, v in _FOOTER_SCHEMA_CONFS.items())
        or not all(_same_in_spark(f.type) for f in arrow if f.name not in ns and f.name not in int96)
    ):
        return None, ns
    fields = []
    for f in arrow:
        if f.name in ns:
            dtype = LongType()
        elif f.name in int96:
            dtype = TimestampType()
        else:
            dtype = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        fields.append(StructField(f.name, dtype, True))
    return StructType(fields), ns


def _first_part_file(path: str) -> str | None:
    """The first data file of a parquet directory, skipping the hidden
    (``.``) and metadata (``_``) entries that Spark skips too."""
    if not os.path.isdir(path):
        return None
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        for fn in sorted(files):
            if not fn.startswith((".", "_")):
                return os.path.join(root, fn)
    return None


def _normalize_ns_timestamps(spark: SparkSession, df: DataFrame, ns_columns: dict[str, bool]) -> DataFrame:
    """TIMESTAMP(NANOS) parquet columns arrive as bigint (nanos since epoch)
    under ``nanosAsLong``; convert them back to timestamps, truncated to
    µs, so event-time operators (window/session_window) see real
    timestamps: timestamp_ntz when the column is not UTC-adjusted,
    timestamp when it is. Conversion goes through epoch-micros with the
    session timezone pinned to UTC so the wall-clock values match what
    DuckDB reads, independent of the host tz."""
    from pyspark.sql import functions as F

    if ns_columns:
        # A directory's schema is Spark's: convert only what it read as bigint.
        longs = {f.name for f in df.schema.fields if isinstance(f.dataType, LongType)}
        ns_columns = {c: utc for c, utc in ns_columns.items() if c in longs}
    if not ns_columns:
        return df
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    # Integer DIV, not `/`: float division of ~1.7e18 nanos exceeds
    # double precision (2^53) and lands microseconds off.
    return df.withColumns({
        c: F.expr(
            f"timestamp_micros(CAST(`{c}` AS BIGINT) DIV 1000)"
            if utc
            else f"CAST(timestamp_micros(CAST(`{c}` AS BIGINT) DIV 1000) AS TIMESTAMP_NTZ)"
        )
        for c, utc in ns_columns.items()
    })


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet ingest. The schema comes from the footer (see
    :func:`_footer_schema`), so opening a single file runs no Spark job;
    otherwise Spark infers it. TIMESTAMP(NANOS) columns are converted as
    :func:`_normalize_ns_timestamps` says."""
    _enable_nanos_timestamps(spark)
    schema, ns_columns = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return _normalize_ns_timestamps(spark, reader.parquet(path), ns_columns)


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


def bind_view(spark: SparkSession, name: str, df: DataFrame) -> None:
    """Register ``df`` as temp view ``name``: the engine's only view
    registration. The relation it registered is kept in
    ``session_memo`` per view name with its frame, and the command is
    skipped while the catalog still holds that relation and ``df`` is
    that frame; a view that was replaced, dropped or bound to another
    frame is registered again. Nothing outlives the Spark application."""
    from gemini_data_wrangler_spark.session import session_memo

    catalog = spark._jsparkSession.sessionState().catalog()

    def register() -> tuple[DataFrame, object]:
        df.createOrReplaceTempView(name)
        return df, catalog.getRawTempView(name).get()

    held, relation = session_memo(spark, "temp_view", (name,), register)
    if held is df:
        current = catalog.getRawTempView(name)
        if current.isDefined() and current.get().equals(relation):
            return
    session_memo(spark, "temp_view", (name,), register, reuse=False)


def load_sf_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every parquet table of a testdata scale-factor directory and
    bind each to a temp view of its name (for CUSTOM SQL stages). The
    DataFrames are memoized per application; after every call the view
    names point at ``sf_dir``'s tables."""
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
        bind_view(spark, name, df)
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
            bind_view(spark, name, df)
        out[name] = df
    return out
