"""``read_parquet`` takes the schema from the parquet footer: the same
schema and rows as ``spark.read.parquet`` plus the documented
TIMESTAMP(NANOS) conversion, without a Spark job to open a file."""

from __future__ import annotations

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.sources.readers import TESTDATA_TABLES, read_parquet
from tests.conftest import SF_ORACLE, SF_SMALL

TS = [
    datetime.datetime(2024, 1, 8, 12, 30, 45, 123456),
    datetime.datetime(1999, 12, 31, 23, 59, 59, 1),
    None,
]
# Nanosecond values with a sub-µs part, which the conversion truncates.
NS = [1704717045123456789, 946684799000001999, None]


def _ns_table() -> pa.Table:
    return pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(NS, pa.timestamp("ns")),
        "ts_utc": pa.array(NS, pa.timestamp("ns", tz="UTC")),
    })


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory) -> dict[str, tuple[str, dict[str, bool]]]:
    """name -> (path, {ns column: isAdjustedToUTC})."""
    d = tmp_path_factory.mktemp("footer")
    out = {}

    p = str(d / "ns.parquet")
    pq.write_table(_ns_table(), p)
    out["ns_file"] = (p, {"ts": False, "ts_utc": True})

    # Two part files and a _SUCCESS marker: Spark's layout.
    p = str(d / "ns_dir")
    os.makedirs(p)
    t = _ns_table()
    pq.write_table(t.slice(0, 2), os.path.join(p, "part-00000-a.snappy.parquet"))
    pq.write_table(t.slice(2), os.path.join(p, "part-00001-a.snappy.parquet"))
    open(os.path.join(p, "_SUCCESS"), "w").close()
    out["ns_dir"] = (p, {"ts": False, "ts_utc": True})

    p = str(d / "int96.parquet")
    pq.write_table(
        pa.table({"id": [1, 2, 3], "ts": pa.array(TS, pa.timestamp("us"))}),
        p,
        use_deprecated_int96_timestamps=True,
    )
    out["int96"] = (p, {})

    p = str(d / "uint32.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3], "u": pa.array([0, 2**32 - 1, None], pa.uint32())}), p)
    out["uint32"] = (p, {})

    p = str(d / "mixed.parquet")
    pq.write_table(
        pa.table({
            "id": pa.array([1, 2, 3], pa.int64()),
            "ts_tz": pa.array(TS, pa.timestamp("us", tz="America/New_York")),
            "ts_ms": pa.array(TS, pa.timestamp("ms")),
            "d": pa.array([datetime.date(2024, 1, 2), datetime.date(1970, 1, 1), None]),
            "dec": pa.array([decimal.Decimal("1.25"), decimal.Decimal("-7.00"), None], pa.decimal128(10, 2)),
            "vec": pa.array([[1.5, None], [], None], pa.list_(pa.float32())),
            "st": pa.array(
                [{"a": 1, "b": "x"}, {"a": None, "b": None}, None],
                pa.struct([("a", pa.int32()), ("b", pa.string())]),
            ),
            "i8": pa.array([1, -128, None], pa.int8()),
            "i16": pa.array([1, -32768, None], pa.int16()),
            "bin": pa.array([b"ab", b"", None]),
        }),
        p,
    )
    out["mixed"] = (p, {})
    return out


def _expected(spark, path: str, ns_columns: dict[str, bool]):
    """``spark.read.parquet`` plus the documented ns conversion: bigint
    nanos DIV 1000 to µs, timestamp_ntz unless UTC-adjusted."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c, utc in ns_columns.items():
        ts = F.timestamp_micros(F.expr(f"CAST(`{c}` AS BIGINT) DIV 1000"))
        df = df.withColumn(c, ts if utc else ts.cast("timestamp_ntz"))
    return df


@pytest.mark.parametrize("name", ["ns_file", "ns_dir", "int96", "uint32", "mixed"])
def test_fixture_matches_spark_reader(spark, fixtures, name):
    path, ns_columns = fixtures[name]
    got, want = read_parquet(spark, path), _expected(spark, path, ns_columns)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=lambda r: r.id) == sorted(want.collect(), key=lambda r: r.id)


def test_ns_columns_become_timestamps(spark, fixtures):
    for name in ("ns_file", "ns_dir"):
        df = read_parquet(spark, fixtures[name][0])
        assert dict(df.dtypes) == {"id": "bigint", "ts": "timestamp_ntz", "ts_utc": "timestamp"}
        row = df.filter("id = 1").collect()[0]
        assert row.ts == datetime.datetime(2024, 1, 8, 12, 30, 45, 123456)


def test_int96_timestamps_keep_their_values(spark, fixtures):
    df = read_parquet(spark, fixtures["int96"][0])
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert [r.ts for r in df.orderBy("id").collect()] == TS


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_ORACLE])
def test_testdata_tables_match_spark_reader(spark, sf_dir):
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        got, want = read_parquet(spark, path), _expected(spark, path, {})
        assert got.schema == want.schema, name

        def digest(df):
            h = F.xxhash64(*df.columns).cast("decimal(38,0)")
            return tuple(df.select(F.count(F.lit(1)), F.sum(h)).collect()[0])

        assert digest(got) == digest(want), name


def _jobs_in_group(spark, group: str, body) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        body()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_opening_testdata_tables_runs_no_spark_job(spark):
    paths = [os.path.join(SF_ORACLE, f"{n}.parquet") for n in TESTDATA_TABLES]
    # The counter sees the inference job of Spark's own reader ...
    assert _jobs_in_group(spark, "footer-infer", lambda: spark.read.parquet(paths[0])) >= 1
    # ... and none from read_parquet over all ten tables.
    assert _jobs_in_group(spark, "footer-open", lambda: [read_parquet(spark, p) for p in paths]) == 0


def test_footer_schema_covers_single_files_only(spark, fixtures):
    """ns, INT96 and the mixed types open without a job; a directory and
    a uint32 column keep Spark's inference."""
    for name, jobs in [("ns_file", 0), ("int96", 0), ("mixed", 0), ("ns_dir", 1), ("uint32", 1)]:
        path = fixtures[name][0]
        assert min(_jobs_in_group(spark, f"footer-{name}", lambda: read_parquet(spark, path)), 1) == jobs, name
