"""Every declared query with an oracle must hash-match DuckDB at sf0.01 —
the local mirror of the driver's correctness gate."""

from __future__ import annotations

import pytest

from gemini_data_wrangler_spark.parity import compare
from tests.conftest import SF_ORACLE, SF_SMALL


def _cases():
    from gemini_data_wrangler_spark.queries import registry

    return [(name, b, o) for name, (b, o) in sorted(registry().items()) if o is not None]


@pytest.mark.parametrize("name,builder,oracle", _cases(), ids=[c[0] for c in _cases()])
def test_query_matches_oracle(spark, duck, name, builder, oracle):
    df = builder(spark, SF_ORACLE)
    diag = compare(df, duck, oracle)
    assert diag["ok"], f"{name}: {diag}"


def test_rows_only_queries_return_rows(spark):
    from gemini_data_wrangler_spark.queries import registry

    for name, (builder, oracle) in sorted(registry().items()):
        if oracle is None:
            df = builder(spark, SF_ORACLE)
            assert df.count() >= 0, name


def test_run_parity_records_spark_and_oracle_timings(spark):
    from gemini_data_wrangler_spark.parity import run_parity

    artifact = run_parity(spark, SF_ORACLE, only=["flagship_segment_sales"])
    rec = artifact["queries"]["flagship_segment_sales"]
    assert rec["hash_match"] and rec["err"] is None, rec
    assert rec["spark_s"] >= 0 and rec["oracle_s"] >= 0, rec


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"c_mktsegment", "total_sales", "order_count"}


def test_all_outputs_driver_canonicalizable(spark):
    """The grading driver canonicalizes results with pandas ``sort_values``,
    which raises ``unhashable type: 'list'`` on any array/map/struct cell
    (``embedding_kmeans`` ERR'd CORRECTNESS_r03 exactly this way).  Every
    registry query must therefore emit scalar-only columns.  The check
    reads only each output schema, but building the 428 queries still runs
    the Spark jobs that 87 builders execute eagerly (persist, count,
    localCheckpoint), so the test takes 100-120 s on 4 cores."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from gemini_data_wrangler_spark.queries import registry

    offenders = []
    for name, (builder, _oracle) in sorted(registry().items()):
        df = builder(spark, SF_SMALL)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, f"non-scalar output columns: {offenders}"
