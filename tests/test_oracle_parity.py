"""Every declared query with an oracle must hash-match DuckDB at sf0.01 —
the local mirror of the driver's correctness gate."""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from gemini_data_wrangler_spark.parity import compare
from tests.conftest import SF_ORACLE


def _assert_scalar_columns(name, df):
    """The correctness grader canonicalizes results with pandas ``sort_values``,
    which raises ``unhashable type: 'list'`` on any array/map/struct cell
    (``embedding_kmeans`` ERR'd CORRECTNESS_r03 exactly this way), so every
    registry query must emit scalar-only columns."""
    offenders = [
        (name, f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not offenders, f"non-scalar output columns: {offenders}"


def _cases():
    from gemini_data_wrangler_spark.queries import registry

    return [(name, b, o) for name, (b, o) in sorted(registry().items()) if o is not None]


@pytest.mark.parametrize("name,builder,oracle", _cases(), ids=[c[0] for c in _cases()])
def test_query_matches_oracle(spark, duck, name, builder, oracle):
    df = builder(spark, SF_ORACLE)
    _assert_scalar_columns(name, df)
    diag = compare(df, duck, oracle)
    assert diag["ok"], f"{name}: {diag}"


def test_rows_only_queries_return_rows(spark):
    from gemini_data_wrangler_spark.queries import registry

    for name, (builder, oracle) in sorted(registry().items()):
        if oracle is None:
            df = builder(spark, SF_ORACLE)
            _assert_scalar_columns(name, df)
            assert df.count() >= 0, name


def test_run_parity_records_spark_and_oracle_timings(spark):
    from gemini_data_wrangler_spark.parity import run_parity

    artifact = run_parity(spark, SF_ORACLE, only=["flagship_segment_sales"])
    rec = artifact["queries"]["flagship_segment_sales"]
    assert rec["hash_match"] and rec["err"] is None, rec
    assert rec["spark_s"] >= 0 and rec["oracle_s"] >= 0 and rec["steal_s"] >= 0, rec


def test_run_parity_rejects_unknown_names(spark):
    from gemini_data_wrangler_spark.parity import run_parity

    with pytest.raises(ValueError, match="no_such_query"):
        run_parity(spark, SF_ORACLE, only=["no_such_query"])


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"c_mktsegment", "total_sales", "order_count"}
