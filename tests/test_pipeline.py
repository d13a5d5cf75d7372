"""Pipeline-runner behavior: input resolution precedence, result naming,
continue-on-error, name hygiene, CUSTOM-over-temp-views, preview/describe."""

from __future__ import annotations

import pytest

from gemini_data_wrangler_spark.operators.pipeline import (
    PipelineRunner,
    clean_table_name,
    table_name_for_file,
)


@pytest.fixture()
def runner(spark):
    orders = spark.createDataFrame(
        [(1, 10, 100.0), (2, 10, 50.0), (3, 20, 75.0)], "order_id int, cust_id int, amount double"
    )
    customers = spark.createDataFrame([(10, "Ann"), (20, "Bo")], "cust_id int, name string")
    return PipelineRunner(spark=spark, tables={"orders": orders, "customers": customers})


def test_name_hygiene():
    assert clean_table_name("sales_csv") == "sales"
    assert clean_table_name("sales.xlsx") == "sales"
    assert table_name_for_file("My Data-2024.csv") == "table_My_Data_2024"


def test_result_naming_from_index_and_id(runner):
    results = runner.run(
        [
            {"type": "FILTER", "data": {"table": "orders", "column": "amount", "operator": ">", "value": 60}},
            {"id": "stage_7", "type": "SORT", "data": {"orderBy": [{"column": "amount", "direction": "DESC"}]}},
        ]
    )
    assert results[0].result_name == "result_stage_0_filter"
    assert results[1].result_name == "result_stage_7_sort"  # numbered from id
    assert [r.amount for r in results[1].df.collect()] == [100.0, 75.0]


def test_previous_result_is_default_input(runner):
    results = runner.run(
        [
            {"type": "FILTER", "data": {"table": "orders", "column": "amount", "operator": ">=", "value": 50}},
            {"type": "SELECT", "data": {"columns": ["order_id"]}},  # no table → previous result
        ]
    )
    assert results[1].df.columns == ["order_id"]
    assert results[1].df.count() == 3


def test_custom_sql_sees_result_views(runner):
    results = runner.run(
        [
            {"type": "FILTER", "data": {"table": "orders", "column": "cust_id", "operator": "=", "value": 10}},
            {"type": "CUSTOM", "data": {"sql": "SELECT SUM(amount) AS s FROM result_stage_0_filter"}},
        ]
    )
    assert results[1].df.collect()[0].s == 150.0


def test_custom_star_replace_gets_view_schemas(spark):
    """A CUSTOM stage's ``SELECT * REPLACE`` expands against the schemas of
    the runner's registered views."""
    from gemini_data_wrangler_spark.sources.readers import load_sf_tables
    from tests.conftest import SF_SMALL

    nation = load_sf_tables(spark, SF_SMALL)["nation"]
    r = PipelineRunner(spark=spark, tables={"nation": nation})
    results = r.run(
        [{"type": "CUSTOM", "data": {"sql": "SELECT * REPLACE (upper(n_name) AS n_name) FROM nation"}}]
    )
    df = results[0].df
    assert df.columns == nation.columns
    assert sorted(x.n_name for x in df.collect()) == sorted(x.n_name.upper() for x in nation.collect())


def test_join_stage_in_pipeline(runner):
    results = runner.run(
        [
            {
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "orders",
                    "rightTable": "customers",
                    "leftKey": "cust_id",
                    "rightKey": "cust_id",
                },
            },
            {
                "type": "GROUP",
                "data": {
                    "groupBy": ["name"],
                    "aggregations": [{"function": "SUM", "column": "amount", "alias": "total"}],
                },
            },
        ]
    )
    rows = {(r.name, r.total) for r in results[1].df.collect()}
    assert rows == {("Ann", 150.0), ("Bo", 75.0)}


def test_continue_on_error(runner):
    results = runner.run(
        [
            {"type": "FILTER", "data": {"table": "nonexistent", "column": "x", "operator": "=", "value": 1}},
            {"type": "SELECT", "data": {"table": "orders", "columns": ["order_id"]}},
        ],
        continue_on_error=True,
    )
    assert results[0].error is not None and results[0].df is None
    assert results[1].df.count() == 3


def test_error_without_continue_raises(runner):
    with pytest.raises(KeyError):
        runner.run([{"type": "FILTER", "data": {"table": "nope", "column": "x", "operator": "=", "value": 1}}])


def test_load_stage_resolves_existing_table(runner):
    results = runner.run(
        [
            {"type": "LOAD", "data": {"tableName": "orders"}},
            {"type": "SELECT", "data": {"columns": ["order_id", "amount"]}},
        ]
    )
    assert results[0].result_name == "orders"
    assert results[1].df.columns == ["order_id", "amount"]


def test_load_cleans_csv_suffix(spark):
    df = spark.createDataFrame([(1,)], "c int")
    r = PipelineRunner(spark=spark, tables={})
    r.add_table("sales_csv", df)
    assert "sales" in r.tables
    results = r.run([{"type": "LOAD", "data": {"tableName": "sales_csv"}}])
    assert results[0].result_name == "sales"


def test_case_insensitive_resolution(runner):
    assert runner.resolve("ORDERS").count() == 3


def test_uniquify(spark):
    df = spark.createDataFrame([(1,)], "c int")
    r = PipelineRunner(spark=spark, tables={})
    r.add_table("t", df)
    r.add_table("t", df)
    assert set(r.tables) == {"t", "t_1"}


def test_preview_and_describe(runner):
    assert runner.preview("orders", n=2).count() == 2
    desc = runner.describe("orders")
    assert desc[0] == {"column_name": "order_id", "column_type": "int"}
