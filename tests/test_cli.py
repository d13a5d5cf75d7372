"""CLI entry point (python -m gemini_data_wrangler_spark): flow-JSON and
SQL paths against a table directory, in-process with the shared session."""

from __future__ import annotations

import json

import pytest

from tests.conftest import SF_SMALL


def test_cli_sql_path(spark, capsys):
    from gemini_data_wrangler_spark.__main__ import main

    rc = main(
        [
            "--tables-dir", SF_SMALL,
            "--sql",
            "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY ALL",
            "--show", "5",
        ],
        spark=spark,
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert {r["o_orderstatus"] for r in out} <= {"O", "F", "P"}


def test_cli_flow_path_writes_output(spark, tmp_path, capsys):
    from gemini_data_wrangler_spark.__main__ import main

    flow = [
        {
            "id": "stage_0",
            "type": "FILTER",
            "data": {
                "table": "orders",
                "column": "o_totalprice",
                "operator": ">",
                "value": 100000,
            },
        },
        {
            "id": "stage_1",
            "type": "GROUP",
            "data": {
                "groupBy": ["o_orderstatus"],
                "aggregations": [
                    {"function": "COUNT", "column": "*", "alias": "n"}
                ],
            },
        },
    ]
    fp = tmp_path / "flow.json"
    fp.write_text(json.dumps(flow))
    out = str(tmp_path / "res")
    rc = main(
        ["--tables-dir", SF_SMALL, "--flow", str(fp), "--out", out, "--show", "0"],
        spark=spark,
    )
    assert rc == 0
    got = {(r["o_orderstatus"], r["n"]) for r in spark.read.parquet(out).collect()}
    from gemini_data_wrangler_spark.sources.readers import load_sf_tables
    from pyspark.sql import functions as F

    orders = load_sf_tables(spark, SF_SMALL)["orders"]
    exp = {
        (r["o_orderstatus"], r["n"])
        for r in orders.filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exp


def test_cli_sql_accepts_duckdb_idioms(spark, capsys):
    from gemini_data_wrangler_spark.__main__ import main

    rc = main(
        [
            "--tables-dir", SF_SMALL,
            "--sql",
            "SELECT o_orderkey, o_totalprice FROM orders "
            "QUALIFY row_number() OVER (ORDER BY o_totalprice DESC) <= 3",
            "--show", "3",
        ],
        spark=spark,
    )
    assert rc == 0
    assert len(json.loads(capsys.readouterr().out)) == 3


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT COLUMNS('^n_') FROM nation WHERE n_nationkey < 3",
        "SELECT n_name, len(n_name) AS n FROM nation WHERE n_nationkey < 3",
    ],
    ids=["columns", "len"],
)
def test_cli_sql_gets_table_schemas(spark, capsys, sql):
    """The ``--sql`` path hands the dialect shim the loaded tables'
    schemas, so COLUMNS(...) and len() over a column translate there as
    they do in a flow's CUSTOM stage."""
    from gemini_data_wrangler_spark.__main__ import main

    rc = main(["--tables-dir", SF_SMALL, "--sql", sql, "--show", "5"], spark=spark)
    assert rc == 0
    rows = json.loads(capsys.readouterr().out)
    assert len(rows) == 3
    if "COLUMNS" in sql:
        assert {"n_nationkey", "n_name"} <= set(rows[0])
        assert all(c.startswith("n_") for c in rows[0])
    else:
        assert all(r["n"] == len(r["n_name"]) for r in rows)
