"""Tests of the benchmark's own input generators.

Run from the repository root: ``python3 -m pytest perfbench/test_flows.py -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
from flows import generate_flows  # noqa: E402

from gemini_data_wrangler_spark.plans.graph import import_flow_json  # noqa: E402
from gemini_data_wrangler_spark.plans.stage import STAGE_TYPES, validate_stage  # noqa: E402


@pytest.mark.parametrize("seed", range(20))
def test_generated_stages_validate(seed):
    for flow in generate_flows(seed):
        stages = import_flow_json(flow.to_json())
        assert 3 <= len(stages) <= 6
        assert stages[0].type == "LOAD"
        assert stages[-1].type in ("GROUP", "AGGREGATE", "CUSTOM")
        for stage in stages:
            assert stage.type in STAGE_TYPES
            assert validate_stage(stage), (flow.name, stage)


def test_same_seed_same_inputs(tmp_path):
    assert [f.to_json() for f in generate_flows(3)] == [f.to_json() for f in generate_flows(3)]
    datagen.generate(str(tmp_path / "a"), 0.001, 5)
    datagen.generate(str(tmp_path / "b"), 0.001, 5)
    for name in datagen.TABLES:
        a = (tmp_path / "a" / f"{name}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{name}.parquet").read_bytes(), name


def test_documents_carry_near_duplicates(tmp_path):
    import pyarrow.parquet as pq

    datagen.generate(str(tmp_path), 0.01, 2)
    texts = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == len(texts) // datagen.DUP_EVERY


def test_flow_sample_matches_duckdb(tmp_path):
    from gemini_data_wrangler_spark.operators.pipeline import PipelineRunner
    from gemini_data_wrangler_spark.parity import compare, duck_connection
    from gemini_data_wrangler_spark.session import get_spark
    from gemini_data_wrangler_spark.sources.readers import load_sf_tables

    data = str(tmp_path / "sf0.01")
    datagen.generate(data, 0.01, 7)
    spark = get_spark(app_name="perfbench-flow-test")
    con = duck_connection(data)
    try:
        tables = load_sf_tables(spark, data)
        for flow in generate_flows(7):
            runner = PipelineRunner(spark, tables=dict(tables))
            results = runner.run(import_flow_json(flow.to_json()))
            diag = compare(results[-1].df, con, flow.duck_sql)
            assert diag["ok"], (flow.name, flow.duck_sql, diag)
    finally:
        con.close()
        spark.stop()
