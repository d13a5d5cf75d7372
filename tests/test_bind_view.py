"""``readers.bind_view`` registers each table view once per application:
repeated loads and runners leave the catalog's relation in place, and a
view that was replaced, dropped or bound to another scale is bound again."""

from __future__ import annotations

from gemini_data_wrangler_spark.operators.pipeline import PipelineRunner
from gemini_data_wrangler_spark.sources.readers import load_sf_tables
from tests.conftest import SF_ORACLE, SF_SMALL


def _relation_id(spark, name: str) -> int:
    rel = spark._jsparkSession.sessionState().catalog().getRawTempView(name).get()
    return spark._jvm.java.lang.System.identityHashCode(rel)


def _count(spark, table: str) -> int:
    return spark.sql(f"SELECT count(*) AS n FROM {table}").collect()[0].n


def test_second_load_keeps_the_registered_relation(spark):
    tables = load_sf_tables(spark, SF_ORACLE)
    before = _relation_id(spark, "orders")
    assert load_sf_tables(spark, SF_ORACLE)["orders"] is tables["orders"]
    assert _relation_id(spark, "orders") == before
    PipelineRunner(spark, tables=dict(tables))
    assert _relation_id(spark, "orders") == before


def test_views_follow_the_last_loaded_scale(spark):
    n_small = load_sf_tables(spark, SF_SMALL)["lineitem"].count()
    n_oracle = load_sf_tables(spark, SF_ORACLE)["lineitem"].count()
    assert n_small != n_oracle
    load_sf_tables(spark, SF_SMALL)
    load_sf_tables(spark, SF_ORACLE)
    assert _count(spark, "lineitem") == n_oracle
    load_sf_tables(spark, SF_SMALL)
    assert _count(spark, "lineitem") == n_small
    load_sf_tables(spark, SF_ORACLE)
    assert _count(spark, "lineitem") == n_oracle


def test_replaced_or_dropped_view_is_bound_again(spark):
    load_sf_tables(spark, SF_ORACLE)
    spark.range(1).createOrReplaceTempView("nation")
    assert _count(spark, "nation") == 1
    load_sf_tables(spark, SF_ORACLE)
    assert _count(spark, "nation") == 25
    spark.catalog.dropTempView("nation")
    load_sf_tables(spark, SF_ORACLE)
    assert _count(spark, "nation") == 25


def test_runner_rebinds_a_name_to_its_own_frame(spark):
    tables = load_sf_tables(spark, SF_ORACLE)
    PipelineRunner(spark, tables={"nation": tables["region"]})
    assert _count(spark, "nation") == 5
    load_sf_tables(spark, SF_ORACLE)
    assert _count(spark, "nation") == 25
