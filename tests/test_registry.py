"""The registry's names and their order are the contract that
``__spark_entry__.py`` exposes.

Registry modules are discovered, not listed, so this pins the discovered
result against the inventory as it stood when discovery replaced the
import list."""

from __future__ import annotations

import hashlib

import pytest

from tests.conftest import SF_SMALL

REGISTRY_SIZE = 428
REGISTRY_SHA256 = "f042437c5bee7bcd901e7c8c538b798031d38524b65db59ba39af2f2faf94c33"


def test_registry_names_and_order_are_pinned():
    from gemini_data_wrangler_spark.queries import registry

    names = list(registry())
    assert len(names) == REGISTRY_SIZE
    assert hashlib.sha256("\n".join(names).encode()).hexdigest() == REGISTRY_SHA256


def test_sf_table_resolves_load_sf_tables_at_call_time(monkeypatch):
    """Replacing ``readers.load_sf_tables`` (as a tracer does) reaches
    every ``sf_table`` call."""
    from gemini_data_wrangler_spark.sources import readers

    calls = []

    def fake(spark, sf_dir):
        calls.append((spark, sf_dir))
        return {"orders": "orders-frame"}

    monkeypatch.setattr(readers, "load_sf_tables", fake)
    assert readers.sf_table("spark", "/data", "orders") == "orders-frame"
    assert calls == [("spark", "/data")]


def test_run_each_records_a_failing_builder_and_runs_on(spark, monkeypatch):
    from gemini_data_wrangler_spark import queries

    def broken(spark, sf_dir):
        raise RuntimeError("boom")

    monkeypatch.setitem(queries._REGISTRY, "zz_broken", (broken, None))
    names = ["zz_broken", "flagship_segment_sales"]
    records = queries.run_each(spark, SF_SMALL, names, lambda name, build, oracle: {"rows": build().count()})
    assert records["zz_broken"]["err"].startswith("RuntimeError: boom")
    assert records["flagship_segment_sales"]["err"] is None
    assert records["flagship_segment_sales"]["rows"] > 0
    assert all(r["steal_s"] >= 0 for r in records.values())


def test_run_each_releases_cached_frames(spark):
    from gemini_data_wrangler_spark.queries import run_each

    cache_manager = spark._jsparkSession.sharedState().cacheManager()

    def run(name, build, oracle):
        build().persist().count()
        return {"cached": not cache_manager.isEmpty()}

    rec = run_each(spark, SF_SMALL, ["flagship_segment_sales"], run)["flagship_segment_sales"]
    assert rec["err"] is None and rec["cached"], rec
    assert cache_manager.isEmpty()


def test_run_each_rejects_unknown_names_before_any_query_runs(spark):
    from gemini_data_wrangler_spark.queries import run_each

    ran = []
    names = ["flagship_segment_sales", "no_such_query"]
    with pytest.raises(ValueError, match="no_such_query"):
        run_each(spark, SF_SMALL, names, lambda name, build, oracle: ran.append(name))
    assert ran == []
