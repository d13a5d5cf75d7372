"""The registry's names and their order are the contract that
``__spark_entry__.py`` exposes.

Registry modules are discovered, not listed, so this pins the discovered
result against the inventory as it stood when discovery replaced the
import list."""

from __future__ import annotations

import hashlib

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
