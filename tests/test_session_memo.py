"""``session_memo``: the one application-scoped store behind every memo
site (shared builds, query-module memos, the table dict, package
shipping). Stand-in sessions carry only an application id, so no JVM
is needed."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from gemini_data_wrangler_spark import session
from gemini_data_wrangler_spark.session import session_memo


def _app(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def empty_store(monkeypatch):
    """An empty store for each test; the live application's entries are
    restored afterwards."""
    monkeypatch.setattr(session, "_MEMO", {})
    return session._MEMO


def test_reuse_hit_returns_the_same_object():
    a = _app("app-A")
    builds = []

    def build():
        builds.append(object())
        return builds[-1]

    first = session_memo(a, "kind", ("sf", 5), build)
    assert session_memo(a, "kind", ("sf", 5), build, reuse=True) is first
    assert len(builds) == 1
    # Another key of the same kind is its own entry.
    assert session_memo(a, "kind", ("sf", 6), build) is not first
    assert len(builds) == 2


def test_reuse_false_rebuilds_and_replaces(empty_store):
    a = _app("app-A")
    old = session_memo(a, "kind", ("sf",), object)
    new = session_memo(a, "kind", ("sf",), object, reuse=False)
    assert new is not old
    assert session_memo(a, "kind", ("sf",), object) is new
    assert empty_store == {("app-A", "kind", "sf"): new}


def test_insert_under_another_app_drops_every_kind_of_the_old_app(empty_store):
    a, b = _app("app-A"), _app("app-B")
    for kind in ("neardup_pairs", "kmeans_stats", "sf_tables", "shipped_package"):
        session_memo(a, kind, ("sf",), object)
    assert len(empty_store) == 4
    kept = session_memo(b, "knn_table", ("sf", 5), object)
    assert empty_store == {("app-B", "knn_table", "sf", 5): kept}
    # A hit under app B does not serve app A's old value.
    assert session_memo(b, "neardup_pairs", ("sf",), lambda: "rebuilt") == "rebuilt"


def test_reentrant_build_keeps_both_entries(empty_store):
    """``mmr_list`` calls ``ann_exact_topk`` inside its own build."""
    a = _app("app-A")

    def outer():
        inner = session_memo(a, "ann_exact_topk", ("sf",), lambda: "ranked")
        return f"mmr over {inner}"

    assert session_memo(a, "mmr_list", ("sf",), outer, reuse=False) == "mmr over ranked"
    assert empty_store == {
        ("app-A", "ann_exact_topk", "sf"): "ranked",
        ("app-A", "mmr_list", "sf"): "mmr over ranked",
    }


class _CountingContext:
    """A SparkContext stand-in that counts ``applicationId`` reads."""

    def __init__(self, app_id: str) -> None:
        self.app_id, self.reads = app_id, 0

    @property
    def applicationId(self) -> str:
        self.reads += 1
        return self.app_id


def test_application_id_is_read_once_per_context(empty_store):
    ctx = _CountingContext("app-A")
    spark = SimpleNamespace(sparkContext=ctx)
    for i in range(10):
        session_memo(spark, "kind", (i,), object)
        session_memo(spark, "kind", (i,), object)
    assert ctx.reads == 1
    # A second context object (a new application) is read afresh.
    new_ctx = _CountingContext("app-B")
    kept = session_memo(SimpleNamespace(sparkContext=new_ctx), "kind", (0,), object)
    assert new_ctx.reads == 1
    assert empty_store == {("app-B", "kind", 0): kept}
