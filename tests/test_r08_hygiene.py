"""Round-8 hygiene pins (verdict asks #8 / What's-wrong #1, #5).

1. The shared_builds session memos must be application-scoped: a key
   written under one Spark application can never be served to another
   (no caching across bench/oracle invocations — each runs in a fresh
   process AND a fresh applicationId, and stale-app keys are pruned on
   every insert).
2. The DRIVER_*_MAX_EDGES route bounds are env-parameterised
   (``env_int``), as the scale-posture docs promise.
"""

from __future__ import annotations

import subprocess
import sys

import pytest

from tests.conftest import REPO_DIR, SF_SMALL


def test_env_int_reads_override_and_falls_back(monkeypatch):
    from gemini_data_wrangler_spark.operators.graphs import env_int

    monkeypatch.setenv("SPARK_GRAFT_TEST_BOUND", "123")
    assert env_int("SPARK_GRAFT_TEST_BOUND", 500) == 123
    monkeypatch.delenv("SPARK_GRAFT_TEST_BOUND")
    assert env_int("SPARK_GRAFT_TEST_BOUND", 500) == 500
    monkeypatch.setenv("SPARK_GRAFT_TEST_BOUND", "not-an-int")
    with pytest.raises(ValueError, match="SPARK_GRAFT_TEST_BOUND='not-an-int'"):
        env_int("SPARK_GRAFT_TEST_BOUND", 500)


def test_extra_conf_entry_that_is_not_k_eq_v_raises(monkeypatch):
    """Raised while the builder is assembled, before any JVM starts."""
    from gemini_data_wrangler_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "oops")
    with pytest.raises(ValueError, match="'oops' is not k=v"):
        get_spark()


def test_route_bounds_are_env_parameterised():
    """A fresh interpreter with the env override set must see the bound."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import os; os.environ['SPARK_GRAFT_DRIVER_CC_MAX_EDGES'] = '77';"
            "os.environ['SPARK_GRAFT_DRIVER_GRAPH_MAX_EDGES'] = '88';"
            "from gemini_data_wrangler_spark.operators import dedup, graphs;"
            "print(dedup.DRIVER_CC_MAX_EDGES, graphs.DRIVER_GRAPH_MAX_EDGES)",
        ],
        capture_output=True,
        text=True,
        cwd=REPO_DIR,
        timeout=120,
    )
    assert out.stdout.strip() == "77 88", out.stderr[-500:]


def test_shared_build_memo_keys_are_app_scoped(spark):
    """Every memo key carries the live applicationId; entries from any
    other application are pruned on insert — so no cache key can ever
    match across two SparkSessions (fresh process ⇒ fresh empty module
    dict; same process, new session ⇒ new applicationId ⇒ pruned)."""
    from gemini_data_wrangler_spark import session
    from gemini_data_wrangler_spark import shared_builds as sb

    app = spark.sparkContext.applicationId
    stale_key = ("app-from-a-previous-session", "neardup_pairs", SF_SMALL, 5, 0.8)
    session._MEMO[stale_key] = object()
    sb.neardup_pairs(spark, SF_SMALL, reuse=False)
    assert stale_key not in session._MEMO
    assert all(k[0] == app for k in session._MEMO)
    # A hypothetical other application's key never matches the live one.
    for key in session._MEMO:
        assert key != ("some-other-app",) + key[1:]
