"""SparkSession factory with scale-oriented defaults.

Defaults mirror what we would set on a real cluster; on local[*] they keep
shuffle partition counts sane and enable AQE so skew/broadcast decisions are
made at runtime (the reference delegates all physical planning to DuckDB —
``SURVEY.md §4``; here Catalyst+AQE play that role).
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# Entries of Spark's JVM-wide cache of compiled generated classes, sized
# by measurement (see get_spark).
CODEGEN_CACHE_MAX_ENTRIES = 8000

# (applicationId, kind, *key) -> built value. Holds the live application's
# entries only: every insert drops the entries of any other application.
_MEMO: dict[tuple, object] = {}


def env_int(name: str, default: int) -> int:
    """Integer knob from the environment, ``default`` when unset or empty.
    The engine's deployment-sized bounds (shuffle partitions, the graph
    route bounds, the docs broadcast budget) are read through it. A value
    that is not an integer raises ``ValueError`` naming the variable
    instead of silently running with the default."""
    raw = os.environ.get(name, "")
    try:
        return int(raw) if raw else default
    except ValueError:
        raise ValueError(f"{name}={raw!r} is not an integer") from None


def get_spark(
    app_name: str = "gemini-data-wrangler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the analytics engine.

    * AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
      dynamic broadcast conversion — the knobs that matter at 100 TB.
    * Arrow on: fast toPandas previews and Pandas-UDF exchange.
    * Case-insensitive resolution (Spark default) matches DuckDB's identifier
      behavior in the reference (``ui/src/App.tsx:1334-1343``).
    * Codegen cache sized to the engine's working set, so a repeated plan
      (stage previews on every rerun, registry passes, memo siblings) reuses
      its compiled classes instead of compiling them again. The conf is
      static: it applies only when this call launches the JVM.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = env_int("SPARK_GRAFT_SHUFFLE_PARTITIONS", 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata uses TIMESTAMP(NANOS) parquet columns; read them
        # as timestamp_ntz instead of failing (see sources/readers.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # NOTE: spark.sql.codegen.hugeMethodLimit stays at its default.
        # Capping it at HotSpot's 8000-bytecode JIT limit was A/B-tested and
        # LOST (dedup tail 119s → 89s on removal at sf0.1): Spark splits
        # generated code into sub-methods below the JIT limit on its own, so
        # the cap only forces needless Volcano fallback on wide aggregates.
        # Heavy codegen churn across many distinct queries: give the JIT
        # enough code cache (the 240m default fills and disables
        # compilation) and enough compiler threads to drain the C2 queue
        # while 32 task threads are running.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_JVM_OPTS",
                "-XX:ReservedCodeCacheSize=512m -XX:CICompilerCount=8",
            ),
        )
        # Spark keeps compiled generated classes in a JVM-wide LRU of 100
        # entries by default. One pass over the 428 registry queries at
        # sf0.01 compiles 5256 distinct classes with an unbounded cache (a
        # second pass 249 more), so at 100 every repeated plan paid Janino,
        # class loading and JIT again. 8000 holds a pass with room to spare;
        # a held class costs about 8 KB of Metaspace and 17 KB of heap.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.ui.enabled", "false")
    )
    # Free-form conf overrides from the environment (k=v;k=v) — lets a
    # deployment (or an A/B harness) retune any knob without code edits;
    # explicit extra_conf still wins. An entry that is not k=v raises.
    extra_env = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, (s.strip() for s in extra_env.split(";"))):
        k, _, v = (part.strip() for part in kv.partition("="))
        if not (k and v):
            raise ValueError(f"SPARK_GRAFT_EXTRA_CONF entry {kv!r} is not k=v")
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_memo(
    spark: SparkSession,
    kind: str,
    key: tuple,
    build: Callable[[], T],
    reuse: bool = True,
) -> T:
    """Return the value memoized under ``(applicationId, kind, *key)``,
    calling ``build()`` and storing its result when there is none or when
    ``reuse`` is false.

    This is the one session-scoped memo of the engine: a publisher query
    rebuilds (``reuse=False``) and its siblings read the latest build
    (``reuse=True``). Nothing survives the Spark application, since the
    key carries the application id and an insert drops every other
    application's entries. ``build`` owns the materialization of what it
    returns, and may itself call ``session_memo``.
    """
    app = _application_id(spark)
    full_key = (app, kind, *key)
    if reuse and full_key in _MEMO:
        return _MEMO[full_key]
    for stale in [k for k in _MEMO if k[0] != app]:
        del _MEMO[stale]
    _MEMO[full_key] = value = build()
    return value


def _application_id(spark: SparkSession) -> str:
    """``applicationId``, read once per SparkContext object and kept on it:
    the read costs two py4j round trips, and a new context (a new
    application) is a new object that brings its own id."""
    sc = spark.sparkContext
    try:
        return sc._memo_application_id
    except AttributeError:
        sc._memo_application_id = sc.applicationId
        return sc._memo_application_id
