"""Ship this package to Spark Python workers.

Python UDFs (Pandas UDFs in dedup/similarity/text/multimodal) are pickled
by *reference* to functions in this package, so executor-side Python workers
must be able to ``import gemini_data_wrangler_spark``. On a real cluster the
deployment story is ``spark-submit --py-files gdw.zip``; for an
externally-created SparkSession (the driver's verify, notebooks) we build
that zip on the fly and ``addPyFile`` it — idempotent per SparkContext.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from gemini_data_wrangler_spark.session import session_memo


def ensure_package_shipped(spark) -> None:
    """Zip this package and distribute it via ``SparkContext.addPyFile``.

    Safe to call per-query: no-op after the first call in a given Spark
    application.
    Also a no-op when the package is already importable on workers through
    PYTHONPATH (local mode launched from the repo root) — addPyFile is still
    harmless, so we don't try to detect that.
    """
    try:
        sc = spark.sparkContext
    except Exception:
        return
    session_memo(spark, "shipped_package", (), lambda: _ship(sc))


def _ship(sc) -> None:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"gemini_data_wrangler_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    try:
        sc.addPyFile(zip_path)
    except Exception:
        # Already added under another name, or a cluster manager that
        # disallows runtime file distribution — rely on --py-files then.
        pass
