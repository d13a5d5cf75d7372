#!/usr/bin/env python
"""Capture `.explain("formatted")` output for a set of declared queries.

Usage: python tools/capture_plans.py <suffix> [query ...]

Writes `plans/<round>/<query>_<suffix>.txt` for each query (round defaults
to r08; override with PLAN_ROUND). With no query names, re-captures every
query that already has a `_before.txt` in the round directory; an unknown
name fails the run before any plan is captured. The physical plan is the
formatted explain output of the DataFrame the registry builder returns —
the exact artifact the optimization-round judge diffs against the
`_before.txt` capture.

Capture goes through the public `DataFrame.explain(mode)` API with stdout
redirected (the r07 version reached into `df._jdf.queryExecution()`,
which is version-fragile private API — round-7 ADVICE #3).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

PLAN_DIR = os.path.join(REPO_DIR, "plans", os.environ.get("PLAN_ROUND", "r08"))


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "after"
    names = sys.argv[2:]
    os.makedirs(PLAN_DIR, exist_ok=True)
    if not names:
        names = sorted(
            f[: -len("_before.txt")]
            for f in os.listdir(PLAN_DIR)
            if f.endswith("_before.txt")
        )

    from gemini_data_wrangler_spark.queries import run_each
    from gemini_data_wrangler_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="gdws-capture-plans")
    spark.sparkContext.setLogLevel("ERROR")

    def run(_name, build, _oracle) -> dict:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            build().explain(mode="formatted")
        return {"plan": buf.getvalue()}

    for name, rec in run_each(spark, sf_dir, names, run).items():
        text = rec["plan"] if rec["err"] is None else f"EXPLAIN FAILED: {rec['err']}\n"
        with open(os.path.join(PLAN_DIR, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(text)
        print(f"wrote {name}_{suffix}.txt")

    spark.stop()


if __name__ == "__main__":
    main()
