from __future__ import annotations

import json
import os
import sys
import time

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

# One JSON line per finished test, flushed as it is written, so a run that
# is cut off still shows its last test and its pace (git-ignored).
PROGRESS_PATH = os.path.join(REPO_DIR, "TIER1_PROGRESS.jsonl")

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from gemini_data_wrangler_spark.session import get_spark

    spark = get_spark(app_name="gdws-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the sf0.01 tables registered as views, the way
    the driver's oracle harness does."""
    from gemini_data_wrangler_spark.parity import duck_connection

    con = duck_connection(SF_ORACLE)
    yield con
    con.close()


def _steal_s() -> float | None:
    from gemini_data_wrangler_spark.queries import host_steal_s

    try:
        return host_steal_s()
    except (OSError, ValueError, IndexError):
        return None


class ProgressRecord:
    """Appends one line per finished test to ``PROGRESS_PATH``: ``outcome``
    is ``error`` (setup or teardown failed), ``failed``, ``skipped`` or
    ``passed``; ``duration_s`` sums the three phases; ``elapsed_s`` and
    ``steal_s`` (host CPU steal, ``/proc/stat``) count from session start.
    Writing never changes an outcome: an I/O error stops the record."""

    def __init__(self, fh) -> None:
        self.fh, self.t0, self.steal0, self.phases = fh, time.monotonic(), _steal_s(), {}

    def pytest_runtest_logreport(self, report) -> None:
        phases = self.phases.setdefault(report.nodeid, {})
        phases[report.when] = report
        if report.when != "teardown" or self.fh is None:
            return
        del self.phases[report.nodeid]
        if any(r.failed for when, r in phases.items() if when != "call"):
            outcome = "error"
        else:
            outcome = next((r.outcome for r in phases.values() if not r.passed), "passed")
        steal = _steal_s()
        line = {
            "nodeid": report.nodeid,
            "outcome": outcome,
            "duration_s": round(sum(r.duration for r in phases.values()), 3),
            "elapsed_s": round(time.monotonic() - self.t0, 3),
            "steal_s": None if steal is None or self.steal0 is None else round(steal - self.steal0, 2),
        }
        try:
            self.fh.write(json.dumps(line) + "\n")
            self.fh.flush()
        except OSError:
            self.fh = None

    def pytest_sessionfinish(self) -> None:
        if self.fh is not None:
            self.fh.close()


def pytest_configure(config):
    try:
        fh = open(PROGRESS_PATH, "w")
    except OSError:
        return
    config.pluginmanager.register(ProgressRecord(fh), "tier1-progress")
