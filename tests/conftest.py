from __future__ import annotations

import os
import sys

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

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
