from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zeta_etl_spark.session import get_spark  # noqa: E402

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Slow tier (VERDICT r13 #2): whole modules of long-running conformance /
# property / crash-matrix drills, auto-marked `slow` so the DEFAULT run
# (pytest.ini: -m "not slow") completes inside the external driver's
# window.  Membership is chosen from a measured --durations run: the
# per-module table is in ROADMAP.md (Open items, "Carried over", item 1).
# Run the full suite with -m "".
SLOW_MODULES: set[str] = set()


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = os.path.basename(str(item.fspath))
        if mod in SLOW_MODULES:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="zeta-etl-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR
