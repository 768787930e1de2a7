from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from tools.verify_local import confs  # noqa: E402

SF_DIR = os.environ.get("SANCTUM_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from sanctum_spark.session import get_spark

    spark = get_spark("sanctum_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def broadcast_threshold(spark, value: str):
    """Both broadcast-join thresholds (the planner's and AQE's) at
    ``value`` for a ``with`` block, then each back to its earlier setting
    — or unset, if it was unset.  ``"-1"`` turns broadcast off, and with
    it connected_components' small-graph path, so CC calls inside take
    the round loop; a tiny value such as ``"48b"`` keeps the path on but
    sends any edge list over its cap to the rounds."""
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    return confs(spark, dict.fromkeys(keys, value))
