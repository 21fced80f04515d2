from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_makanmana_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session", autouse=True)
def _session_artifact_dir(tmp_path_factory):
    """Build artifacts go to a fresh per-session dir: a shared cache
    could serve artifacts built by other code to the tests (artifact
    digests fold in source data and params, not code)."""
    old = os.environ.get("CDC_ARTIFACT_DIR")
    os.environ["CDC_ARTIFACT_DIR"] = str(tmp_path_factory.mktemp("artifacts"))
    yield
    if old is None:
        del os.environ["CDC_ARTIFACT_DIR"]
    else:
        os.environ["CDC_ARTIFACT_DIR"] = old


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
