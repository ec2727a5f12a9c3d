from __future__ import annotations

import sys
from pathlib import Path

import pytest

#: the checkout these tests belong to: its package, not another copy's
REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from delta_lake_gcp_implementation_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
