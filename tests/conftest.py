from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this file sits in, whatever the working directory
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from queue_system_simulator_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark("engine-tests", shuffle_partitions=8)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
