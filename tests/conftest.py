from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# the engine's 48g default JVM heap outgrows a small test host; an
# explicit SPARK_DRIVER_MEM still wins
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")

from dart_xbrl_crawler_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_bundle():
    from dart_xbrl_crawler_spark import fixtures

    return fixtures.gen_pages(n_corps=6, n_generic=120, n_hosts=12, seed=42)
