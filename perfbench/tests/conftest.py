"""A small local session for the benchmark's own tests, with every
scratch path under pytest's temporary directory.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # python workers import the engine and the benchmark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_TMPFS"] = "0"
    from perfbench.crawl import session

    s = session(str(tmp_path_factory.mktemp("spark-work")))
    yield s
    s.stop()
