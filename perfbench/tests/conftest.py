"""Fixtures for the benchmark's own tests: a small local Spark session and
the benchmark modules on the import path."""

from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)
for p in (BENCH, REPO, os.path.join(REPO, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark():
    from imdb_mapreduce_spark.session import get_spark

    s = get_spark(
        "perfbench-tests",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
