"""Overlap independent Spark legs on driver threads.

Every overlapped leg in the engine runs through :func:`overlap`. Each leg
is wrapped in :func:`pyspark.inheritable_thread_target`, so its thread
starts with the caller's local properties: the jobs it submits land in the
caller's job group (and are cancelled with it), and under PySpark's
pinned-thread mode its JVM thread is tied to the Python thread's life.
A bare ``ThreadPoolExecutor`` thread inherits neither.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def overlap(spark: SparkSession, *legs: Callable[[], Any]) -> list[Any]:
    """Run ``legs`` concurrently, one thread each, and return their
    results in order. The local properties are captured here, on the
    calling thread, once per leg: Spark writes each action's execution
    id and call site into the thread's properties, so two legs sharing
    one copy would overwrite each other's. The first exception a leg
    raises propagates once every leg has finished."""
    with ThreadPoolExecutor(max_workers=len(legs)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(leg)) for leg in legs
        ]
        return [f.result() for f in futures]
