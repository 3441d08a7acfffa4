"""Overlap independent Spark legs on driver threads.

Every overlapped leg in the engine runs through :func:`overlap`. Each leg
is wrapped in :func:`pyspark.inheritable_thread_target`, so its thread
starts with the caller's local properties: the jobs it submits land in the
caller's job group (and are cancelled with it), and under PySpark's
pinned-thread mode its JVM thread is tied to the Python thread's life.
A bare ``ThreadPoolExecutor`` thread inherits neither. With pinned threads
off (``PYSPARK_PIN_THREAD=false``) PySpark has no properties to copy and
hands the session back instead of a wrapper; the leg then runs as is.
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
        futures = [pool.submit(_inheriting(spark, leg)) for leg in legs]
        return [f.result() for f in futures]


def _inheriting(spark: SparkSession, leg: Callable[[], Any]) -> Callable[[], Any]:
    wrap = inheritable_thread_target(spark)
    return leg if wrap is spark else wrap(leg)
