"""Outside-in instrumentation: spans recorded by the benchmark around its
calls into the engine, Spark's own status store read through py4j, and
``/proc`` of the driver and its JVM.

Nothing here changes what the engine runs. The Spark calls used are the
ones the status store serves with the UI disabled:
``sc.statusTracker().getJobIdsForGroup``, ``statusStore().job(id)``,
``statusStore().lastStageAttempt(stageId)`` and the DAG scheduler's job
counter, which gives the id range of every job an operation launched —
including jobs submitted from helper threads that escape the caller's job
group.
"""

from __future__ import annotations

import json
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    span_id: int
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans nest per thread: a span opened while
    another is open on the same thread records it as its parent. The
    recorded list is written out once, by :meth:`dump`."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, op: str | None = None) -> "_SpanCtx":
        """Open a span; ``op`` defaults to the enclosing span's op."""
        return _SpanCtx(self, name, op)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.span_id,
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "op": s.op,
                        "counts": s.counts,
                    }
                    for s in self.spans
                ],
                f,
            )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: str) -> None:
        self.tracer, self.name, self.op = tracer, name, op
        self.span: Span | None = None

    def __enter__(self) -> Span:
        stack = self.tracer._stack()
        parent = stack[-1].span_id if stack else None
        if self.op is None:
            self.op = stack[-1].op if stack else ""
        with self.tracer._lock:
            sid = len(self.tracer.spans)
            self.span = Span(self.name, time.time(), 0.0, parent, self.op, sid)
            self.tracer.spans.append(self.span)
        stack.append(self.span)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        self.tracer._stack().pop()


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


@dataclass
class JobStats:
    """What a set of Spark jobs cost, summed over their stage attempts
    (skipped stages contribute nothing)."""

    jobs: int = 0
    task_run_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def driver_gap_s(self, start: float, end: float) -> float:
        """Wall time in [start, end] during which none of the jobs ran."""
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(
            (max(s, start), min(e, end)) for s, e in self.intervals if e > start and s < end
        ):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return max(0.0, (end - start) - busy)


class SparkStats:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def settle(self) -> None:
        """Wait until the status listener has seen every event posted so
        far, so finished jobs are in the store."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def collect(self, job_ids) -> JobStats:
        out = JobStats()
        for jid in job_ids:
            try:
                job = self._store.job(jid)
            except Exception:  # noqa: BLE001 — evicted or unknown id
                continue
            out.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = self._store.lastStageAttempt(stage_ids.apply(i))
                except Exception:  # noqa: BLE001
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out.task_run_ms += st.executorRunTime()
                out.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


# ---------------------------------------------------------------------------
# /proc of the driver and its JVM
# ---------------------------------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(pids) -> float:
    """Sum of each process's resident high-water mark (``VmHWM``): the
    kernel keeps the peak, so no sampling thread is needed."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def io_chars(pid: int) -> tuple[int, int]:
    """(rchar, wchar) of ``pid``: bytes its read/write calls moved,
    page cache included."""
    vals = {}
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            k, v = line.split(":")
            vals[k] = int(v)
    return vals["rchar"], vals["wchar"]


# ---------------------------------------------------------------------------
# Quantiles
# ---------------------------------------------------------------------------

TAIL_QUANTILE = 0.75


def quantile(values, p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: the mean of all order
    statistics weighted by how much of a Beta(p(n+1), (1-p)(n+1)) density
    falls in each one's slot of [0, 1]. A run has a dozen or so samples, and
    there a single order statistic jumps with whichever sample lands at its
    rank; this estimate moves far less from run to run."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    steps = 50  # integration steps per slot
    t = np.clip(np.linspace(0.0, 1.0, steps * n + 1), 1e-12, 1 - 1e-12)
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    weights = np.diff(cdf[::steps]) / cdf[-1]
    return float(weights @ xs)


def mb(n_bytes: float) -> float:
    return n_bytes / (1024.0 * 1024.0)


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
