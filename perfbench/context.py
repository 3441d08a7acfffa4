"""State one benchmark run carries between its set-up, measurement and
clean-up."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import instrument


@dataclass
class Result:
    attempted: int
    failed: int
    values: dict
    failures: list[str] = field(default_factory=list)


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    session_start_s: float
    tracer: instrument.Tracer = field(default_factory=instrument.Tracer)
    _corpora: list[str] = field(default_factory=list)
    _stats: instrument.SparkStats | None = None

    @property
    def stats(self) -> instrument.SparkStats:
        if self._stats is None:
            self._stats = instrument.SparkStats(self.spark)
        return self._stats

    def corpus_dir(self, kind: str) -> str:
        """A fresh input directory. Its basename is unique to this run, so
        state the engine keys by corpus basename (silver tables, IVF
        indexes) is always built cold, and :meth:`cleanup` can find it."""
        name = f"pb_{kind}_{self.seed}_{os.getpid()}"
        path = os.path.join(self.work, "corpora", name)
        self._corpora.append(name)
        return path

    def cleanup(self) -> None:
        warehouse = os.path.join(os.getcwd(), "spark-warehouse")
        for name in self._corpora:
            for sub in ("silver", "ivf"):
                instrument.remove_tree(os.path.join(warehouse, sub, name))
