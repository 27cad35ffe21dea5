"""Spans kept in memory, and Spark's own metrics read from its status stores.

Everything here observes the program from outside: spans wrap the
benchmark's calls into the engine's public functions, one Spark job group
is set around each call, and the engine's numbers come from the session's
two status stores after the call returns.

* ``AppStatusStore.lastStageAttempt`` for every stage of every job in the
  group: executor run/CPU/GC time, shuffle bytes, spill and task count.
* ``SQLAppStatusStore`` (``executionMetrics`` + ``planGraph``) for every
  SQL execution the call started: the Python-UDF metrics of
  ``ArrowEvalPython`` / ``MapInPandas`` nodes, which the stage store drops.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from pathlib import Path

# SQL metrics summed per leg, by the name Spark gives them -> our key
_PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_boot_s",
    "data sent to Python workers": "arrow_sent_mb",
}
_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """'total (min, med, max ...)\\n13.6 s (...)' or '245 ms' -> 13.6 / 0.245.

    Times become seconds and sizes MB (10^6 bytes)."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


class Spans:
    """Flat list of spans; a span's parent is the innermost open span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, iteration: int | None = None, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "iteration": iteration,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()


class SparkStores:
    """Reads the engine's metrics for one job group at a time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._core = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._group = None
        self._n_exec = 0

    def begin(self, group: str) -> None:
        self._core.listenerBus().waitUntilEmpty()
        self._group = group
        self._n_exec = self._sql.executionsCount()
        self.sc.setJobGroup(group, group)

    def end(self) -> dict:
        """Stage and SQL metrics of everything run since ``begin``."""
        self.sc._jsc.clearJobGroup()
        self._core.listenerBus().waitUntilEmpty()
        out = {
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
            "input_mb": 0.0, "tasks": 0, "jobs": 0,
        }
        store = self._core.statusStore()
        for job in self.sc.statusTracker().getJobIdsForGroup(self._group):
            out["jobs"] += 1
            info = self.sc.statusTracker().getJobInfo(job)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted, not in the store
                    continue
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                out["spill_mb"] += (st.diskBytesSpilled() + st.memoryBytesSpilled()) / 1e6
                out["input_mb"] += st.inputBytes() / 1e6
                out["tasks"] += st.numCompleteTasks()
        out.update(self._python_metrics())
        return out

    def _python_metrics(self) -> dict:
        out = {f"{node}.{key}": 0.0 for node in ("eval", "map") for key in _PY_METRICS.values()}
        n = self._sql.executionsCount() - self._n_exec
        if n <= 0:
            return out
        for ex in self._conv.asJava(self._sql.executionsList(self._n_exec, n)):
            eid = ex.executionId()
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            for node in self._conv.asJava(self._sql.planGraph(eid).allNodes()):
                kind = {"ArrowEvalPython": "eval", "MapInPandas": "map"}.get(node.name())
                if kind is None:
                    continue
                for m in self._conv.asJava(node.metrics()):
                    key = _PY_METRICS.get(m.name())
                    text = values.get(m.accumulatorId())
                    if key and text:
                        out[f"{kind}.{key}"] += parse_sql_metric(text)
        return out


def write_trace(path: Path, payload: dict) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(payload, indent=1, default=float))
