"""Spans around the benchmark's calls into the engine, and per-layer figures
read back from Spark's event log.

Each span sets ``sc.setJobGroup(<layer>, <name>)`` for the calls it wraps, so
every Spark job those calls start carries the layer as its group id. After the
session stops, :func:`layer_metrics` folds the event log's ``TaskEnd`` and
``StageCompleted`` records by group.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


def eventlog_confs(log_dir: str) -> dict[str, str]:
    """Confs of a traced session: a local, uncompressed event log, one file
    per application."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Records ``(layer, name, start, end)`` spans in memory and tags the
    Spark jobs started inside each span with the span's layer."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, str, float, float]] = []
        self._stack: list[tuple[str, str]] = []
        self._jsc = self.sc._jsc.sc()
        self._logger = self._jsc.eventLogger().get()
        self._logging = True

    def log_events(self, on: bool) -> None:
        """Attach or detach the session's event logger, so untraced
        operations run in the same session and JVM state as traced ones."""
        if on != self._logging:
            if on:
                self._jsc.addSparkListener(self._logger)
            else:
                self._jsc.removeSparkListener(self._logger)
            self._logging = on

    @contextmanager
    def span(self, layer: str, name: str):
        self._stack.append((layer, name))
        self.sc.setJobGroup(layer, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(*self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append((layer, name, t0, t1))

    def durations(self, layer: str, name: str) -> list[float]:
        return [b - a for lay, n, a, b in self.spans if lay == layer and n == name]


_PY_TIME = "time to run Python workers"
_PY_BYTES = "data sent to Python workers"


def layer_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor CPU seconds, shuffle MB written, spill MB,
    task skew (max/median task run time of the group's heaviest stage),
    Python-worker seconds and MB sent to Python workers."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[float]] = {}
    acc: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return acc.setdefault(
            group,
            {"cpu_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "py_s": 0.0, "py_mb": 0.0},
        )

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        if group:
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    if group is None or not tm:
                        continue
                    b = bucket(group)
                    b["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    sw = tm.get("Shuffle Write Metrics") or {}
                    b["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    b["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    tasks.setdefault(ev["Stage ID"], []).append(
                        float(tm.get("Executor Run Time", 0))
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info") or {}
                    group = stage_group.get(info.get("Stage ID"))
                    if group is None:
                        continue
                    b = bucket(group)
                    for a in info.get("Accumulables", []):
                        if a.get("Name") == _PY_TIME:
                            b["py_s"] += float(a.get("Value", 0)) / 1e3
                        elif a.get("Name") == _PY_BYTES:
                            b["py_mb"] += float(a.get("Value", 0)) / 2**20

    for group, b in acc.items():
        stages = [s for s, g in stage_group.items() if g == group and tasks.get(s)]
        b["task_skew"] = 1.0
        if stages:
            heavy = max(stages, key=lambda s: sum(tasks[s]))
            med = statistics.median(tasks[heavy])
            if med > 0:
                b["task_skew"] = max(tasks[heavy]) / med
    return acc
