"""Layer instrumentation read from outside the program.

Spans come from the benchmark's own calls (op, queries.build,
queries.exec, intake.*), from Spark's ``AppStatusStore`` (job and
stage submission/completion times, task metrics) and from a
``StreamingQueryListener`` the benchmark registers. Everything stays
in memory and is written out when the run ends.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None = None  # index into Tracer.spans
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span list. With ``enabled=False`` only ``op`` spans
    are kept, which the end-to-end metrics need anyway."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def timed(self, name: str, parent: int | None, fn, *args):
        """Run ``fn(*args)`` and record it as a child span when tracing."""
        t0 = time.time()
        out = fn(*args)
        if self.enabled:
            self.add(name, t0, time.time(), parent)
        return out

    def children(self, idx: int, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == idx and s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent, **s.attrs}
                    for i, s in enumerate(self.spans)
                ],
                f,
            )


class StatusStore:
    """Reads ``AppStatusStore`` job, stage and RDD storage data as JSON
    (one py4j call per list, serialized JVM-side by Jackson)."""

    def __init__(self, spark: SparkSession) -> None:
        jvm = spark._jvm
        self._jvm = jvm
        self._gw = spark.sparkContext._gateway
        self._store = spark.sparkContext._jsc.sc().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala, "MODULE$"))

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def stages(self) -> list[dict]:
        empty = self._jvm.java.util.ArrayList
        # the 5-argument Scala signature; the 1-argument overload is
        # not reachable over py4j
        quantiles = self._gw.new_array(self._jvm.double, 0)
        return self._json(self._store.stageList(empty(), False, False, quantiles, empty()))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(self._jvm.java.util.ArrayList()))

    def cached(self) -> tuple[int, float]:
        """(cached RDD count, MB they hold in memory and on disk)."""
        rdds = self._json(self._store.rddList(True))
        used = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)
        return len(rdds), used / MB


class TriggerListener(StreamingQueryListener):
    """Collects each streaming trigger's ``durationMs`` breakdown."""

    def __init__(self) -> None:
        self.triggers: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = _iso_epoch(p.timestamp)
        d = dict(p.durationMs)
        self.triggers.append({"start": start, "end": start + d.get("triggerExecution", 0) / 1e3, **d})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def union_len(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in iv if e > lo and s < hi]


def stage_interval(st: dict) -> tuple[float, float] | None:
    if not st.get("submissionTime") or not st.get("completionTime"):
        return None
    return st["submissionTime"] / 1e3, st["completionTime"] / 1e3


def stage_metrics(stages: list[dict]) -> dict[str, float]:
    """Summed executor metrics of a set of stages."""
    return {
        "stages": len(stages),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "failed_tasks": sum(s.get("numFailedTasks", 0) for s in stages),
        "task_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "task_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "input_mb": sum(s.get("inputBytes", 0) for s in stages) / MB,
        "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / MB,
        "spill_mb": sum(s.get("diskBytesSpilled", 0) for s in stages) / MB,
    }


def within(items: list[dict], key: str, lo: float, hi: float) -> list[dict]:
    """Items whose ``key`` epoch-millisecond timestamp falls in [lo, hi]."""
    return [x for x in items if x.get(key) and lo <= x[key] / 1e3 <= hi]
