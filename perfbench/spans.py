"""Spans and Spark counters for the traced run.

A span times one call the benchmark makes into a layer of the engine.
Every span that may run Spark jobs gets its own job group, and on exit
the span harvests that group's jobs and stages from the JVM status store
(readable with the UI off). Spans are kept in memory and written out when
the run ends. With tracing off every method is a no-op, so the untraced
run measures the engine alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# stage-level counters summed over a span's jobs: name -> (StageData
# getter, scale to the reported unit)
STAGE_COUNTERS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "result_bytes": ("resultSize", 1),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "spill_bytes": ("diskBytesSpilled", 1),
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[dict] = []
        if enabled:
            jsc = self._sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            gateway = self._sc._gateway
            self._no_task_status = gateway.jvm.java.util.ArrayList()
            self._no_quantiles = gateway.new_array(gateway.jvm.double, 0)

    def _pins(self) -> set[int]:
        return {int(k) for k in self._sc._jsc.getPersistentRDDs().keySet()}

    def live_pins(self) -> int:
        return len(self._pins()) if self.enabled else 0

    def _harvest(self, group: str) -> dict:
        """Jobs, stages, tasks and stage counters of one job group."""
        self._bus.waitUntilEmpty()
        out = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0 for k in STAGE_COUNTERS}}
        seen: set[tuple[int, int]] = set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                attempts = self._store.stageData(
                    sid, False, self._no_task_status, False, self._no_quantiles
                )
                for j in range(attempts.size()):
                    st = attempts.apply(j)
                    key = (sid, st.attemptId())
                    if key in seen or str(st.status()) == "SKIPPED":
                        continue
                    seen.add(key)
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    for name, (getter, scale) in STAGE_COUNTERS.items():
                        out[name] += getattr(st, getter)() * scale
        return out

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a call into a layer; harvest its Spark work when tracing."""
        if not self.enabled:
            yield None
            return
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            **attrs,
        }
        self.spans.append(span)
        group = f"perfbench-{span['id']}"
        pins_before = self._pins()
        self._stack.append(span)
        self._sc.setJobGroup(group, name)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self._sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            span["counters"] = self._harvest(group)
            span["counters"]["pins"] = len(self._pins() - pins_before)

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def subtree_counter(self, span: dict, key: str) -> float:
        """A counter summed over a span and all its descendants (each
        span owns only the jobs run directly under its own group)."""
        total = span.get("counters", {}).get(key, 0)
        for child in self.children(span):
            total += self.subtree_counter(child, key)
        return total

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh, indent=1)
            fh.write("\n")
