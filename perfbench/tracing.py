"""Traced-run instrumentation, kept outside the package under test.

- ``Ledger`` reads per-job-group counters from the driver JVM's status
  store (job -> stage ids -> last stage attempt), one JSON round trip
  per job and per stage. It reads a group right after the call that
  ran it, before ``spark.ui.retainedStages`` can evict its stages; it
  never uses app-wide totals or a per-task listener.
- ``Tracer`` records spans (name, layer, start, end, parent, operation
  id) in memory, sets one Spark job group per span, and can wrap
  module attributes the package looks up at call time so that the legs
  of a composed call get spans and job groups of their own. Wrappers
  are installed only in the traced run and removed by ``close``.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# per-stage counters summed into a ledger entry (status-store field ->
# ledger key, scale)
_STAGE_FIELDS = {
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "executorRunTime": ("exec_run_s", 1e-3),
    "executorCpuTime": ("exec_cpu_s", 1e-9),
    "inputRecords": ("input_rows", 1),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "memoryBytesSpilled": ("spill_mb", 1 / 2**20),
    "diskBytesSpilled": ("spill_mb", 1 / 2**20),
}


class Ledger:
    """Counters of the jobs a job group ran, from the status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._tracker = jsc.statusTracker()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def read(self, group: str) -> dict:
        out = defaultdict(float)
        for job_id in self._tracker.getJobIdsForGroup(group):
            job = self._json(self._store.job(job_id))
            out["jobs"] += 1
            for sid in job["stageIds"]:
                stage = self._json(self._store.lastStageAttempt(sid))
                if stage["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                for field, (key, scale) in _STAGE_FIELDS.items():
                    out[key] += stage[field] * scale
        return dict(out)


class Tracer:
    """Spans in memory plus one Spark job group per span."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.ledger = Ledger(spark)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self.op_id = 0
        # seconds spent reading the ledger: the tracer's own cost
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "op": self.op_id,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s["group"], name)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc._jsc.clearJobGroup()
            t = time.perf_counter()
            s["counters"] = self.ledger.read(s["group"])
            self.overhead_s += time.perf_counter() - t

    def wrap(self, module, attr: str, name: str, layer: str) -> None:
        """Replace ``module.attr`` by a spanned version of itself."""
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name, layer):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapped)
        self._patched.append((module, attr, orig))

    def close(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Seconds of self time per layer: a span's duration minus the
        part its children cover (children of one span never overlap,
        the benchmark is single-threaded)."""
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in spans:
            out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)
