"""Spans and Spark counters recorded from outside the program.

A disabled ``Tracer`` records nothing and sets no job group, so an
untraced run times the program alone. A traced run keeps its spans in
memory and writes them as JSON lines when the run ends; each span has
a name, start and end (epoch seconds), the id of its parent span and
the run id.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from collections import Counter


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    # ------------------------------------------------------------ spans
    def open(self, name: str, parent: dict | None = None, **attrs) -> dict:
        """Start a span; close it with :meth:`close`."""
        rec = {
            "name": name,
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        return rec

    def record(self, name: str, start: float, end: float, parent: dict | None = None,
               **attrs) -> dict:
        """A finished span with given wall-clock bounds."""
        rec = self.open(name, parent=parent, **attrs)
        rec["start"], rec["end"] = start, end
        return rec

    @staticmethod
    def close(rec: dict) -> dict:
        rec["end"] = time.time()
        return rec

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Duration of ``rec`` minus the time its child spans cover."""
        busy = sum(c["end"] - c["start"] for c in self.children(rec))
        return rec["end"] - rec["start"] - busy

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    # ------------------------------------------------------- job groups
    def group(self, label: str) -> str | None:
        """Put the jobs the calling thread starts from now on into a
        fresh job group; returns its id (None when disabled)."""
        if not self.enabled:
            return None
        gid = f"{self.run_id}/{next(self._ids)}/{label}"
        self.spark.sparkContext.setJobGroup(gid, label)
        return gid

    def set_group(self, gid: str | None) -> None:
        if gid is not None:
            self.spark.sparkContext.setJobGroup(gid, gid.rsplit("/", 1)[-1])

    def clear_group(self) -> None:
        if self.enabled:
            self.spark.sparkContext._jsc.clearJobGroup()

    def job_stats(self, groups) -> Counter:
        """Jobs, stages, tasks and stage metrics of every job in
        ``groups``, read from Spark's status store once its listener bus
        has drained. Skipped stages (reused shuffle output) count for
        nothing."""
        c: Counter = Counter()
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        for gid in groups:
            if gid is None:
                continue
            for job in sc.statusTracker().getJobIdsForGroup(gid):
                c["jobs"] += 1
                stage_ids = store.job(job).stageIds()
                for i in range(stage_ids.length()):
                    s = store.lastStageAttempt(stage_ids.apply(i))
                    if s.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += s.numTasks()
                    c["executor_run_s"] += s.executorRunTime() / 1e3
                    c["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    c["gc_s"] += s.jvmGcTime() / 1e3
                    c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    c["input_bytes"] += s.inputBytes()
                    c["input_rows"] += s.inputRecords()
                    c["output_rows"] += s.outputRecords()
        return c

