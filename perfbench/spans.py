"""Spans and Spark status-store readings for the traced run.

A span is recorded around every call the benchmark makes into a layer:
name, start, end, parent span and the id of the timed op it belongs to.
Spans stay in memory and are written out once, when the run ends.

With tracing on, every timed op also gets the Spark work it caused: the
op's thread runs under its own job group, and right after the op returns
the jobs submitted since the previous op (including jobs the program
submits from helper threads, which do not inherit the group) are read
from ``sc._jsc.sc().statusStore()``.  Reading right away keeps the stages
ahead of the store's retention limit.  With tracing off only the spans'
wall times are kept and the status store is never read.
"""

from __future__ import annotations

import contextlib
import json
import time


def _opt_ms(opt) -> "float | None":
    """Epoch milliseconds of a Scala ``Option[Date]``, or None."""
    return float(opt.get().getTime()) if opt.isDefined() else None


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_stats: list[dict] = []
        self._stack: list[int] = []
        self._op_id: "int | None" = None
        self._next_job = 0
        self._op_acc: dict = {}
        # Seconds the tracer itself added to the run (status-store reads,
        # listener-bus drains, plan forcing).
        self.overhead_s = 0.0
        if enabled:
            self._next_job = self._first_unseen_job(0)

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = False):
        """A layer-call span.  ``spark=True`` (traced runs) also attaches
        the Spark work submitted inside it as the span's ``stats``."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self._op_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark and self.enabled:
                rec["stats"] = self._collect_timed()
                self._add(rec["stats"])

    @contextlib.contextmanager
    def op(self, name: str):
        """One timed op: a top-level span plus, when tracing, the Spark
        work it caused.  Yields the span record; its ``stats`` key holds
        the Spark counters after the block exits."""
        self._op_id = len(self.op_stats)
        self.sc.setJobGroup(f"perfbench-op-{self._op_id}", name)
        stats: dict = {"name": name}
        self._op_acc = {}
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self.sc.setJobGroup("perfbench-idle", "between ops")
            stats["wall_s"] = rec["end"] - rec["start"]
            if self.enabled:
                self._add(self._collect_timed())
                stats.update(self._op_acc)
                t0 = time.perf_counter()
                stats["cached_left"] = self.sc._jsc.getPersistentRDDs().size()
                self.overhead_s += time.perf_counter() - t0
            rec["stats"] = stats
            self.op_stats.append(stats)
            self._op_id = None

    def force_plan(self, df) -> float:
        """Seconds spent forcing the physical plan of ``df`` (traced runs
        only; 0 otherwise)."""
        if not self.enabled:
            return 0.0
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        dt = time.perf_counter() - t0
        self.overhead_s += dt
        return dt

    # -- status store ------------------------------------------------------

    def _add(self, st: dict) -> None:
        for k, v in st.items():
            self._op_acc[k] = self._op_acc.get(k, 0) + v

    def _collect_timed(self) -> dict:
        t0 = time.perf_counter()
        st = self._collect()
        self.overhead_s += time.perf_counter() - t0
        return st

    def _first_unseen_job(self, start: int) -> int:
        tracker = self.sc.statusTracker()
        j, misses = start, 0
        while misses < 3:
            if tracker.getJobInfo(j + misses) is None:
                misses += 1
            else:
                j, misses = j + misses + 1, 0
        return j

    def _collect(self) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        end = self._first_unseen_job(self._next_job)
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "wait_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0}
        seen: set = set()
        for j in range(self._next_job, end):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, None, False, None)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numTasks()
                    out["run_s"] += s.executorRunTime() / 1e3
                    out["cpu_s"] += s.executorCpuTime() / 1e9
                    sub, first = _opt_ms(s.submissionTime()), _opt_ms(s.firstTaskLaunchedTime())
                    if sub is not None and first is not None:
                        out["wait_s"] += max(0.0, first - sub) / 1e3
                    out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
                    out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
                    out["input_mb"] += s.inputBytes() / 2**20
        self._next_job = end
        return out

    # -- output ------------------------------------------------------------

    def check_nesting(self) -> bool:
        """Every child span lies within its parent's interval."""
        for s in self.spans:
            p = s["parent"]
            if p is not None:
                ps = self.spans[p]
                if s["start"] < ps["start"] or s["end"] > ps["end"]:
                    return False
        return True

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")
