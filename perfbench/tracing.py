"""Spans and per-layer counters for the traced benchmark run.

All tracing lives in the benchmark: spans are opened around the calls the
benchmark makes into each layer (query builders, actions, ingest batches)
and around library functions it wraps from the outside (store appends and
reads, ``DataFrame.localCheckpoint``). After every span boundary the
tracer drains Spark's listener bus and reads the jobs and stages that
finished since the last read from the application status store, and
charges them to the innermost open span.

With tracing off every method is a cheap no-op, so the untraced run times
the same code path without status-store reads.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time

import pyarrow.parquet as pq

ENGINE_KEYS = ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
               "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
               "scan_rows", "python_bytes")

_SIZE = re.compile(r"([0-9][0-9,.]*)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path`` (0 if absent)."""
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def parquet_rows(path: str) -> int:
    """Row count of every parquet file under ``path``, from footers only."""
    return sum(pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
               for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


class EngineProbe:
    """Reads finished jobs, stages and SQL executions from Spark's status
    store, each exactly once."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._jobs: set[int] = set()
        self._stages: set[tuple[int, int]] = set()
        self._execs: set[int] = set()
        self._job_floor = -1
        self._stage_floor = -1
        self._exec_floor = -1

    def collect(self) -> tuple[dict, list[tuple[float, float]]]:
        """Counters and (start, end) epoch-second intervals of every stage
        finished since the previous call. The store lists jobs and stages
        newest first, so each read stops at the first id below the floor
        under which everything has already been read."""
        self._bus.waitUntilEmpty(10_000)
        c = dict.fromkeys(ENGINE_KEYS, 0.0)
        jobs = self._store.jobsList(None)
        running = None
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._job_floor:
                break
            if str(j.status()) == "RUNNING":
                running = jid if running is None else min(running, jid)
            elif jid not in self._jobs:
                self._jobs.add(jid)
                c["jobs"] += 1
        if jobs.size():
            self._job_floor = jobs.apply(0).jobId() if running is None else running - 1
        intervals = []
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        pending = None
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._stage_floor:
                break
            status = str(s.status())
            if status in ("ACTIVE", "PENDING"):
                pending = sid if pending is None else min(pending, sid)
                continue
            key = (sid, s.attemptId())
            if key in self._stages:
                continue
            self._stages.add(key)
            if status == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            c["task_s"] += s.executorRunTime() / 1e3
            c["task_cpu_s"] += s.executorCpuTime() / 1e9
            c["gc_s"] += s.jvmGcTime() / 1e3
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["shuffle_read_bytes"] += s.shuffleReadBytes()
            c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            c["scan_rows"] += s.inputRecords()
            if s.submissionTime().isDefined() and s.completionTime().isDefined():
                intervals.append((s.submissionTime().get().getTime() / 1e3,
                                  s.completionTime().get().getTime() / 1e3))
        if stages.size():
            newest = stages.apply(0).stageId()
            self._stage_floor = newest if pending is None else pending - 1
        c["python_bytes"] = self._python_bytes()
        return c, intervals

    def _python_bytes(self) -> float:
        """Bytes sent to and returned from Python workers by the SQL
        executions that finished since the previous call."""
        total = 0.0
        execs = self._sql.executionsList()  # oldest first
        running = None
        for i in reversed(range(execs.size())):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._exec_floor:
                break
            if not e.completionTime().isDefined():
                running = eid
                continue
            if eid in self._execs:
                continue
            self._execs.add(eid)
            total += self._execution_python_bytes(eid)
        if execs.size():
            newest = execs.apply(execs.size() - 1).executionId()
            self._exec_floor = newest if running is None else running - 1
        return total

    def _execution_python_bytes(self, eid: int) -> float:
        ids = []
        nodes = self._sql.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if not any(w in node.name() for w in ("Python", "Pandas", "Arrow")):
                continue
            ms = node.metrics()
            for k in range(ms.size()):
                if "Python workers" in ms.apply(k).name():
                    ids.append(ms.apply(k).accumulatorId())
        if not ids:
            return 0.0
        total = 0.0
        values = self._sql.executionMetrics(eid)
        for acc in ids:
            v = values.get(acc)
            if v.isDefined():
                m = _SIZE.search(v.get())
                if m:
                    total += float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]
        return total


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return covered


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._engine: EngineProbe | None = None
        self._patches: list[tuple[object, str, object]] = []

    def attach(self, spark) -> None:
        if self.enabled:
            self._engine = EngineProbe(spark)
            self._drain()  # session start-up jobs are nobody's

    def _drain(self) -> None:
        if self._engine is None:
            return
        t0 = time.perf_counter()
        counters, intervals = self._engine.collect()
        if self._stack:
            top = self._stack[-1]
            for k, v in counters.items():
                top["engine"][k] += v
            top["intervals"].extend(intervals)
        self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a block as a span; yields its attrs dict, to which the block
        may add counters. With tracing off, only that dict is yielded."""
        if not self.enabled:
            yield attrs
            return
        self._drain()
        span = {"id": len(self.spans), "name": name, "run": self.run_id,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "engine": dict.fromkeys(ENGINE_KEYS, 0.0), "intervals": [],
                "attrs": attrs}
        self.spans.append(span)
        self._stack.append(span)
        span["start"] = time.time()
        try:
            yield attrs
        finally:
            span["end"] = time.time()
            self._drain()
            self._stack.pop()

    def wrap(self, target: object, attr: str, name: str, before=None, after=None,
             **span_attrs) -> None:
        """Replace ``target.attr`` (until :meth:`unwrap`) with a version run
        in a span named ``name``. ``before(args)`` returns a state passed to
        ``after(state, attrs)``, which may add counters to the span's attrs."""
        if not self.enabled:
            return
        fn = getattr(target, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, **span_attrs) as attrs:
                state = before(args) if before else None
                try:
                    return fn(*args, **kwargs)
                finally:
                    if after:
                        after(state, attrs)

        self._patches.append((target, attr, fn))
        setattr(target, attr, traced)

    def unwrap(self) -> None:
        for target, attr, fn in reversed(self._patches):
            setattr(target, attr, fn)
        self._patches.clear()

    def subtree(self, span: dict) -> list[dict]:
        ids = {span["id"]}
        out = [span]
        for s in self.spans[span["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def totals(self, span: dict) -> dict:
        """Engine counters of ``span`` and all its descendants, plus the
        span's wall time not covered by any running stage."""
        sub = self.subtree(span)
        tot = {k: sum(s["engine"][k] for s in sub) for k in ENGINE_KEYS}
        intervals = [iv for s in sub for iv in s["intervals"]]
        wall = span["end"] - span["start"]
        tot["driver_gap_s"] = wall - _covered(intervals, span["start"], span["end"])
        return tot

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({k: v for k, v in s.items() if k != "intervals"}) + "\n")
