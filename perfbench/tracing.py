"""Spans and Spark status-store reads for the benchmark's traced runs.

Spans are recorded here, in the benchmark, around its calls into the
engine's public functions; the engine itself carries no tracing. Spark jobs
and streaming micro-batches become child spans afterwards, built from the
status store (job submission/completion times, filtered by the job group
the benchmark sets around each phase of an op) and from a streaming
query's ``recentProgress``.

The status store keeps only ``spark.ui.retainedJobs``/``retainedStages``
entries (1000 each by default), so it is read after every op rather than
once at exit.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float


class Tracer:
    """In-memory span recorder. Times are seconds on ``time.perf_counter``;
    epoch-millisecond times from Spark are mapped onto that clock."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._epoch_offset = time.time() - time.perf_counter()

    def add(self, name: str, parent: int | None, op: str | None,
            start: float, end: float) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, parent, op, start, end))
        return sid

    def open(self, name: str, parent: int | None = None,
             op: str | None = None) -> int:
        now = time.perf_counter()
        return self.add(name, parent, op, now, now)

    def close(self, sid: int) -> None:
        self.spans[sid].end = time.perf_counter()

    def from_epoch_ms(self, ms: float) -> float:
        return ms / 1000.0 - self._epoch_offset

    def add_clamped(self, name: str, parent: int, op: str | None,
                    start: float, end: float) -> int:
        """Child span clipped to its parent: Spark stamps jobs in whole
        milliseconds, so a job can appear to start up to 1 ms before the
        phase that submitted it."""
        p = self.spans[parent]
        start = min(max(start, p.start), p.end)
        end = min(max(end, start), p.end)
        return self.add(name, parent, op, start, end)

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_time(self, sid: int, kids: dict[int, list[Span]]) -> float:
        """Span duration minus the part of it that its children cover."""
        s = self.spans[sid]
        return (s.end - s.start) - covered(
            [(c.start, c.end) for c in kids.get(sid, [])], s.start, s.end
        )

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def check_tree(tracer: Tracer, tol: float = 1e-6) -> list[str]:
    """Well-formedness problems: a child outside its parent, a span that
    ends before it starts, or a negative self time."""
    problems = []
    kids = tracer.children()
    for s in tracer.spans:
        if s.end < s.start - tol:
            problems.append(f"span {s.id} {s.name} ends before it starts")
        if s.parent is not None:
            p = tracer.spans[s.parent]
            if s.start < p.start - tol or s.end > p.end + tol:
                problems.append(f"span {s.id} {s.name} outside parent {p.name}")
        if tracer.self_time(s.id, kids) < -tol:
            problems.append(f"span {s.id} {s.name} has negative self time")
    return problems


class StatusStore:
    """Reads Spark's application status store through the JVM gateway,
    serializing status objects to JSON with Jackson (one round trip per
    list instead of one per field)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._exec_seen = -1
        st = self._store
        self._stage_defaults = (
            getattr(st, "stageData$default$3")(),
            getattr(st, "stageData$default$5")(),
        )

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects all jobs that have finished."""
        self._sc.listenerBus().waitUntilEmpty()

    def job(self, job_id: int) -> dict:
        return self._json(self._store.job(job_id))

    def stage(self, stage_id: int) -> list[dict]:
        tasks, quantiles = self._stage_defaults
        return self._json(
            self._store.stageData(stage_id, False, tasks, False, quantiles)
        )

    def scan_bytes(self) -> int:
        """Bytes of files read by the file scans of the SQL executions that
        finished since the last call (or the last ``skip_executions``): the
        sum of the scan nodes' ``size of files read`` metric."""
        total = 0
        for eid in self._new_executions():
            values = self._json(self._sql.executionMetrics(eid))
            for node in self._json(self._sql.planGraph(eid).allNodes()):
                for m in node["metrics"]:
                    if m["name"] == "size of files read":
                        total += parse_size(values.get(str(m["accumulatorId"]), ""))
        return total

    def skip_executions(self) -> None:
        """Mark every SQL execution so far as seen without reading it."""
        self._new_executions()

    def _new_executions(self) -> list[int]:
        """Ids of stored SQL executions above the last one seen. Ids are
        consecutive; a few missing ones in a row end the search."""
        ids, eid, misses = [], self._exec_seen + 1, 0
        while misses < 5:
            if self._sql.execution(eid).isEmpty():
                misses += 1
            else:
                ids.append(eid)
                self._exec_seen, misses = eid, 0
            eid += 1
        return ids

    def shuffle_write_total(self) -> int:
        """Shuffle bytes written so far, summed over executors (cumulative
        totals are never evicted, unlike per-job and per-stage entries)."""
        return sum(ex.get("totalShuffleWrite") or 0
                   for ex in self._json(self._store.executorList(False)))


STAGE_SUMS = {
    "exec_run_ms": "executorRunTime",
    "exec_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "diskBytesSpilled",
    "tasks": "numTasks",
}


def job_counters(store: StatusStore, jobs: list[dict]) -> dict:
    """Jobs, executed (not skipped) stages and their summed task metrics."""
    out = {k: 0 for k in STAGE_SUMS}
    out["jobs"] = len(jobs)
    out["stages"] = 0
    for sid in sorted({s for j in jobs for s in j.get("stageIds", [])}):
        for att in store.stage(sid):
            if att.get("status") == "SKIPPED":
                continue
            out["stages"] += 1
            for k, field in STAGE_SUMS.items():
                out[k] += att.get(field) or 0
    return out


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}


def parse_size(text: str) -> int:
    """Bytes from a size metric as the SQL status store renders it
    (``"1018.0 KiB"``, or a ``total (min, med, max ...)`` line whose first
    figure is the total); 0 when there is none."""
    m = re.search(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)\b", text)
    if m is None:
        return 0
    return round(float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)])
