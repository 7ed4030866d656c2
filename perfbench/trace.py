"""Spans, Spark counters, streaming progress and process-tree RSS.

``Tracer`` records one span per call into a package layer. Each span keeps
its name, layer, operation id, parent, start and end, and the Spark work
launched while it was open: the DAG scheduler hands out job and stage ids
in order and one client runs at a time, so the ids issued between a span's
start and end are that span's (children included). Stage metrics are read
from the status store right after each span ends, while they are still
retained (the session keeps 100 stages); a span whose completed stages
were already evicted is marked incomplete and left out of the sums.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = {
    "tasks": "numTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_mem_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    complete: bool = True
    counters: dict[str, float] = field(default_factory=dict)
    children: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self, self_s: float) -> dict:
        return {
            "id": self.id, "name": self.name, "layer": self.layer, "op": self.op,
            "parent": self.parent, "start": self.start, "end": self.end,
            "seconds": self.seconds, "self_s": self_s, "jobs": self.jobs,
            "stages": self.stages, "complete": self.complete, **self.counters,
        }


class Tracer:
    """In-memory span recorder; ``write`` dumps the spans at the end."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._stage_cache: dict[int, dict[str, float] | None] = {}
        self._job_cache: dict[int, int | None] = {}
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self.t0 = time.perf_counter()
        self.op = 0

    def new_op(self) -> int:
        self.op += 1
        return self.op

    def _stage(self, stage_id: int) -> dict[str, float] | None:
        """Metrics of a stage, or None if the store no longer holds it."""
        if stage_id not in self._stage_cache:
            try:
                data = self._store.lastStageAttempt(stage_id)
            except Exception:  # py4j error wrapping NoSuchElementException
                self._stage_cache[stage_id] = None
            else:
                metrics = {key: float(getattr(data, m)()) for key, m in STAGE_FIELDS.items()}
                metrics["ran"] = float(data.status().toString() == "COMPLETE")
                self._stage_cache[stage_id] = metrics
        return self._stage_cache[stage_id]

    def _stages_run(self, job_id: int) -> int | None:
        """Stages a job completed (skipped ones excluded), or None if the
        store no longer holds the job."""
        if job_id not in self._job_cache:
            try:
                self._job_cache[job_id] = self._store.job(job_id).numCompletedStages()
            except Exception:
                self._job_cache[job_id] = None
        return self._job_cache[job_id]

    def _close(self, sp: Span, jobs0: int, stages0: int) -> None:
        """Sum the counters of the stages issued while ``sp`` was open.

        The store evicts skipped stages first (their work is zero) and then
        the oldest completed ones; the span is complete when every stage
        its jobs completed is still there to be read."""
        self._bus.waitUntilEmpty()
        jobs1, stages1 = self._dag.numTotalJobs(), self._dag.nextStageId()
        sp.jobs, sp.stages = jobs1 - jobs0, stages1 - stages0
        ran = [self._stages_run(j) for j in range(jobs0, jobs1)]
        totals = dict.fromkeys(STAGE_FIELDS, 0.0)
        found, scan = 0, (-1.0, 0.0)
        for sid in range(stages0, stages1):
            metrics = self._stage(sid)
            if metrics is None:
                continue
            found += int(metrics["ran"])
            scan = max(scan, (metrics["input_bytes"], metrics["tasks"]))
            for key in STAGE_FIELDS:
                totals[key] += metrics[key]
        sp.complete = None not in ran and found >= sum(ran)
        sp.counters = totals | {"scan_tasks": scan[1]}

    @contextmanager
    def span(self, name: str, layer: str):
        self._bus.waitUntilEmpty()
        jobs0, stages0 = self._dag.numTotalJobs(), self._dag.nextStageId()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), name=name, layer=layer, op=self.op,
            parent=parent.id if parent else None,
            start=time.perf_counter() - self.t0,
        )
        self.spans.append(sp)
        if parent:
            parent.children.append(sp.id)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self.t0
            self._stack.pop()
            self._close(sp, jobs0, stages0)

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the part of it its children cover (children
        run one after another, so their intervals do not overlap)."""
        return sp.seconds - sum(self.spans[c].seconds for c in sp.children)

    def write(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([sp.as_dict(self.self_seconds(sp)) for sp in self.spans], fh, indent=1)


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress report and query termination."""

    def __init__(self):
        self.progress: list[dict] = []
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        record = {
            "id": str(p.id),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
        }
        with self._cv:
            self.progress.append(record)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._terminated.add(str(event.id))
            self._cv.notify_all()

    def wait_terminated(self, n_queries: int, timeout_s: float = 30.0) -> None:
        """Block until ``n_queries`` queries have reported termination, so
        every progress event of a drain has been delivered."""
        with self._cv:
            if not self._cv.wait_for(lambda: len(self._terminated) >= n_queries, timeout_s):
                raise TimeoutError("streaming listener missed a query termination")

    def take(self) -> list[dict]:
        with self._cv:
            out, self.progress = self.progress, []
            return out


def _process_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every live process."""
    table: dict[int, tuple[int, str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: it runs from the first '(' to the last ')'
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 1 :].split()
        if fields[0] != "Z":
            table[int(entry)] = (int(fields[1]), name)
    return table


def descendants(table: dict[int, tuple[int, str]] | None = None) -> list[int]:
    """Live descendant pids of this process."""
    table, me = table or _process_table(), os.getpid()
    found = []
    for pid in table:
        p = table[pid][0]
        while p in table and p != me:
            p = table[p][0]
        if p == me:
            found.append(pid)
    return found


class RssSampler:
    """Samples the resident memory of the Spark JVM and its Python workers
    and keeps the peak. Short-lived helpers the JVM spawns (``ls``,
    ``chmod``, and the ``java`` copy that exists until a spawn execs) are
    not counted: they share the JVM's pages and would count it twice."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self.peak_bytes = 0

    def _tree_rss(self) -> int:
        table, me = _process_table(), os.getpid()
        total = 0
        for pid in descendants(table):
            parent, name = table[pid]
            if parent != me and not name.startswith("python"):
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self._interval)

    def reset(self) -> int:
        """Start a new phase; returns the peak of the one that ended."""
        peak = max(self.peak_bytes, self._tree_rss())
        self.peak_bytes = 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
