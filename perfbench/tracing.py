"""Tracing owned by the benchmark, recorded around calls into the engine.

* ``Tracer`` keeps spans (name, start, end, parent, job) in memory and
  writes them out once, when the run ends.
* ``stage_metrics`` reads Spark's per-stage counters for one job group
  (set with ``SparkContext.setJobGroup`` around a layer call) back from
  the status tracker and the driver's status store.
* ``TracingClientFactory`` wraps the client that the engine's
  ``fake_client_factory`` returns and records one span per commit; each
  Python worker appends its spans to its own file, merged after the job.
* ``RssSampler`` samples the resident memory of every process below this
  one (the Spark JVM and its Python workers) from ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.job = 0

    @contextmanager
    def span(self, name: str):
        record = {"name": name, "start": time.time(), "end": None,
                  "parent": self._stack[-1] if self._stack else None, "job": self.job}
        self.spans.append(record)
        self._stack.append(len(self.spans) - 1)
        try:
            yield record
        finally:
            self._stack.pop()
            record["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: dict | None, **extra) -> None:
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": self.spans.index(parent) if parent else None,
                           "job": self.job, **extra})

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for record in self.spans:
                fh.write(json.dumps(record) + "\n")


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cursor = 0.0, lo
    for start, end in sorted(intervals):
        start, end = max(start, cursor), min(end, hi)
        if end > start:
            total += end - start
            cursor = end
    return total


def stage_metrics(spark, group: str) -> dict:
    """Summed stage counters and stage intervals of one job group."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = jsc.statusStore()
    out = {"stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "input_bytes": 0,
           "input_records": 0, "shuffle_bytes": 0, "shuffle_records": 0, "intervals": []}
    for stage_id in sorted(stage_ids):
        try:
            data = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # a skipped stage has no attempt to read
            continue
        if not data.submissionTime().isDefined() or not data.completionTime().isDefined():
            continue
        out["stages"] += 1
        out["tasks"] += data.numTasks()
        out["run_s"] += data.executorRunTime() / 1e3
        out["cpu_s"] += data.executorCpuTime() / 1e9
        out["input_bytes"] += data.inputBytes()
        out["input_records"] += data.inputRecords()
        out["shuffle_bytes"] += data.shuffleWriteBytes()
        out["shuffle_records"] += data.shuffleWriteRecords()
        out["intervals"].append((data.submissionTime().get().getTime() / 1e3,
                                 data.completionTime().get().getTime() / 1e3))
    return out


class TracingClient:
    """Times each commit of the wrapped client; spans go to ``span_dir``."""

    def __init__(self, inner, span_dir: str) -> None:
        self._inner = inner
        self._span_dir = span_dir
        self._opened = time.time()
        self._commits: list[tuple[float, float, int, bool]] = []

    def commit(self, collection: str, items: list) -> None:
        start, ok = time.time(), False
        try:
            self._inner.commit(collection, items)
            ok = True
        finally:
            self._commits.append((start, time.time(), len(items), ok))

    def close(self) -> None:
        try:
            self._inner.close()
        finally:
            record = {"pid": os.getpid(), "opened": self._opened, "closed": time.time(),
                      "commits": self._commits}
            path = os.path.join(self._span_dir, f"worker-{os.getpid()}.jsonl")
            with open(path, "a", encoding="utf-8") as fh:
                fh.write(json.dumps(record) + "\n")


class TracingClientFactory:
    """Picklable factory: one ``TracingClient`` around each engine client."""

    def __init__(self, inner_factory, span_dir: str) -> None:
        self.inner_factory = inner_factory
        self.span_dir = span_dir

    def __call__(self) -> TracingClient:
        return TracingClient(self.inner_factory(), self.span_dir)


def read_client_spans(span_dir: str) -> list[dict]:
    clients = []
    for entry in sorted(os.scandir(span_dir), key=lambda e: e.name):
        with open(entry.path, encoding="utf-8") as fh:
            clients.extend(json.loads(line) for line in fh if line.strip())
    return clients


def _children(pid: int) -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry.name))
    return tree


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of every descendant of ``root`` (not ``root`` itself)."""
    tree = _children(root)
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, list(tree.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(tree.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background peak of ``tree_rss_bytes(os.getpid())`` every ``period_s``."""

    def __init__(self, period_s: float = 0.1) -> None:
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
