"""Spans, counters and resource sampling, all taken from outside the
program: around calls into its public entry points, from Spark's own
status tracker and status store, and from ``/proc``.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. Off, ``span`` costs one attribute test."""

    def __init__(self, on: bool, t0: float):
        self.on = on
        self.t0 = t0
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.on:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": op,
            "start": time.perf_counter() - self.t0,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(c) for c in f.read().split()]
    except OSError:
        return []


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and every process below it (the JVM
    and its Python workers)."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_bytes(pid)
        todo.extend(_children(pid))
    return total


class RssSampler:
    """Samples the process tree's resident memory every ``period_s``;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


class JobLedger:
    """Per-group Spark job accounting from the status tracker, with
    per-stage executor figures from the status store."""

    PY_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInArrow", "AggregateInPandas",
                "FlatMapCoGroupsInPandas", "WindowInPandas")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._jstore = self.sc._jsc.sc().statusStore()
        self._graphs = spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph

    def max_job_id(self) -> int:
        """Highest job id the session has run (ids are dense and
        increasing, so two readings bound the jobs run between them)."""
        jobs = _jlist(self._jstore.jobsList(None))
        return max((int(j.jobId()) for j in jobs), default=-1)

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def stage_ids(self, job_ids: list[int]) -> list[int]:
        out: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return sorted(out)

    def stage_figures(self, stage_id: int) -> dict | None:
        """Executor figures of a stage's last attempt; None for a stage
        that never ran (skipped: its output was reused)."""
        try:
            s = self._jstore.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - skipped stages have no data
            return None
        if str(s.status()) == "SKIPPED":
            return None
        return {
            "tasks": int(s.numTasks()),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
            "shuffle_read_mb": (s.shuffleRemoteBytesRead()
                                + s.shuffleLocalBytesRead()) / 1e6,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
            # rows entering the stage: for a Python stage, the rows its
            # Arrow batches carry to the worker
            "rows_in": int(s.inputRecords()) + int(s.shuffleReadRecords()),
            "python": self._is_python_stage(stage_id),
        }

    def _is_python_stage(self, stage_id: int) -> bool:
        """True when the stage's operation graph holds a Python
        evaluation node (the RDD scopes carry the physical node names)."""
        try:
            text = self._graphs.makeDotFile(self._jstore.operationGraphForStage(stage_id))
        except Exception:  # noqa: BLE001 - graph not retained
            return False
        return any(n in text for n in self.PY_NODES)


def scan_reads(df) -> tuple[int, int]:
    """Files and bytes the file scans of an executed DataFrame read,
    from their ``numFiles`` and ``filesSize`` SQL metrics: what is
    left after partition pruning, not every file of the relation."""
    files = size = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        metrics = node.metrics()
        if metrics.contains("numFiles"):
            files += int(metrics.apply("numFiles").value())
            size += int(metrics.apply("filesSize").value())
        todo.extend(_jlist(node.children()))
    return files, size


def _jlist(jseq):
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out
