"""Measurement taken from outside the engine: spans, Spark status-store
counter deltas, streaming progress, CPU time and resident memory.

Everything here reads public or status-store state around the engine's
public calls; nothing is patched into the package. Spans and counters
are only taken in traced runs, so untraced runs pay none of this cost.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def _metric_value(text: str) -> float:
    """Parse a rendered SQL metric: a plain sum ("1,234") or the first
    figure of a size metric ("total (min, med, max ...)\\n9.7 KiB (...)")."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2) or "B", 1)


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length in seconds of the union of ms intervals, clipped to [lo, hi]."""
    covered, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered / 1000.0


class Tracer:
    """In-memory spans: name, id, parent, op id, start/end (epoch ms) and
    attached counters. Written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        sid = len(self.spans) + 1
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start_ms": time.time() * 1000.0, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_ms"] = time.time() * 1000.0


class StatusCounters:
    """Deltas of the Spark status stores between two points: jobs,
    stages, tasks, task/GC time, shuffle, spill, scan bytes, SQL
    execution intervals and Python-eval node traffic."""

    def __init__(self, spark) -> None:
        self.sc = spark._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores (and Python streaming listeners) are complete."""
        self.sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        self.drain()
        jobs = self.store.jobsList(None)
        job = jobs.apply(0).jobId() if jobs.size() else -1
        n = self.sql.executionsCount()
        exe = self.sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        return job, exe

    def since(self, mark: tuple[int, int]) -> dict:
        job0, exe0 = mark
        job1, exe1 = self.mark()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
               "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
               "scan_mb": 0.0, "python_rows": 0.0, "python_mb": 0.0,
               "job_ms": [], "exec_ms": []}
        stage_ids: set[int] = set()
        for jid in range(job0 + 1, job1 + 1):
            try:
                j = self.store.job(jid)
            except Exception:  # evicted past spark.ui.retainedJobs
                continue
            out["jobs"] += 1
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                out["job_ms"].append((j.submissionTime().get().getTime(),
                                      j.completionTime().get().getTime()))
            ids = j.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_s"] += s.executorRunTime() / 1000.0
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            out["shuffle_read_mb"] += s.shuffleReadBytes() / MB
            out["spill_mb"] += s.diskBytesSpilled() / MB
            out["scan_mb"] += s.inputBytes() / MB
        for eid in range(exe0 + 1, exe1 + 1):
            opt = self.sql.execution(eid)
            if opt.isEmpty():
                continue
            e = opt.get()
            if e.completionTime().isDefined():
                out["exec_ms"].append((e.submissionTime(),
                                       e.completionTime().get().getTime()))
            self._python_traffic(eid, out)
        return out

    def _python_traffic(self, eid: int, out: dict) -> None:
        nodes = self.sql.planGraph(eid).allNodes()
        values = None
        seen: set[int] = set()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not _PY_NODE.search(node.name()):
                continue
            values = values or self.sql.executionMetrics(eid)
            ms = node.metrics()
            for k in range(ms.size()):
                pm = ms.apply(k)
                name, acc = pm.name(), pm.accumulatorId()
                rendered = values.get(acc)
                if acc in seen or rendered.isEmpty():
                    continue
                seen.add(acc)
                if name == "number of output rows":
                    out["python_rows"] += _metric_value(rendered.get())
                elif name in ("data sent to Python workers",
                              "data returned from Python workers"):
                    out["python_mb"] += _metric_value(rendered.get()) / MB


def progress_listener(sink: list):
    """A StreamingQueryListener appending each progress event's JSON to
    ``sink`` (the same capture tools/stream_state_bench.py uses)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            sink.append(event.progress.json)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Progress()


def _tree_stats(root_pid: int) -> list[list[str]]:
    """/proc stat fields (after the command name) of ``root_pid`` and all
    its descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        stats[pid] = fields
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(f[21]) * page for f in _tree_stats(root_pid))


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) used so far by this process, the
    driver JVM and the JVM's descendants (the Python workers). Exited
    workers count through their reaping parent's children times."""
    tick = os.sysconf("SC_CLK_TCK")
    jvm = sum(int(v) for f in _tree_stats(jvm_pid) for v in f[11:15]) / tick
    me = os.times()
    return jvm + me.user + me.system


class RssSampler:
    """Samples the resident memory of the driver JVM plus its Python
    workers every ``interval`` seconds on a daemon thread; ``peak_mb``
    is the highest sum seen while running."""

    def __init__(self, jvm_pid: int, interval: float = 0.05) -> None:
        self.pid, self.interval = jvm_pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / MB
