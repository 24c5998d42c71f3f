"""Read-only probes the benchmark takes around each pass.

- :class:`ProcTree` reads CPU time and resident memory of the Spark JVM and
  every process below it (the PySpark daemon and its Python workers) from
  ``/proc``.
- :class:`StatusStore` reads Spark's own status stores through py4j: stage
  metrics from ``SparkContext.statusStore`` and per-node SQL metrics from
  ``sharedState().statusStore()``. Both work with ``spark.ui.enabled=false``.
- :class:`LayerTracer` wraps the package's public layer functions at every
  module attribute that binds them and counts calls and time per layer.
- :class:`StreamCounter` is a ``StreamingQueryListener`` that sums
  micro-batch progress.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class ProcTree:
    """The process rooted at ``pid`` and all its descendants."""

    def __init__(self, pid: int):
        self.pid = pid

    def pids(self) -> list[int]:
        children = defaultdict(list)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(name))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def cpu_s(self) -> float:
        """User+system seconds of every live process in the tree, plus the
        reaped children each one has waited for (short-lived workers)."""
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in fields[11:15])
        return total / _TICK

    def jit_cpu_s(self) -> float:
        """User+system seconds of the JVM's JIT compiler threads. They are
        counted only while alive, so the JVM must keep them
        (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
        total = 0
        task_dir = f"/proc/{self.pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    head, _, tail = f.read().rpartition(")")
            except OSError:
                continue
            if "CompilerThre" in head:
                total += sum(int(x) for x in tail.split()[11:13])
        return total / _TICK

    def rss_mb(self) -> float:
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return total * _PAGE / 2**20


class RssSampler(threading.Thread):
    """Samples the tree's summed RSS every ``interval`` seconds; keeps the peak."""

    def __init__(self, tree: ProcTree, interval: float = 0.1):
        super().__init__(daemon=True)
        self.tree, self.interval = tree, interval
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak_mb


_UNITS = {
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")


def metric_value(text: str | None) -> float:
    """Parse a SQL metric string (``'2.1 s'``, ``'32.0 MiB'``, ``'47'``, or
    the multi-task form ``'total (min, med, max ...)\\n2.1 s (...)'``) into
    seconds, MiB or a plain count."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusStore:
    """Per-pass deltas of Spark's status stores.

    Jobs, stages and SQL executions are numbered in submission order, so a
    pass owns every id above the mark taken before it. That includes stream
    micro-batches, which do not carry the caller's job group."""

    STAGE_FIELDS = {
        "tasks": ("numCompleteTasks", 1.0),
        "task_s": ("executorRunTime", 1e-3),
        "task_cpu_s": ("executorCpuTime", 1e-9),
        "gc_s": ("jvmGcTime", 1e-3),
        "input_mb": ("inputBytes", 1 / 2**20),
        "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
        "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
        "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
        "spill_mb": ("diskBytesSpilled", 1 / 2**20),
    }

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._app = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.last_exec = -1
        self.mark()
        self.sql_nodes()

    def _drain(self) -> None:
        # the status listeners run on the listener bus; wait for it so the
        # last stage of a pass is recorded as complete before it is read
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def jobs_started(self) -> int:
        return self._dag.numTotalJobs()

    def mark(self) -> None:
        """Forget every job and stage submitted so far."""
        self._drain()
        self.next_job = self._dag.numTotalJobs()
        self.next_stage = self._dag.nextStageId()

    def stage_delta(self) -> dict[str, float]:
        """Jobs, run stages and summed stage metrics since the last mark."""
        start_stage = self.next_stage
        start_job = self.next_job
        self.mark()
        out = dict.fromkeys(["jobs", "stages", *self.STAGE_FIELDS], 0.0)
        out["jobs"] = float(self.next_job - start_job)
        for sid in range(start_stage, self.next_stage):
            try:
                s = self._app.lastStageAttempt(sid)
            except Exception:  # never submitted (skipped) or evicted
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, (getter, scale) in self.STAGE_FIELDS.items():
                out[key] += getattr(s, getter)() * scale
        return out

    #: plan nodes whose metrics the per-layer figures use: broadcasts, joins
    #: and the nodes that run Python workers
    NODE_KEYS = ("BroadcastExchange", "Join", "Python", "Pandas", "Arrow")

    def sql_nodes(self) -> list[tuple[str, dict[str, float]]]:
        """``(node name, {metric: value})`` for the :attr:`NODE_KEYS` plan
        nodes of every SQL execution since the previous call."""
        self._drain()
        nodes = []
        for e in self._conv.asJava(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= self.last_exec:
                continue
            self.last_exec = max(self.last_exec, eid)
            values = self._sql.executionMetrics(eid)
            for n in self._conv.asJava(self._sql.planGraph(eid).allNodes()):
                name = n.name()
                if not any(k in name for k in self.NODE_KEYS):
                    continue
                ms = {}
                for m in self._conv.asJava(n.metrics()):
                    v = values.get(m.accumulatorId())
                    text = v.get() if v.isDefined() else None
                    ms[m.name()] = ms.get(m.name(), 0.0) + metric_value(text)
                nodes.append((name, ms))
        return nodes


class LayerTracer:
    """Counts calls and wall time of package functions, grouped by layer.

    A function is replaced at every module attribute that binds it, because
    the package imports these functions by name. Only the outermost call
    within a group adds time, so a writer that calls another writer is not
    counted twice."""

    def __init__(self, package: str):
        self.package = package
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self._depth: dict[str, int] = defaultdict(int)
        self._restore: list[tuple[object, str, object]] = []

    def wrap(self, group: str, fn) -> None:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.calls[group] += 1
            self._depth[group] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth[group] -= 1
                if self._depth[group] == 0:
                    self.seconds[group] += time.perf_counter() - t0

        rebind(self.package, fn, traced, self._restore)

    def snapshot(self) -> dict[str, tuple[int, float]]:
        return {g: (self.calls[g], self.seconds[g]) for g in set(self.calls) | set(self.seconds)}

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()


def rebind(package: str, orig, new, undo: list | None = None) -> None:
    """Point every ``package`` module attribute that is ``orig`` at ``new``."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == package or name.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)
                if undo is not None:
                    undo.append((mod, attr, orig))


class StreamCounter(StreamingQueryListener):
    """Sums micro-batch progress over every streaming query of the session."""

    def __init__(self):
        self.lock = threading.Lock()
        self.totals: dict[str, float] = defaultdict(float)

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        with self.lock:
            t = self.totals
            t["batches"] += 1
            t["batch_s"] += d.get("triggerExecution", 0) / 1e3
            t["add_batch_s"] += d.get("addBatch", 0) / 1e3
            t["commit_s"] += (d.get("commitOffsets", 0) + d.get("commitBatch", 0)) / 1e3
            t["state_rows"] += sum(op.numRowsTotal for op in p.stateOperators)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def snapshot(self) -> dict[str, float]:
        with self.lock:
            return dict(self.totals)
