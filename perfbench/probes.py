"""Measurement probes the benchmark applies from the outside.

* ``ProcTree``: CPU seconds and peak RSS of this process and every
  descendant (the JVM, ``pyspark.daemon`` and its forked Python
  workers), read from ``/proc``.
* ``digest``: row count plus an order-insensitive hash of a DataFrame,
  computed by Spark; it is also the sink of every collect-style op.
* ``SparkCounters``: per-job-group stage counters from Spark's
  ``AppStatusStore`` and raw SQL metrics (Python worker time, Arrow
  bytes) from the executed plan of a collected DataFrame.
* ``Tracer``: in-memory spans (name, start, end, parent, op id).
* ``canary_s``: a fixed pure-Python CPU loop that tells host drift
  apart from program change.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PY_WORKER_MARKS = (b"pyspark.daemon", b"pyspark/daemon", b"pyspark.worker")


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def _stat_fields(pid: int) -> list[bytes] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(b")") + 2 :].split()


class ProcTree:
    """This process and all its descendants."""

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """utime+stime of every live process in the tree, plus the
        cutime+cstime each has collected from children it reaped, so a
        Python worker that exits keeps counting through its parent."""
        ticks = 0
        for pid in self.pids():
            f = _stat_fields(pid)
            if f is not None:
                # after ')': state ppid ... utime(11) stime(12) cutime(13) cstime(14)
                ticks += sum(int(x) for x in f[11:15])
        return ticks / _CLK_TCK

    def peak_rss_mb(self) -> float:
        """Sum over live processes of their own peak RSS (VmHWM)."""
        kb = 0
        for pid in self.pids():
            raw = _read(f"/proc/{pid}/status")
            for line in (raw or b"").splitlines():
                if line.startswith(b"VmHWM:"):
                    kb += int(line.split()[1])
        return kb / 1024.0

    def python_workers(self) -> int:
        """Processes of the tree running PySpark's daemon or a worker."""
        n = 0
        for pid in self.pids():
            cmd = _read(f"/proc/{pid}/cmdline") or b""
            if any(m in cmd for m in _PY_WORKER_MARKS):
                n += 1
        return n


def canary_s(n: int = 2_000_000) -> float:
    """Wall time of a fixed pure-Python integer loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def digest(df):
    """Collect (rows, low-half hash sum, high-half hash sum) of ``df``.

    Returns the digest and the aggregated DataFrame that produced it, so
    the executed plan's metrics can be read afterwards.  Doubles are
    rounded to 6 decimals before hashing so that an aggregation summing
    in another order still matches."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [
        F.round(F.col(f.name), 6) if isinstance(f.dataType, (T.DoubleType, T.FloatType))
        else F.col(f.name)
        for f in df.schema.fields
    ]
    agg = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)), F.lit(0)).alias("lo"),
        F.coalesce(F.sum(F.shiftright("h", 32)), F.lit(0)).alias("hi"),
    )
    # collect, not first(): first() would execute a different (limited)
    # plan, leaving agg's own plan without metrics
    (row,) = agg.collect()
    return (int(row["n"]), int(row["lo"]), int(row["hi"])), agg


#: SQL metric name → counter it adds to
_PLAN_METRICS = {
    "pythonTotalTime": "python_worker_ms",
    "pythonDataSent": "arrow_bytes_to_python",
    "pythonDataReceived": "arrow_bytes_from_python",
}


class SparkCounters:
    """Reads Spark's own counters for the jobs of a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()

    def stage_ids(self, group: str) -> list[int]:
        ids = set()
        for j in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def shape(self, groups: list[str]) -> tuple[int, int, int]:
        """(jobs, stages that ran tasks, tasks completed) — equal on every
        op of a workload unless an op was served from a cache."""
        jobs = stages = tasks = 0
        for g in groups:
            jobs += len(self.tracker.getJobIdsForGroup(g))
            for sid in self.stage_ids(g):
                info = self.tracker.getStageInfo(sid)
                if info is not None and info.numCompletedTasks > 0:
                    stages += 1
                    tasks += info.numCompletedTasks
        return jobs, stages, tasks

    def stage_counters(self, groups: list[str]) -> dict:
        """Executor run/CPU time, shuffle write, spill and task skew."""
        jvm, gw = self.sc._jvm, self.sc._gateway
        quantiles = gw.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        out = dict(executor_run_s=0.0, executor_cpu_s=0.0, shuffle_write_bytes=0,
                   spill_bytes=0, task_skew=1.0)
        heaviest = -1.0
        for g in groups:
            for sid in self.stage_ids(g):
                sds = self.store.stageData(sid, False, jvm.java.util.ArrayList(), True, quantiles)
                for k in range(sds.size()):
                    sd = sds.apply(k)
                    if sd.numCompleteTasks() == 0:
                        continue
                    run_ms = sd.executorRunTime()
                    out["executor_run_s"] += run_ms / 1e3
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    dist = sd.taskMetricsDistributions()
                    if run_ms > heaviest and dist.isDefined():
                        q = dist.get().executorRunTime()
                        med, mx = q.apply(0), q.apply(1)
                        heaviest = run_ms
                        out["task_skew"] = mx / med if med > 0 else 1.0
        return out

    @staticmethod
    def plan_counters(executed_df) -> dict:
        """Raw SQL metrics summed over the final (adaptive) physical plan
        of a DataFrame that has been collected."""
        out = {v: 0 for v in _PLAN_METRICS.values()}
        todo = [executed_df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if "QueryStage" in cls:
                todo.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                continue  # its metrics belong to the exchange it reuses
            metrics = node.metrics()
            for name, key in _PLAN_METRICS.items():
                m = metrics.get(name)
                if m.isDefined():
                    out[key] += m.get().value()
            it = node.children().iterator()
            while it.hasNext():
                todo.append(it.next())
        return out


class Tracer:
    """Spans kept in memory; each also sets a Spark job group so the
    status store can attribute Spark's counters to the call."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | str, group: str | None = None):
        sid = len(self.spans)
        rec = dict(id=sid, name=name, op=op, group=group,
                   parent=self._stack[-1] if self._stack else None)
        self.spans.append(rec)
        self._stack.append(sid)
        if group is not None:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def unattributed_s(self, op) -> float:
        """Wall time of ``op``'s root span that no layer span covers."""
        spans = [s for s in self.spans if s["op"] == op]
        root = next(s for s in spans if s["parent"] is None)
        covered = sum(s["end"] - s["start"] for s in spans if s["parent"] == root["id"])
        return root["end"] - root["start"] - covered


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
