"""Measurement primitives shared by the three workloads.

Everything here runs in the benchmark's own process and observes the
engine only through public calls: spans around those calls, Spark job
groups plus the status store for jobs, stages, tasks and exchange
bytes, ``queryExecution().tracker()`` for Catalyst phase times, the
GC MXBeans and ``/proc`` for memory.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import time
from contextlib import contextmanager
from decimal import Decimal

import numpy as np
import pandas as pd

MB = 1024 * 1024


class Tracer:
    """In-memory spans: name, start, end, parent span index, op id.

    Disabled, every call is a no-op, so the untraced runs pay nothing
    but a context-manager entry per layer boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "parent": parent, "op": self.op_id})
        self._stack.append(idx)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].update(start=start, end=time.perf_counter())

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds.  Self time is a
        span's duration minus the time its child spans cover (children
        of one span never overlap: the client is single-threaded)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child_time[i]
        return out


class JobGroups:
    """Tags the Spark jobs of one traced block with a job group and
    reads back what they did.  Untraced, no group is set."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = 0

    @contextmanager
    def group(self, label: str):
        if not self.enabled:
            yield None
            return
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc._jsc.clearJobGroup()

    def summary(self, *gids: str | None) -> dict[str, float]:
        """Jobs, completed stages and tasks, shuffle-write and
        disk-spill MB and summed task run time over the groups."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = 0
        stage_ids: set[int] = set()
        for gid in gids:
            if gid is None:
                continue
            for jid in tracker.getJobIdsForGroup(gid):
                jobs += 1
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
        out = {"jobs": jobs, "stages": 0, "tasks": 0, "shuffle_mb": 0.0,
               "spill_mb": 0.0, "task_run_s": 0.0}
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_mb"] += sd.shuffleWriteBytes() / MB
            out["spill_mb"] += sd.diskBytesSpilled() / MB
            out["task_run_s"] += sd.executorRunTime() / 1000.0
        return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the DataFrame's
    executed QueryExecution (read after its action)."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def cache_mb(spark) -> float:
    """Storage in use by cached RDDs and DataFrames (memory + disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def gc_seconds(spark) -> float:
    """Total GC time of the JVM since it started."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vmhwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def process_age_s() -> float:
    """Seconds since this process started, from /proc (clock-tick
    resolution), so set-up time counts interpreter start and imports."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5); fields[0] is field 3
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Result checks


def _cell(v):
    """One value in comparable form.  The two engines' pandas frames
    differ in dtypes (Decimal vs float, date vs datetime64, numpy
    scalars and arrays), never in the values the SQL defines."""
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, np.datetime64):
        return None if np.isnat(v) else pd.Timestamp(v).isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (float, Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    return v


def _key(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else repr(v)


def canon(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Column names sorted, rows as tuples of comparable cells, sorted:
    the comparison ignores column and row order, as the oracle tests
    do."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((v is None, _key(v)) for v in r))
    return cols, rows


def _equal(a, b) -> bool:
    """Floats match within 1e-6 relative: the engines sum in different
    orders."""
    numbers = (int, float)
    if (isinstance(a, float) or isinstance(b, float)) and isinstance(a, numbers) and isinstance(b, numbers):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else why not.  Two
    empty results are a mismatch: an empty-vs-empty comparison can never
    fail, so it proves nothing."""
    acols, arows = canon(actual)
    ecols, erows = canon(expected)
    if acols != ecols:
        return f"columns {acols} != {ecols}"
    if not arows and not erows:
        return "both results are empty"
    if len(arows) != len(erows):
        return f"{len(arows)} rows != {len(erows)} expected"
    for a, e in zip(arows, erows):
        if len(a) != len(e) or not all(_equal(x, y) for x, y in zip(a, e)):
            return f"row {a} != expected {e}"
    return None


def digest(pdf: pd.DataFrame) -> dict:
    """Row count and an order-insensitive sha256 of a result, compared
    to a digest recorded in golden.json."""
    _, rows = canon(pdf)
    text = "\n".join(repr(tuple(_key(v) for v in r)) for r in rows)
    return {"rows": len(rows), "sha256": hashlib.sha256(text.encode()).hexdigest()}
