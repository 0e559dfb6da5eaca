"""Spans and per-layer counters, taken from outside the engine.

Everything here observes the package through its public surface: wall
time around calls, Spark job groups read back through
``sc.statusTracker()`` and the JVM ``AppStatusStore`` (which works with
the UI disabled), the executed plan's tree string, block-manager storage,
``/proc`` peak RSS, and the repo root on disk. ``Tracer.overhead_s``
accumulates the time spent in this bookkeeping.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: AppStatusStore StageData accessors → counter name
STAGE_COUNTERS = {
    "numTasks": "tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ms",  # nanoseconds in the store, converted below
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
}
EXCHANGES = frozenset({"Exchange", "BroadcastExchange", "ShuffleExchange"})
_NODE_RE = re.compile(r"(?:\*\(\d+\) )?(\w+)")  # node name after the codegen stage marker


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


class Tracer:
    """In-memory spans plus Spark and disk probes for one traced run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.overhead_s = 0.0

    def attach(self, spark) -> None:
        """Probe this session from now on."""
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def timed(self, fn, *args):
        """``fn(*args)``, its time counted as tracing overhead."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, obj, name: str, prefix: str) -> None:
        """Time every call of ``obj.name`` as a ``prefix.name`` span (an
        instance attribute, so only this object is affected)."""
        fn = getattr(obj, name)

        def timed(*args, **kwargs):
            with self.span(f"{prefix}.{name}"):
                return fn(*args, **kwargs)

        setattr(obj, name, timed)

    # -- Spark job groups ----------------------------------------------------
    def group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    def group_counters(self, gid: str) -> dict:
        """Jobs, stages that ran, and summed stage metrics of one job group."""
        return self.timed(self._group_counters, gid)

    def _group_counters(self, gid: str) -> dict:
        out = {"jobs": 0, "stages": 0, **{v: 0 for v in STAGE_COUNTERS.values()}}
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted (skipped): no attempt recorded
                    continue
                if str(sd.status()) in ("SKIPPED", "PENDING"):
                    continue
                out["stages"] += 1
                for acc, key in STAGE_COUNTERS.items():
                    out[key] += int(getattr(sd, acc)())
        out["executor_cpu_ms"] //= 1_000_000
        return out

    def plan_counts(self, df) -> dict:
        """Exchange nodes and cached-relation scans in the executed plan."""
        return plan_counts(self.timed(lambda: df._jdf.queryExecution().executedPlan().toString()))

    def cached_bytes(self) -> int:
        infos = self.timed(lambda: self.sc._jsc.sc().getRDDStorageInfo())
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def rss_pids(self) -> list[int]:
        return [os.getpid(), int(self.spark._jvm.ProcessHandle.current().pid())]

    # -- disk ----------------------------------------------------------------
    def tree(self, root: str) -> dict[str, tuple[int, int]]:
        """path → (size, mtime_ns) of every file under ``root``."""
        return self.timed(_tree, root)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def plan_counts(plan: str) -> dict[str, int]:
    """Count, in a physical plan's tree string, the Exchange nodes that run
    and the InMemoryTableScan nodes (one per read of a cached relation).
    The plan a cached relation was built from is printed beneath its
    InMemoryRelation node; it does not run when the cache is read, so that
    subtree is skipped."""
    out = {"exchanges": 0, "cached_relations": 0}
    skip_below = None  # tree depth of the InMemoryRelation being skipped
    for line in plan.splitlines():
        node = line.lstrip(" :+-")
        depth = len(line) - len(node)
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = None
        m = _NODE_RE.match(node)
        name = m.group(1) if m else ""
        if name == "InMemoryRelation":
            skip_below = depth
        elif name == "InMemoryTableScan":
            out["cached_relations"] += 1
        elif name in EXCHANGES:
            out["exchanges"] += 1
    return out


def _tree(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def tree_bytes(root: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                continue
    return total


def written(before: dict, after: dict) -> dict[str, int]:
    """Files created or rewritten between two ``Tracer.tree`` snapshots,
    split into data (parquet) and metadata (everything else)."""
    out = {"data_bytes": 0, "data_files": 0, "meta_bytes": 0, "meta_files": 0}
    for p, st in after.items():
        if before.get(p) == st:
            continue
        kind = "data" if p.endswith(".parquet") else "meta"
        out[f"{kind}_bytes"] += st[0]
        out[f"{kind}_files"] += 1
    return out
