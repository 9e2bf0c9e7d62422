"""Measurement probes that observe the engine from outside.

* ``TreeSampler`` -- CPU seconds and memory (PSS) of this process and
  every descendant (the Spark JVM, its Python daemon and workers), read from
  ``/proc``.
* ``SparkCounters`` -- per-job-group task counters from the driver's status
  store (works with the UI off) plus the JVM's garbage-collector MXBeans.
* ``Tracer`` -- in-memory layer spans (name, start, end, parent); each span
  tags the Spark jobs it launches with its own job group so the status-store
  counters can be attributed to the layer afterwards.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024.0 * 1024.0


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat.rsplit(")", 1)[1].split()
        # after the command field: state(0) ppid(1) ... utime(11) stime(12)
        # cutime(13) cstime(14)
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        out[int(name)] = (int(f[1]), ticks / _TICK)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers are
    split between them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c) in table.items():
        kids.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(kids.get(pid, []))
    return seen


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    return _tree(_proc_table(), root)


class TreeSampler:
    """Process-tree CPU (exact, from ``/proc``) and a sampled memory peak.

    ``cpu_s()`` sums user+sys time of every live process in the tree plus
    the time of children they already reaped, so a short-lived Python worker
    is counted once, whether or not it is still alive."""

    def __init__(self, interval_s: float = 0.1):
        self.root = os.getpid()
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu_s(self) -> float:
        table = _proc_table()
        return sum(table[p][1] for p in _tree(table, self.root) if p in table)

    def mem_bytes(self) -> int:
        return sum(_pss_bytes(p) for p in tree_pids(self.root))

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = self.mem_bytes()

    def peak_mb(self) -> float:
        with self._lock:
            return max(self._peak, self.mem_bytes()) / MB

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            mem = self.mem_bytes()
            with self._lock:
                self._peak = max(self._peak, mem)

    def __enter__(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


# status-store fields summed per job group: (output key, StageData accessor,
# scale to seconds / MB)
_STAGE_FIELDS = (
    ("cpu_s", "executorCpuTime", 1e-9),
    ("task_s", "executorRunTime", 1e-3),
    ("shuffle_write_mb", "shuffleWriteBytes", 1.0 / MB),
    ("shuffle_read_mb", "shuffleReadBytes", 1.0 / MB),
    ("spill_mb", "diskBytesSpilled", 1.0 / MB),
)


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._mgmt = self.sc._jvm.java.lang.management.ManagementFactory

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has applied every finished job's
        events to the status store."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def gc_s(self) -> float:
        beans = self._mgmt.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def group(self, group: str) -> dict:
        """Summed task counters, executed-stage count and job count of every
        Spark job tagged with ``group``.  Call ``drain()`` first."""
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {k: 0.0 for k, _a, _s in _STAGE_FIELDS}
        out["spark_stages"] = 0
        out["spark_jobs"] = len(job_ids)
        store = self._jsc.statusStore()
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store's retention window
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["spark_stages"] += 1
            for key, attr, scale in _STAGE_FIELDS:
                out[key] += getattr(st, attr)() * scale
        return out

    def cached_rdds(self) -> int:
        """RDDs that still hold cached blocks."""
        return sum(
            1 for info in self._jsc.getRDDStorageInfo() if info.numCachedPartitions() > 0
        )

    def drop_cached_rdds(self) -> None:
        for rdd in self.sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)


class Tracer:
    """Layer spans kept in memory.  ``span(name)`` is a context manager that
    tags the jobs run inside it with a job group unique to the span, so a
    layer's counters are the sum over its spans' groups; nesting restores
    the parent's group on exit.  Spans named ``_...`` hold the tracer's own
    bookkeeping and count towards no layer."""

    def __init__(self, counters: SparkCounters, op_id: str):
        self.counters = counters
        self.op_id = op_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def open(self, name: str) -> dict:
        sp = {
            "name": name,
            "group": f"{self.op_id}/{len(self.spans)}/{name}",
            "parent": self._stack[-1]["group"] if self._stack else None,
            "start": time.perf_counter(),
            "gc0": self.counters.gc_s(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.counters.set_group(sp["group"])
        return sp

    def close(self, sp: dict) -> None:
        if not self._stack or self._stack[-1] is not sp:
            raise RuntimeError(f"span {sp['name']} closed out of order")
        sp["end"] = time.perf_counter()
        sp["gc1"] = self.counters.gc_s()
        self._stack.pop()
        self.counters.set_group(self._stack[-1]["group"] if self._stack else self.op_id)

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def layers(self) -> dict[str, dict]:
        """Per-layer totals: self wall and self GC (span minus its child
        spans) plus the status-store counters of the layer's job groups."""
        self.counters.drain()
        child_wall: dict[str, float] = {}
        child_gc: dict[str, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                child_wall[sp["parent"]] = child_wall.get(sp["parent"], 0.0) + (
                    sp["end"] - sp["start"]
                )
                child_gc[sp["parent"]] = child_gc.get(sp["parent"], 0.0) + (
                    sp["gc1"] - sp["gc0"]
                )
        out: dict[str, dict] = {}
        for sp in self.spans:
            if sp["name"].startswith("_"):
                continue
            acc = out.setdefault(sp["name"], {"wall_s": 0.0, "gc_s": 0.0})
            acc["wall_s"] += sp["end"] - sp["start"] - child_wall.get(sp["group"], 0.0)
            acc["gc_s"] += sp["gc1"] - sp["gc0"] - child_gc.get(sp["group"], 0.0)
            for k, v in self.counters.group(sp["group"]).items():
                acc[k] = acc.get(k, 0) + v
        for acc in out.values():
            acc["wait_s"] = acc["task_s"] - acc["cpu_s"]
        return out

    def covered_s(self) -> float:
        return sum(
            sp["end"] - sp["start"]
            for sp in self.spans
            if sp["parent"] is None and not sp["name"].startswith("_")
        )

    def groups(self) -> list[str]:
        """Job groups of the op itself (bookkeeping spans excluded)."""
        return [self.op_id] + [
            sp["group"] for sp in self.spans if not sp["name"].startswith("_")
        ]
