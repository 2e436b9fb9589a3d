"""Measurement plumbing shared by the workloads: spans, sample
statistics, the plateau rule, peak RSS and Spark's own counters.

Nothing here imports the program; the workloads hand it the objects to
wrap. Tracing is off unless ``Tracer(enabled=True)``: then every span
costs one ``perf_counter`` pair and a list append, and the workloads
read Spark's counters after each operation, outside its timing.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import pickle
import statistics
import subprocess
import sys
import threading
import time

TAIL_BEYOND = 10  # a tail percentile needs this many samples above it
COUNTER_KEYS = ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "scan_b", "shuffle_b", "spill_b")


# --- sample statistics ---------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs) -> tuple[float, str]:
    """The highest percentile that still has ``TAIL_BEYOND`` samples
    beyond it, and its rank as ``"p<q> of <n>"``."""
    s = sorted(xs)
    if len(s) <= TAIL_BEYOND:
        raise ValueError(f"{len(s)} samples leave no tail with {TAIL_BEYOND} beyond it")
    i = len(s) - TAIL_BEYOND - 1
    return float(s[i]), f"p{100 * (i + 1) // len(s)} of {len(s)}"


def plateau_gap(xs) -> float:
    """Relative gap between the median of the first third of the timed
    samples and the median of the last third."""
    k = max(1, len(xs) // 3)
    first, last = median(xs[:k]), median(xs[-k:])
    return abs(last - first) / first


def check_plateau(name: str, xs, bound: float) -> None:
    """Fail the run when its timed phase was still on the warm-up slope
    (or drifted): first-third and last-third medians must agree within
    the metric's own bound."""
    gap = plateau_gap(xs)
    if gap > bound:
        raise PlateauError(
            f"{name}: first-third vs last-third median gap {gap:.1%} > bound "
            f"{bound:.0%} over {len(xs)} samples — timed phase not on the plateau: "
            f"{[round(x, 3) for x in xs]}"
        )


class PlateauError(RuntimeError):
    pass


# --- processes and the host ------------------------------------------------


_CHILD = (
    "import importlib, pickle, sys; sys.path.insert(0, sys.argv[1]); "
    "mod, fn, args = pickle.loads(sys.stdin.buffer.read()); "
    "sys.stdout.buffer.write(pickle.dumps(getattr(importlib.import_module(mod), fn)(*args)))"
)


def in_child(module: str, fn: str, *args):
    """``module.fn(*args)`` in a fresh interpreter (no JVM, no imported
    pyspark), waited for; returns its result. The generators run this
    way so their frames never count in the driver's peak RSS."""
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, here],
        input=pickle.dumps((module, fn, args)),
        stdout=subprocess.PIPE,
        check=True,
    )
    return pickle.loads(out.stdout)


def host_probe() -> float:
    """Seconds for a fixed pure-Python loop that touches no part of the
    program: a witness of the host's speed at the time of the run."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t


# --- memory ----------------------------------------------------------------


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of one process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak RSS of this driver process and of its JVM child, in MB; the
    metric is their sum. Read before the session stops: the JVM's
    counter dies with it."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return {"driver": vm_hwm_kb() / 1024.0, "jvm": vm_hwm_kb(jvm_pid) / 1024.0}


# --- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and operation id.

    Parents follow a per-thread stack, because ``foreachBatch`` bodies
    run on py4j callback threads. With ``enabled=False`` every method is
    a no-op and ``span`` returns a shared null context."""

    _NULL = contextlib.nullcontext()

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.spans_by_id: dict[int, dict] = {}
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, op: str | None = None, parent: int | None = None):
        """A span around the ``with`` body. ``parent`` names the parent
        span when it was opened on another thread; otherwise it is the
        innermost open span of this thread."""
        if not self.enabled:
            return self._NULL
        return self._span(name, op, parent)

    @contextlib.contextmanager
    def _span(self, name: str, op: str | None, parent: int | None):
        stack = self._stack()
        sid = next(self._ids)
        if stack:
            parent = stack[-1]
        if op is None and parent is not None:
            op = self.spans_by_id[parent]["op"]
        rec = {"id": sid, "name": name, "parent": parent, "op": op, "start": time.perf_counter()}
        with self._lock:
            self.spans.append(rec)
            self.spans_by_id[sid] = rec
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, obj, method: str, name: str) -> None:
        """Put a span around ``obj.method`` (an instance attribute
        shadowing the bound method; the object's class is untouched)."""
        if not self.enabled:
            return
        fn = getattr(obj, method)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, method, traced)

    # --- reduction ---
    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def self_times(self, name: str) -> list[float]:
        """Per-span self time: duration minus the part of it that child
        spans cover (children of one span never overlap: one thread)."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            s["end"] - s["start"] - kids.get(s["id"], 0.0)
            for s in self.spans
            if s["name"] == name and "end" in s
        ]

    def child_sums(self, parent: str, child: str) -> list[float]:
        """For each span named ``parent``, the summed duration of its
        direct children named ``child``."""
        sums = {s["id"]: 0.0 for s in self.spans if s["name"] == parent and "end" in s}
        for s in self.spans:
            if s["name"] == child and s["parent"] in sums and "end" in s:
                sums[s["parent"]] += s["end"] - s["start"]
        return list(sums.values())

    def layer_table(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for name in sorted({s["name"] for s in self.spans}):
            d = self.durations(name)
            st = self.self_times(name)
            out[name] = {
                "calls": len(d),
                "total_s": sum(d),
                "self_s": sum(st),
                "median_s": median(d) if d else 0.0,
            }
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# --- Spark's own counters ------------------------------------------------------


class SparkCounters:
    """Jobs, stages, tasks and stage metrics for a set of job groups,
    read from ``statusTracker()`` and the application status store.
    Both work with ``spark.ui.enabled=false``. Call after the work is
    done: the listener bus is drained before the store is read."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    def groups(self, groups) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        st = self.sc.statusTracker()
        tot = dict.fromkeys(COUNTER_KEYS, 0)
        for g in groups:
            for j in st.getJobIdsForGroup(g):
                info = st.getJobInfo(j)
                if info is None:
                    continue
                tot["jobs"] += 1
                for sid in info.stageIds:
                    sd = self._store.lastStageAttempt(sid)
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped: its output was reused
                    tot["stages"] += 1
                    tot["tasks"] += sd.numCompleteTasks()
                    tot["run_ms"] += sd.executorRunTime()
                    tot["cpu_ns"] += sd.executorCpuTime()
                    tot["scan_b"] += sd.inputBytes()
                    tot["shuffle_b"] += sd.shuffleWriteBytes()
                    tot["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return tot
