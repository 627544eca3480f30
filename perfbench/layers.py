"""Measurement helpers: spans, Spark plan metrics, the UDF profile and /proc.

All of it observes the program from outside: the benchmark records spans
around its own calls into each layer, and reads what Spark already counts
(SQL metrics on the executed plan, streaming progress, the perf UDF
profiler) and what the kernel reports about processes under ``/proc``.
"""

from __future__ import annotations

import json
import os
import signal
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans kept in memory and written out as JSON at the end of a run.

    A span is (id, name, parent id, start, end) with times in seconds from
    the tracer's creation. A disabled tracer records nothing.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans}, indent=1))


# --------------------------------------------------------------------------
# Spark SQL metrics on an executed physical plan (through py4j).
# --------------------------------------------------------------------------

_PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState")


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _metric(node, key: str) -> float | None:
    """A node's SQL metric in base units: ms for timings, bytes for sizes."""
    metrics = node.metrics()
    if not metrics.contains(key):
        return None
    m = metrics.apply(key)
    value = m.value()
    return value / 1e6 if m.metricType() == "nsTiming" else float(value)


def _children(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    return list(_seq(node.children()))


def _shuffle_partition_bytes(exchange) -> list[int] | None:
    """Bytes written to each reducer partition of a finished shuffle."""
    try:
        tracker = exchange.sparkContext().env().mapOutputTracker()
        stats = tracker.getStatistics(exchange.shuffleDependency())
        return [int(b) for b in stats.bytesByPartitionId()]
    except Exception:  # the shuffle was never run or is already cleaned up
        return None


def plan_metrics(plan) -> dict[str, float]:
    """Sum the metrics the benchmark reports over the nodes of ``plan``.

    Exchange tasks are the reduce-side tasks that read the shuffle: AQE's
    partition specs where an ``AQEShuffleRead`` coalesced the shuffle, else
    one per shuffle partition. A task is empty when its partitions hold no
    bytes.
    """
    out = {
        "exchange.tasks": 0.0, "exchange.empty_tasks": 0.0,
        "exchange.shuffle_bytes": 0.0, "exchange.shuffle_write_ms": 0.0,
        "sort.ms": 0.0, "sort.peak_mb": 0.0,
        "python.boot_ms": 0.0, "python.init_ms": 0.0, "python.total_ms": 0.0,
        "python.bytes_in": 0.0, "python.bytes_out": 0.0, "python.rows_out": 0.0,
        "scan.rows": 0.0,
    }

    def visit(node, specs=None):
        # ``specs``: (start, end) reducer ranges of the AQEShuffleRead above.
        name = node.nodeName()
        cls = node.getClass().getSimpleName()
        if cls == "AQEShuffleReadExec":
            specs = []
            for s in _seq(node.partitionSpecs()):
                if s.getClass().getSimpleName() == "CoalescedPartitionSpec":
                    specs.append((s.startReducerIndex(), s.endReducerIndex()))
                else:
                    specs.append((s.reducerIndex(), s.reducerIndex() + 1))
        elif cls == "ShuffleExchangeExec":
            out["exchange.shuffle_bytes"] += _metric(node, "shuffleBytesWritten") or 0
            out["exchange.shuffle_write_ms"] += _metric(node, "shuffleWriteTime") or 0
            part_bytes = _shuffle_partition_bytes(node)
            if part_bytes is not None:
                specs = specs or [(i, i + 1) for i in range(len(part_bytes))]
                out["exchange.tasks"] += len(specs)
                out["exchange.empty_tasks"] += sum(1 for a, b in specs if sum(part_bytes[a:b]) == 0)
            else:
                out["exchange.tasks"] += node.outputPartitioning().numPartitions()
        elif cls == "SortExec":
            out["sort.ms"] += _metric(node, "sortTime") or 0
            out["sort.peak_mb"] += (_metric(node, "peakMemory") or 0) / 2**20
        elif name in _PYTHON_NODES:
            for key, metric in (
                ("python.boot_ms", "pythonBootTime"), ("python.init_ms", "pythonInitTime"),
                ("python.total_ms", "pythonTotalTime"), ("python.bytes_in", "pythonDataSent"),
                ("python.bytes_out", "pythonDataReceived"),
                ("python.rows_out", "pythonNumRowsReceived"),
            ):
                out[key] += _metric(node, metric) or 0
        elif cls == "FileSourceScanExec":
            out["scan.rows"] += _metric(node, "numOutputRows") or 0
        passes_specs = cls == "AQEShuffleReadExec" or cls.endswith("QueryStageExec")
        for child in _children(node):
            visit(child, specs if passes_specs else None)

    visit(plan)
    return out


# --------------------------------------------------------------------------
# The perf UDF profiler (spark.sql.pyspark.udf.profiler=perf).
# --------------------------------------------------------------------------

KERNEL_FUNCTION = "_fold_arrays"
_SERDE_FILES = ("serializers.py", "conversion.py", "types.py")


def profile_split(spark) -> dict[str, float]:
    """Kernel and serde seconds in the worker profiles collected so far.

    ``worker.kernel_s`` is the cumulative time of the fold kernel.
    ``worker.serde_s`` is the cumulative time of PySpark's Arrow/pandas
    (de)serialization frames whose caller is not itself such a frame, so
    nested conversions count once. The profiler only sees what runs inside
    the UDF calls it wraps, so conversions done outside them do not show.
    """
    kernel = serde = 0.0
    for stats in spark._profiler_collector._perf_profile_results.values():
        for (fname, _line, func), (_cc, _nc, _tt, ct, callers) in stats.stats.items():
            if func == KERNEL_FUNCTION:
                kernel += ct
            elif fname in _SERDE_FILES and not any(c[0] in _SERDE_FILES for c in callers):
                serde += ct
    return {"worker.kernel_s": kernel, "worker.serde_s": serde}


# --------------------------------------------------------------------------
# /proc readers (Linux).
# --------------------------------------------------------------------------


def cpu_times() -> list[int]:
    """Aggregate jiffies from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time the hypervisor stole between two readings."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return delta[7] / total if total and len(delta) > 7 else 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            found.append(child)
            todo.append(child)
    return found


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_workers(pid: int) -> list[int]:
    """PySpark worker processes (and their daemon) below ``pid``."""
    return [p for p in descendants(pid) if "pyspark" in _cmdline(p) and "java" not in _cmdline(p)]


def peak_rss_mb(pids: list[int]) -> float:
    """Largest ``VmHWM`` (peak resident set) among ``pids``, in MiB."""
    best = 0.0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024)
        except OSError:
            continue
    return best


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_ended(pids: list[int], grace: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; after ``grace``
    seconds send SIGTERM, and SIGKILL five seconds later."""
    deadline = time.monotonic() + grace
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
            deadline = time.monotonic() + 5
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not any(_alive(p) for p in pids):
            return
