"""Measurement at the layer boundaries, taken from the benchmark's side.

- ``Spans``: timing shims installed over the engine's public layer-
  boundary functions (the library itself is not edited). Each call
  records a span (name, start, end, parent); per-layer self time is a
  span's duration minus the part its child spans cover.
- ``JobGroups``: Spark job/stage/task counts per benchmark op, read from
  the status tracker under a job group set around each call.
- Process counters read from ``/proc`` and the JVM's MXBeans: peak RSS
  (VmHWM) of the driver, the JVM and the Python workers, CPU time of the
  Python workers, and JVM GC time.
"""

from __future__ import annotations

import functools
import importlib
import os
import statistics
import sys
import time

# (layer, module, attribute) — a dotted attribute names a class method
BOUNDARIES: tuple[tuple[str, str, str], ...] = (
    ("table", "parquet_rewriter_spark.table", "SortedTable.create"),
    ("table", "parquet_rewriter_spark.table", "SortedTable.read"),
    ("table", "parquet_rewriter_spark.table", "SortedTable.read_range"),
    ("table", "parquet_rewriter_spark.table", "SortedTable.read_where"),
    ("table", "parquet_rewriter_spark.table", "SortedTable._write_sorted"),
    ("table", "parquet_rewriter_spark.table", "SortedTable._adopt_staged"),
    ("table", "parquet_rewriter_spark.table", "SortedTable._commit_manifest"),
    ("stats", "parquet_rewriter_spark.stats", "collect_file_stats"),
    ("merge", "parquet_rewriter_spark.operators.merge", "merge_into_table"),
    ("merge", "parquet_rewriter_spark.operators.merge", "plan_dirty_files"),
    ("merge", "parquet_rewriter_spark.operators.splice", "splice_merge"),
    ("compact", "parquet_rewriter_spark.operators.compact", "compact"),
    ("sidecar", "parquet_rewriter_spark.operators.bloom", "build_blooms"),
    ("sidecar", "parquet_rewriter_spark.operators.bloom", "candidate_files"),
    ("sidecar", "parquet_rewriter_spark.operators.bloom", "read_point"),
    ("sidecar", "parquet_rewriter_spark.operators.distinct_sketch", "build_sketches_for"),
    ("sidecar", "parquet_rewriter_spark.operators.distinct_sketch", "approx_distinct_range"),
    ("sidecar", "parquet_rewriter_spark.operators.driftstats", "build_drift_for"),
)
LAYERS = ("session", "table", "stats", "merge", "compact", "sidecar", "catalog")


class Spans:
    """In-memory span log plus the shims that feed it.

    Single-threaded by construction (the benchmark is one closed-loop
    client), so the parent of a span is the span open on the stack.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def shim(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return shim

    def install(self) -> None:
        """Wrap every boundary in ``BOUNDARIES``. A function is also
        replaced wherever an engine module bound it by name at import,
        so call sites that imported it directly go through the shim."""
        for layer, modname, attr in BOUNDARIES:
            mod = importlib.import_module(modname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                orig = owner.__dict__[meth]
                if isinstance(orig, classmethod):
                    shim = classmethod(self.wrap(orig.__func__, attr, layer))
                else:
                    shim = self.wrap(orig, attr, layer)
                self._set(owner, meth, shim)
                continue
            orig = getattr(mod, attr)
            shim = self.wrap(orig, attr, layer)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("parquet_rewriter_spark") \
                        and getattr(m, attr, None) is orig:
                    self._set(m, attr, shim)

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    def self_seconds(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for i, s in enumerate(self.spans):
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def median_s(self, name: str) -> float:
        """Median duration of the spans of one boundary function."""
        xs = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return statistics.median(xs) if xs else float("nan")


class _SpanCtx:
    def __init__(self, spans: Spans, name: str, layer: str):
        self.s, self.name, self.layer = spans, name, layer

    def __enter__(self):
        s = self.s
        self.idx = len(s.spans)
        s.spans.append({
            "name": self.name, "layer": self.layer,
            "start": time.perf_counter(), "end": None,
            "parent": s._stack[-1] if s._stack else None,
        })
        s._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        s = self.s
        s._stack.pop()
        s.spans[self.idx]["end"] = time.perf_counter()
        return False


class JobGroups:
    """Spark jobs/stages/tasks run under a job group set around a call."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.n = 0

    def begin(self, label: str) -> str:
        self.n += 1
        group = f"perfbench-{self.n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def end(self, group: str) -> dict[str, int]:
        self.sc.setJobGroup("perfbench-idle", "between ops")
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def _py_workers():
    """(pid, /proc stat fields) of the Spark Python workers of this run:
    processes of our session whose command line is a pyspark daemon or
    worker."""
    sid = os.getsid(0)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and (b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd):
            yield pid, fields


def python_worker_cpu_s() -> float:
    """CPU seconds of the Spark Python workers (live ones plus the
    workers their daemon has already reaped)."""
    ticks = sum(sum(int(x) for x in f[11:15]) for _, f in _py_workers())  # u/s/cu/cs time
    return ticks / os.sysconf("SC_CLK_TCK")


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _run_pids(jvm_pid: int) -> list:
    return [os.getpid(), jvm_pid] + [pid for pid, _ in _py_workers()]


def reset_peak_rss(jvm_pid: int) -> None:
    """Restart the VmHWM count of the driver Python, the JVM and the
    Python workers at their current RSS."""
    for pid in _run_pids(jvm_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of VmHWM over the driver Python, the JVM and the live Python
    workers."""
    return sum(_hwm_kb(pid) for pid in _run_pids(jvm_pid)) / 1024.0


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

