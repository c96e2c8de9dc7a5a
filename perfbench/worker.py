"""One benchmark run inside the environment ``run.py`` prepared.

Usage (through the launcher): ``python3 perfbench/run.py --workload
merge_stream --seed 1 --seconds 12 --trace 0``.

Phases: Spark session start; input generation and expected answers
(untimed); the base state built three times (set-up reports the median
build); a warm-up op of every class (set-up counts the ops' own time);
the timed closed loop; the correctness checks. The result JSON goes to
``--out``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import shutil
import statistics
import sys
import time

import probe
import workloads
from bench import _reset_session_litter

BUILDS = 3


class Phase:
    """Per-op records of one timed closed loop."""

    def __init__(self) -> None:
        self.ops: list[dict] = []
        self.busy_s = 0.0

    def add(self, rec: dict) -> None:
        self.ops.append(rec)
        self.busy_s += rec["s"]

    def extend(self, other: "Phase") -> None:
        for rec in other.ops:
            self.add(rec)

    def latencies(self, cls: str | None = None, kind: str | None = None) -> list[float]:
        return [o["s"] for o in self.ops
                if (cls is None or o["cls"] == cls) and (kind is None or o["kind"] == kind)]

    def class_median(self, cls: str) -> float:
        xs = self.latencies(cls)
        return statistics.median(xs) if xs else float("nan")

    def class_counts(self, cls: str, key: str) -> float | None:
        xs = [o[key] for o in self.ops if o["cls"] == cls and key in o]
        return statistics.median(xs) if xs else None

    def classes(self) -> list[str]:
        return sorted({o["cls"] for o in self.ops})

    def ops_per_s(self) -> float:
        return len(self.ops) / self.busy_s if self.busy_s else 0.0

    def latency_geomean_s(self) -> float:
        """Geometric mean over every op of the loop. The loop runs whole
        cycles, so each class weighs in by its share of the cycle (on
        catalog_mix: the same for every query)."""
        xs = self.latencies()
        return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def run_phase(spark, wl, ops, seconds: float, jobs: probe.JobGroups | None,
              spans: probe.Spans | None, failures: list[str], min_cycles: int = 2) -> Phase:
    """Closed loop: issue the next op only after the previous one
    returned, in whole cycles of the schedule, for about ``seconds`` of
    op time. Cache clearing and GC between ops stay outside the measured
    time."""
    cycle = len(wl.CYCLE)
    phase = Phase()
    cycle_start = 0.0
    for i, op in enumerate(ops):
        if i % cycle == 0:
            # whole cycles only, at least two, so every run measures the
            # same op mix; start another one unless it would end mostly
            # past the budget
            if i >= min_cycles * cycle and phase.busy_s + (phase.busy_s - cycle_start) / 2 > seconds:
                break
            cycle_start = phase.busy_s
        group = jobs.begin(op.cls) if jobs else None
        err = None
        t0 = time.perf_counter()
        try:
            if spans is not None:
                layer = "catalog" if wl.name == "catalog_mix" else "session"
                with spans.span(op.cls, layer):
                    res = op.run()
            else:
                res = op.run()
        except Exception as ex:  # noqa: BLE001 - a failed op is counted, not fatal
            err = f"{op.cls}: {type(ex).__name__}: {str(ex)[:300]}"
        dt = time.perf_counter() - t0
        rec = {"cls": op.cls, "kind": op.kind, "s": dt}
        if group is not None:
            rec.update(jobs.end(group))
        if err is None:
            try:
                err = op.check(res)
            except Exception as ex:  # noqa: BLE001
                err = f"{op.cls} check: {type(ex).__name__}: {str(ex)[:300]}"
        if err:
            failures.append(err)
        phase.add(rec)
        _reset_session_litter(spark)
    return phase


def _finite(v):
    """A figure with no samples in this run (NaN) is written as null."""
    return None if isinstance(v, float) and math.isnan(v) else v


def load_spec() -> dict:
    """The benchmark's declared metrics (BENCHMARK.json at the repo root)."""
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json")) as f:
        return json.load(f)


def box_state() -> dict:
    """Load average and the box's cumulative CPU tick counters."""
    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load = None
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {"load_avg": load, "ticks": ticks}


def steal_frac(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args(argv)

    box0 = box_state()
    box = {"nproc": os.cpu_count(), "load_avg_start": box0["load_avg"],
           "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
           "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS")}
    t0 = time.perf_counter()
    from parquet_rewriter_spark.session import get_spark

    spark = get_spark(app_name="perfbench",
                      extra_confs={"spark.ui.showConsoleProgress": "false"})
    spark.range(1).count()
    t_session = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid

    wl = workloads.WORKLOADS[args.workload](spark, args.work, args.seed)
    t = time.perf_counter()
    wl.prepare()
    t_prepare = time.perf_counter() - t

    builds = []
    states = os.path.join(args.work, "states")
    for i in range(BUILDS):
        dest = os.path.join(states, f"build{i}")
        _reset_session_litter(spark)
        t = time.perf_counter()
        wl.build(dest)
        builds.append(time.perf_counter() - t)
    built = os.path.join(states, "build0")

    failures: list[str] = []
    copies = itertools.count()

    def fresh_copy() -> None:
        dest = os.path.join(states, f"copy{next(copies)}")
        if os.path.isdir(built):
            shutil.copytree(built, dest)
        wl.open(dest)

    # warm-up: one op of every class (JIT, codegen, Python worker pool);
    # set-up counts the ops' own time, not the copy or the checks
    fresh_copy()
    warm_fail: list[str] = []
    t_warm = run_phase(spark, wl, wl.warm_ops(), math.inf, None, None, warm_fail).busy_s
    setup_s = t_session + statistics.median(builds) + t_warm

    values: dict[str, float] = {}  # every figure of the run, by metric name
    if args.trace:
        # untraced, traced, traced, untraced: one cycle each on a fresh
        # copy, so a steady drift (the JIT still warming) cancels out of
        # the tracing overhead
        spans = probe.Spans()
        jobs = probe.JobGroups(spark.sparkContext)

        def one_cycle(traced: bool) -> Phase:
            fresh_copy()
            if traced:
                spans.install()
            ph = run_phase(spark, wl, wl.schedule(), args.seconds / 4, jobs if traced else None,
                           spans if traced else None, failures, min_cycles=1)
            spans.uninstall()
            failures.extend(wl.final_check())
            return ph

        plain = one_cycle(False)
        gc0, py0 = probe.jvm_gc_s(spark), probe.python_worker_cpu_s()
        phase = one_cycle(True)
        phase.extend(one_cycle(True))
        gc1, py1 = probe.jvm_gc_s(spark), probe.python_worker_cpu_s()
        values.update(wl.detail(phase))
        plain.extend(one_cycle(False))
        n = len(phase.ops)
        for key in ("jobs", "stages", "tasks"):
            values[f"spark.{key}_per_op"] = sum(o[key] for o in phase.ops) / n
        values["python_workers.cpu_s"] = py1 - py0
        values["trace_overhead_frac"] = 1 - phase.ops_per_s() / plain.ops_per_s()
        for layer, secs in spans.self_seconds().items():
            values[f"{layer}.self_s_per_op"] = secs / n
        for name, metric in (("SortedTable._write_sorted", "table.write_s"),
                             ("SortedTable._adopt_staged", "table.adopt_s"),
                             ("SortedTable._commit_manifest", "table.commit_s"),
                             ("collect_file_stats", "stats.collect_s")):
            values[metric] = spans.median_s(name)
        if args.trace_out:
            os.makedirs(os.path.dirname(args.trace_out), exist_ok=True)
            with open(args.trace_out, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "spans": spans.spans, "ops": phase.ops}, f)
        attempted = len(phase.ops) + len(plain.ops)
    else:
        fresh_copy()
        _reset_session_litter(spark)
        probe.reset_peak_rss(jvm_pid)
        gc0 = probe.jvm_gc_s(spark)
        phase = run_phase(spark, wl, wl.schedule(), args.seconds, None, None, failures)
        gc1 = probe.jvm_gc_s(spark)
        # read before the final check, which replays the batches in DuckDB
        peak_rss_mb = probe.peak_rss_mb(jvm_pid)
        failures += wl.final_check()
        values.update(wl.detail(phase))
        values.update({
            "setup_s": setup_s,
            "ops_per_s": phase.ops_per_s(),
            "latency_geomean_s": phase.latency_geomean_s(),
            "write_p50_s": statistics.median(phase.latencies(kind="write")),
            "peak_rss_mb": peak_rss_mb,
        })
        attempted = len(phase.ops)
    values["jvm.gc_s"] = gc1 - gc0
    values["fail_ratio"] = len(failures) / attempted

    spec = load_spec()[("end_to_end", "per_layer")[args.trace]]
    box1 = box_state()
    box["load_avg_end"] = box1["load_avg"]
    box["cpu_steal_frac"] = steal_frac(box0["ticks"], box1["ticks"])
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "correct": not failures and not warm_fail,
        "attempted": attempted,
        "failed": min(attempted, len(failures)),
        "metrics": {m["name"]: {"value": _finite(values.pop(m["name"])), "unit": m["unit"]}
                    for m in spec},
        "detail": {k: _finite(v) for k, v in values.items()},
        "samples": {"ops": len(phase.ops), "builds": len(builds),
                    **{f"ops.{c}": len(phase.latencies(c)) for c in phase.classes()}},
        "op_s": [[o["cls"], round(o["s"], 4)] for o in phase.ops],
        "setup": {"session_s": t_session, "prepare_s": t_prepare, "builds_s": builds,
                  "warmup_s": t_warm},
        "box": box,
        "failures": (warm_fail + failures)[:20],
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
