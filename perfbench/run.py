"""Benchmark launcher for parquet_rewriter_spark.

    python3 perfbench/run.py --workload merge_stream --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads and metrics are listed in
BENCHMARK.json. The launcher owns the run's environment:

- a run directory under ``.perfbench_run/`` holds every file the run
  writes (inputs, tables, TMPDIR, SPARK_LOCAL_DIRS, the JVM's
  java.io.tmpdir and the Spark warehouse) and is deleted at exit;
- the Spark session is sized to the box through the engine's own knobs:
  ``SPARK_GRAFT_CPUS`` = the CPU count (shuffle partitions follow it)
  and a fixed ``SPARK_GRAFT_DRIVER_MEM``;
- the run executes in its own process session; every process left in
  it (the JVM, the Python workers) is stopped and waited for.

The last line of standard output is the result JSON
(``correct``/``attempted``/``failed``/``metrics``); the line before it
carries the run's details (per-class sample counts, workload-specific
layer figures, box state, failures). ``--trace 1`` also writes the
span log to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "4g"
DEADLINE_S = 170


def _session_pids(sid: int) -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(p))
    return pids


def _stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the session; wait until
    none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _session_pids(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace
        while _session_pids(sid) and time.monotonic() < end:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "parquet_rewriter_spark")):
        print("perfbench: parquet_rewriter_spark not found next to perfbench/", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # no hsperfdata file: HotSpot would write it under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", os.path.join(run_dir, "work"), "--out", out]
    if args.trace:
        cmd += ["--trace-out", os.path.join(
            ROOT, ".perfbench_out", f"trace-{args.workload}-s{args.seed}.json")]
    # a SIGTERM to the launcher still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
        rc = -1
    finally:
        _stop_session(proc.pid)
        proc.wait()
        result = None
        if rc == 0 and os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    if result is None:
        print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
        return 1
    final = {k: result.pop(k) for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(result))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
