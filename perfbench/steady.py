"""Steadiness check: two interleaved sets of runs of the same tree.

    python3 perfbench/steady.py run --runs 10 --out .perfbench_out/steady.jsonl
    python3 perfbench/steady.py report .perfbench_out/steady.jsonl

``run`` pairs set A (seeds 101, 102, ...) with set B (seeds 201, 202,
...) on every workload of BENCHMARK.json, one JSON line per run; A runs
first in even-numbered pairs and B in odd-numbered ones, so neither set
always takes the first slot.
``report`` prints, per workload and end-to-end metric, each set's
median and quartiles (``statistics.quantiles(n=4)``), the spread
(IQR / median) and the shift of B's median against A's, next to the
metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(runs: int, out: str) -> None:
    spec = _spec()
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    for i in range(runs):
        for w in spec["workloads"]:
            pair = [("A", 101 + i), ("B", 201 + i)]
            for set_name, seed in (pair[::-1] if i % 2 else pair):
                t = time.time()
                p = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload", w["name"],
                     "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                    cwd=ROOT, capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                rec = {"set": set_name, "pair": i, "workload": w["name"], "seed": seed,
                       "rc": p.returncode, "wall": time.time() - t}
                if p.returncode == 0 and len(lines) >= 2:
                    rec["detail"], rec["final"] = json.loads(lines[-2]), json.loads(lines[-1])
                with open(out, "a") as f:
                    f.write(json.dumps(rec) + "\n")


def report(path: str) -> str:
    spec = _spec()
    with open(path) as f:
        recs = [json.loads(line) for line in f]
    out = []
    for w in spec["workloads"]:
        mine = [r for r in recs if r["workload"] == w["name"]]
        ok = [r for r in mine if "final" in r]
        walls = sorted(r["wall"] for r in mine)
        out.append(f"\n### {w['name']}\n")
        out.append(f"{len(mine)} runs, {len(ok)} with a result, "
                   f"{sum(r['final']['failed'] for r in ok)} failed ops of "
                   f"{sum(r['final']['attempted'] for r in ok)}, "
                   f"{sum(not r['final']['correct'] for r in ok)} runs not correct; "
                   f"wall per run median {statistics.median(walls):.1f} s, max {walls[-1]:.1f} s\n")
        out.append("| metric | bound | set | median | q1 | q3 | spread | B vs A |")
        out.append("|---|---|---|---|---|---|---|---|")
        for m in spec["end_to_end"]:
            meds = {}
            for s in ("A", "B"):
                v = [r["final"]["metrics"][m["name"]]["value"] for r in ok if r["set"] == s]
                if len(v) < 2:
                    continue
                q1, _, q3 = statistics.quantiles(v, n=4)
                med = meds[s] = statistics.median(v)
                shift = ""
                if s == "B" and "A" in meds:
                    worse = (med - meds["A"]) if m["better"] == "lower" else (meds["A"] - med)
                    shift = f"{worse / meds['A']:+.3f} worse"
                out.append(f"| {m['name']} | {m['bound']} | {s} (n={len(v)}) | {med:.4g} | "
                           f"{q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.3f} | {shift} |")
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--out", required=True)
    s = sub.add_parser("report")
    s.add_argument("path")
    args = ap.parse_args()
    if args.cmd == "run":
        run(args.runs, args.out)
    else:
        print(report(args.path))
    return 0


if __name__ == "__main__":
    sys.exit(main())
