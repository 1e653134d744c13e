"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/steady.py --seeds 1-10 [--workloads sync_incremental ...]
                                [--out perfbench/baseline.json]

Runs ``run.py --trace 0`` with ``BENCHMARK.json``'s ``run_seconds`` once per
(workload, seed), one at a time, and prints, per workload and end-to-end
metric, the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the spread: the distance
between the quartiles as a share of the median, marked ``ok`` when it is
at most a third of the metric's bound. With ``--out`` it writes the
per-run results and that summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(runs: list[dict]) -> dict[str, dict]:
    out = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        out[name] = {
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "unit": runs[0]["metrics"][name]["unit"],
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*", default=spec.WORKLOADS)
    ap.add_argument("--out")
    args = ap.parse_args()

    report = {"seconds": spec.RUN_SECONDS, "workloads": {}}
    for w in args.workloads:
        runs = []
        for seed in seed_range(args.seeds):
            t = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec.RUN_SECONDS),
                 "--trace", "0"],
                capture_output=True, text=True, cwd=os.path.dirname(HERE),
            )
            wall = time.perf_counter() - t
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                print(f"{w} seed {seed}: exit {proc.returncode}")
                return 1
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            result.update(seed=seed, wall_s=wall)
            runs.append(result)
            print(f"{w} seed {seed}: {wall:.1f}s correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}", flush=True)
        summary = summarize(runs)
        report["workloads"][w] = {"runs": runs, "summary": summary}
        for name, s in summary.items():
            bound = spec.BOUNDS[name]
            mark = "ok" if s["spread"] <= bound / 3 else "WIDE"
            print(f"  {name:40s} median {s['median']:.6g} {s['unit']:6s} "
                  f"spread {s['spread']:.3f}  bound {bound}  {mark}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
