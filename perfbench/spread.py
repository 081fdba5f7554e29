#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [WORKLOAD ...]

Runs each workload (default: every workload of BENCHMARK.json) once per
seed, untraced, for the benchmark's run_seconds, and prints for each
end-to-end metric the median, the quartiles (statistics.quantiles, n=4),
the spread (Q3 - Q1) / median, and the metric's bound. Also prints the wall
time of each run: a comparison repeats every workload 22 times, so the
mean wall per run sets how long one takes. Results, with each run's unit
seconds, are kept in .bench_build/spread/.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    out_dir = ROOT / ".bench_build" / "spread"
    out_dir.mkdir(parents=True, exist_ok=True)
    report = {}
    for w in a.workloads:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            units = [l for l in p.stderr.splitlines() if l.startswith("perfbench: unit seconds")]
            runs.append({"seed": seed, "wall_s": wall, "result": res, "units": units})
            status = "ok" if res and res["correct"] else f"FAILED (exit {p.returncode})"
            print(f"{w} seed {seed}: {status}, {wall:.1f} s", flush=True)
            if res is None:
                print(p.stderr[-2000:], file=sys.stderr)
        report[w] = runs
        good = [r["result"] for r in runs if r["result"]]
        print(f"\n{w}: {len(good)}/{len(runs)} runs with a result, "
              f"mean wall {statistics.mean(r['wall_s'] for r in runs):.1f} s")
        for m in bench["end_to_end"]:
            vals = [g["metrics"][m["name"]]["value"] for g in good]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"  {m['name']:<16} median {med:<12.6g} q1 {q1:<12.6g} q3 {q3:<12.6g} "
                  f"spread {spread:.3f} (bound {m['bound']})")
        print()
    path = out_dir / f"spread-{int(time.time())}.json"
    path.write_text(json.dumps(report, indent=1))
    print(f"runs kept in {path.relative_to(ROOT)}")


if __name__ == "__main__":
    main()
