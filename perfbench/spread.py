#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--workloads suite,service] [--seeds 1-10]
                                [--seconds S]

Runs the benchmark untraced once per seed and workload (one after
another, never in parallel) and prints, per metric, the median of the
runs and the distance between their first and third quartiles as a
share of that median — `statistics.quantiles(values, n=4)` — next to the metric's
bound from BENCHMARK.json. Run it from the root of the repository."""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    worst = 0.0
    for w in args.workloads.split(","):
        values = {}
        for s in args.seeds:
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(s), "--seconds", str(args.seconds),
                                "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            last = (p.stdout.strip().splitlines() or [""])[-1]
            if p.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
                sys.exit(1)
            res = json.loads(last)
            print(f"{w} seed {s}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            b = bounds.get(k)
            if b is not None:
                worst = max(worst, spread / b)
            print(f"  {w:10s} {k:28s} median {med:12.4f}  spread {spread:6.3f}"
                  + (f"  bound {b}" if b is not None else ""))
    print(f"largest spread / bound: {worst:.2f}")


if __name__ == "__main__":
    main()
