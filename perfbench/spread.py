#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance rule
measures it: for each metric, the distance between the first and third
quartiles of its values over one run per seed, as a share of their median.

Usage (from the repository root):

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 15] [--out file.json] [--verbose]

Runs `perfbench/run.py` once per seed, sequentially, and prints per metric
the median, the spread and the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    ap.add_argument("--verbose", action="store_true", help="also print each run's summary lines")
    a = ap.parse_args()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    secs = a.seconds or spec["run_seconds"]
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(secs), "--trace", "0"],
                           capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        line = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": s, "wall_s": wall, **line})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items())
        print(f"seed {s}: {wall:.1f} s correct={line['correct']} {vals}", flush=True)
        if a.verbose:
            print("\n".join("    " + l for l in p.stdout.splitlines()[:-1]), flush=True)
    print(f"{a.workload}: {len(runs)} runs, mean wall {statistics.mean(r['wall_s'] for r in runs):.1f} s")
    for m in spec["end_to_end"]:
        v = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / statistics.median(v)
        print(f"  {m['name']:<18} median {statistics.median(v):<12.5g} spread {spread:.4f} "
              f"bound {m['bound']} ({'ok' if spread < m['bound'] / 3 else 'WIDE'})")
    if a.out:
        Path(a.out).write_text(json.dumps(runs, indent=1))


if __name__ == "__main__":
    main()
