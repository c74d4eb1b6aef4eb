#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 100]

Runs the benchmark `--runs` times with consecutive seeds and prints, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
next to the metric's bound in BENCHMARK.json. The whole series is also
written as JSON lines to .bench_build/steady-<workload>.jsonl.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    series = []
    out = os.path.join(ROOT, ".bench_build", f"steady-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as log:
        for i in range(a.runs):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                 "--seed", str(a.first_seed + i), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                sys.exit(f"run {i} exited {p.returncode}")
            r = json.loads(p.stdout.strip().splitlines()[-1])
            log.write(json.dumps(r) + "\n")
            log.flush()
            series.append(r)
            print(f"seed {a.first_seed + i}: correct={r['correct']} failed={r['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in series]
        spread = metrics.quartile_spread(vals)
        print(f"{m['name']:<12} median {statistics.median(vals):10.4g} {m['unit']:<4} "
              f"spread {spread:6.3f}  bound {m['bound']}  "
              f"{'ok' if spread < m['bound'] / 3 else 'WIDE' if spread >= m['bound'] else 'ok (> bound/3)'}")


if __name__ == "__main__":
    main()
