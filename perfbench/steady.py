"""Steadiness check: run one workload several times, each with another
seed, and print for each end-to-end metric its median, quartiles, min and
max, and the spread (q3 - q1) / median next to the metric's bound.

    python3 perfbench/steady.py --workload serve --runs 10 [--first-seed 1]

The run length is ``run_seconds`` from BENCHMARK.json unless ``--seconds``
is given. Runs are sequential; each run's result line is printed as it
arrives, so a partial table can be read while the rest runs.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

from measure import median, quartiles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


#: the summary line that run.py writes to standard error
SUMMARY = re.compile(r"raw wall p50 ([0-9.]+) ms; steal share median per call ([0-9.]+)")


def run_once(workload: str, seed: int, seconds: float) -> tuple[dict, float, tuple]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit code {proc.returncode}")
    raw = SUMMARY.search(proc.stderr)
    return (json.loads(proc.stdout.strip().splitlines()[-1]), wall,
            (float(raw[1]), float(raw[2])) if raw else (float("nan"),) * 2)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    args = ap.parse_args(argv)

    results, raws = [], []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        res, wall, raw = run_once(args.workload, seed, args.seconds)
        results.append(res)
        raws.append(raw)
        print(f"seed {seed} wall {wall:.1f} s, raw call p50 {raw[0]:.1f} ms, "
              f"steal share {raw[1]:.3f}: {json.dumps(res)}", flush=True)

    print(f"\n{args.workload}: {len(results)} runs, failed share "
          f"{sorted({r['failed'] / r['attempted'] for r in results})}, "
          f"correct {all(r['correct'] for r in results)}")
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'min':>12} "
          f"{'max':>12} {'spread':>8} {'bound':>6}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, q2, q3 = quartiles(vals) if len(vals) > 1 else (vals[0],) * 3
        print(f"{m['name']:28} {median(vals):12.4f} {q1:12.4f} {q3:12.4f} "
              f"{min(vals):12.4f} {max(vals):12.4f} {(q3 - q1) / q2:8.4f} "
              f"{m['bound']:6.3f}")
    print(f"uncorrected call p50: median {median([r[0] for r in raws]):.1f} ms; "
          f"steal share per call: median {median([r[1] for r in raws]):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
