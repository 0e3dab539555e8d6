"""Run one workload several times with distinct seeds and report, per
metric, the median, the quartile spread (as a share of the median) and
the drift between the first and last third of the runs.

Usage (from the repository root):

    python3 perfbench/repeat.py --workload traces --runs 10 [--seed0 100] [--trace 0]

Each run's result line is appended to ``.bench_work/repeat-<workload>.jsonl``.
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
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    log = os.path.join(ROOT, ".bench_work", f"repeat-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)

    results = []
    for i in range(args.runs):
        seed = args.seed0 + i
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        if out.returncode:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        res.update(seed=seed, wall_s=wall)
        results.append(res)
        with open(log, "a") as f:
            f.write(json.dumps(res) + "\n")
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)

    print(f"\n{args.workload}: {len(results)} runs, mean wall {statistics.mean(r['wall_s'] for r in results):.1f}s, "
          f"all correct: {all(r['correct'] for r in results)}")
    third = max(1, len(results) // 3)
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        first, last = statistics.median(vals[:third]), statistics.median(vals[-third:])
        drift = (last - first) / med if med else 0.0
        sp = spread(vals) if len(vals) >= 2 else 0.0
        bound = bounds.get(name)
        flag = "" if bound is None or sp <= bound / 3 else "  <-- spread above a third of the bound"
        print(f"  {name:20s} median {med:12.5g}  spread {sp:6.3f}  drift(last-first third) {drift:+.3f}"
              + (f"  bound {bound}" if bound is not None else "") + flag)
    return 0


if __name__ == "__main__":
    sys.exit(main())
