"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/stability.py --runs 10 [--workload NAME ...] [--first-seed 1]

Runs ``perfbench/run.py`` once per seed (``--runs`` distinct seeds) for
each workload, one run at a time, and prints for every end-to-end metric
its median, quartiles and spread (inter-quartile range over the median),
beside the metric's bound from ``BENCHMARK.json``. Each run's final JSON
line and its ``info`` line are appended to
``.perfbench_work/stability.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    log = os.path.join(ROOT, ".perfbench_work", "stability.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for wl in args.workload or [w["name"] for w in bench["workloads"]]:
        values: dict[str, list[float]] = {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            res = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            if res.returncode != 0:
                print(res.stderr[-2000:], file=sys.stderr)
                return 1
            lines = res.stdout.strip().splitlines()
            out = json.loads(lines[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, **out,
                                    **json.loads(lines[-2])}) + "\n")
            for name, m in out["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        print(f"{wl} ({args.runs} runs)")
        for name, vals in values.items():
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"  {name:18s} median {med:12.3f}  q1 {q1:12.3f}  q3 {q3:12.3f}  "
                  f"spread {stats.spread(vals):.3f}  bound {bounds[name]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
