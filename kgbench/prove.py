"""Run the benchmark over several seeds and report each metric's median and
run-to-run spread (interquartile range over median).

    python3 kgbench/prove.py --seeds 10 [--first-seed 1] [--workloads a b]
                             [--out kgbench/RECORD.json]

Runs are sequential, one process each, exactly as ``BENCHMARK.json``'s
command; the spread is what the bounds in ``BENCHMARK.json`` are held to.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    median = statistics.median(values)
    return {
        "median": median,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / median if median else 0.0,
    }


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    parser = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    parser.add_argument("--seeds", type=int, default=10)
    parser.add_argument("--first-seed", type=int, default=1)
    parser.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    parser.add_argument("--out")
    args = parser.parse_args(argv)

    record: dict = {}
    for workload in args.workloads:
        values: dict[str, list[float]] = {}
        walls, failed = [], 0
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            command = spec["command"] + [
                "--workload", workload, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0",
            ]
            started = time.perf_counter()
            proc = subprocess.run(command, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.perf_counter() - started)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                failed += 1
                continue
            result = json.loads(lines[-1])
            failed += 0 if result["correct"] else 1
            for name, metric in result["metrics"].items():
                values.setdefault(name, []).append(metric["value"])
            print(f"{workload} seed {seed}: {walls[-1]:.0f} s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)
        record[workload] = {
            "runs": len(walls),
            "incorrect_runs": failed,
            "run_wall_s": spread(walls) if len(walls) > 1 else walls,
            "metrics": {n: spread(v) for n, v in values.items() if len(v) > 1},
        }
        for name, s in record[workload]["metrics"].items():
            print(f"{workload} {name}: median {s['median']:.6g} spread {s['spread']:.4f}")
    if args.out:
        Path(args.out).write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
