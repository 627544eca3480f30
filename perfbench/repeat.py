"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/repeat.py --workload deep_book --seeds 1-10 [--seconds 12] [--trace 0]

Prints one line per run and then, per metric, the median, the first and
third quartiles (``statistics.quantiles(values, n=4)``) and the quartile
spread as a share of the median, plus the failed share of all operations.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    p.add_argument("--seconds", default="12")
    p.add_argument("--trace", default="0")
    args = p.parse_args(argv)
    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace]
        res = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or not lines:
            print(f"seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}")
            return 1
        for line in lines[:-1]:
            print(f"seed {seed}: {line}")
        runs.append(json.loads(lines[-1]))
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    print(f"{args.workload}: {len(runs)} runs, correct={all(r['correct'] for r in runs)}, "
          f"failed {failed} of {attempted} operations")
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        share = (q3 - q1) / med if med else 0.0
        print(f"  {name:28s} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  "
              f"spread {100 * share:6.2f}%  {runs[0]['metrics'][name]['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
