"""Run the benchmark on several seeds and print each metric's median and
spread (inter-quartile distance ÷ median, as `statistics.quantiles` gives
the quartiles) — the steadiness check a bound must cover. Each run is an
untraced run of BENCHMARK.json's `run_seconds`.

    python3 perfbench/spread.py --workload search_merged --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, CHECKOUT)

from perfbench.stats import iqr_share  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    args = p.parse_args()
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    lo, hi = map(int, args.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", seconds,
             "--trace", "0"],
            cwd=CHECKOUT, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        runs.append(json.loads(out.stdout.splitlines()[-1])["metrics"])
    for name in runs[0]:
        vals = [r[name]["value"] for r in runs]
        spread = iqr_share(vals) if len(vals) > 1 else float("nan")
        print(f"{name:32s} median {statistics.median(vals):12.4f} "
              f"{runs[0][name]['unit']:7s} spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
