"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload changefeed --seeds 1-10 --seconds 4

For every metric it prints the median of the runs and the distance
between the first and third quartile (``statistics.quantiles``, n=4)
as a share of that median: the run-to-run spread a bound must exceed.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a range such as 1-10")
    ap.add_argument("--seconds", default="4")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, check=True, cwd=HERE.parent,
        )
        result = json.loads(out.stdout.strip().splitlines()[-1])
        line = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {time.monotonic() - t0:.1f} s wall, correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} {line}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        print(f"{k:45s} median {med:12.4f}  spread {(q3 - q1) / med if med else 0:.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
