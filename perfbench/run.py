"""Benchmark entry point.

    python3 perfbench/run.py --workload pit_retrieval --seed 1 --seconds 4 --trace 0

Run from the repository root. Prints progress to stderr and, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A fuller record of the run
(every operation, every span, the tail percentile and its sample count)
goes to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("pit_retrieval", "changefeed", "corpus_dedup")
#: driver heap sized for a 15 GB host shared with other work; the
#: library's default (90g) does not fit it
DRIVER_MEMORY = "3g"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "aligned_spark" / "__init__.py").is_file():
        print(f"perfbench: no aligned_spark package under {ROOT}", file=sys.stderr)
        return 2

    # noise controls: a scratch directory of this run's own for every
    # path Spark writes (warehouse, Derby, local dirs, tables), the
    # core count pinned to the CPUs this process may use, and a heap
    # that fits the host
    scratch = ROOT / ".perfbench" / "scratch" / f"{args.workload}-{args.seed}-{os.getpid()}"
    scratch.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))
    os.chdir(scratch)

    from aligned_spark.session import get_spark
    from perfbench import harness

    workload = importlib.import_module(f"perfbench.{args.workload}")

    def spark_factory():
        return get_spark(
            f"perfbench-{args.workload}",
            extra_conf={
                "spark.local.dir": str(scratch / "local"),
                "spark.sql.warehouse.dir": str(scratch / "warehouse"),
                "spark.driver.extraJavaOptions": f"-Dderby.system.home={scratch / 'derby'}",
                "spark.ui.showConsoleProgress": "false",
            },
        )

    try:
        result, record = harness.run(
            workload,
            spark_factory,
            args.seed,
            args.seconds,
            bool(args.trace),
            str(scratch),
        )
    finally:
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)

    records = ROOT / ".perfbench" / "records"
    records.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    (records / name).write_text(json.dumps({"workload": args.workload, **record}, default=str))
    tail, wall = record["tail"], record["wall"]
    print(
        f"perfbench: {args.workload} seed={args.seed}: {result['attempted']} ops, "
        f"{result['failed']} failed, correct={result['correct']}; wall time: "
        f"latency_p50_s {wall['latency_p50_s']['value']:.4f}, "
        f"rows_per_s {wall['rows_per_s']['value']:.1f}, "
        f"tail p{tail['percentile']} of {tail['samples']} samples {tail['value']:.4f} s; "
        f"record {records / name}",
        file=sys.stderr,
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
