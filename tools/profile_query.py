"""Phase/method profiler for declared queries.

Usage: python tools/profile_query.py QUERY [QUERY ...]

Runs each query once untimed (warm-up, same protocol as bench.py),
then once timed, with cumulative wall-time + call counts recorded for
the table-format / IVM machinery methods (monkeypatched timers), and
the total Spark job count per run (statusTracker job ids). Prints a
per-method breakdown sorted by cumulative seconds — the "where do the
10 seconds go" answer for the commit-machinery-bound queries.
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")

ACC: dict[str, list[float]] = defaultdict(lambda: [0.0, 0])
DEPTH = {"d": 0}


def wrap(cls, name: str, label: str | None = None) -> None:
    fn = getattr(cls, name)
    lab = label or f"{cls.__name__}.{name}"

    def inner(*a, **kw):
        t0 = time.time()
        DEPTH["d"] += 1
        try:
            return fn(*a, **kw)
        finally:
            DEPTH["d"] -= 1
            dt = time.time() - t0
            ACC[lab][0] += dt
            ACC[lab][1] += 1

    setattr(cls, name, inner)


def main() -> int:
    names = sys.argv[1:]
    import bench  # noqa: F401  (HEADLINE not needed; keeps env parity)
    import __spark_entry__ as entry
    from aligned_spark.session import get_spark

    from aligned_spark.sources.delta_log import DeltaLog
    from aligned_spark.sources.iceberg_log import IcebergLog
    from aligned_spark.sources import parts as parts_mod
    from aligned_spark.operators.incremental import (
        IncrementalAggregate,
        RollingIncrementalAggregate,
    )

    # the write core (sources/table_log.py) is shared: wrap it on each
    # codec class so the two formats report separately
    core = (
        "merge_upsert",
        "delete_where",
        "_touched_files",
        "_key_range_candidates",
        "_bloom_key_candidates",
        "_stage",
        "_stage_change_data",
        "maybe_optimize",
    )
    delta_only = ("write", "read_cdf", "read", "snapshot", "commit", "txn_version")
    for m in (*delta_only, *core):
        wrap(DeltaLog, m)
    for m in ("write", "read", "read_changes", "_resolve", *core):
        wrap(IcebergLog, m, f"Ice.{m}")
    for m in (
        "refresh",
        "apply_changes",
        "_apply_slice",
        "_apply_extrema_recompute",
        "_sync_distinct_aux",
        "_aux_transitions",
        "_commit_aux",
        "_semi_filtered_old",
        "_read_changes",
        "read",
        "last_applied",
    ):
        wrap(IncrementalAggregate, m, f"IVM.{m}")
    for m in (
        "refresh",
        "apply_changes",
        "_apply_slice",
        "_touched_spans",
        "_acquire_lease",
        "_release_lease",
        "read",
    ):
        wrap(RollingIncrementalAggregate, m, f"RollIVM.{m}")

    from aligned_spark.sources import vector_index as vi

    for cls_name in (
        "IvfIndexSource",
        "PqIndexSource",
        "LshIndexSource",
        "IvfPqIndexSource",
    ):
        cls = getattr(vi, cls_name, None)
        if cls is None:
            continue
        for m in (
            "overwrite",
            "apply_changes",
            "nearest_n",
            "_fit_centroids",
            "_assign",
            "delete",
        ):
            if m in cls.__dict__:
                wrap(cls, m, f"{cls_name}.{m}")

    wrap(parts_mod, "stage_parquet_parts", "parts.stage_parquet_parts") if hasattr(
        parts_mod, "stage_parquet_parts"
    ) else None
    wrap(parts_mod, "touched_files", "parts.touched_files")
    wrap(parts_mod, "stats_from_footer", "parts.stats_from_footer")
    wrap(parts_mod, "_size_targeted", "parts._size_targeted")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    sc = spark.sparkContext
    qs = entry.queries()

    def force(df):
        df.selectExpr("sum(xxhash64(struct(*)))").collect()

    def jobs() -> int:
        # total jobs submitted so far: the DAGScheduler's monotone
        # job-id counter (works regardless of job groups)
        try:
            # py4j unwraps the AtomicInteger to a plain int
            return int(sc._jsc.sc().dagScheduler().nextJobId())
        except Exception:
            return -1

    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for name in names:
        fn = qs[name]
        # warm-up
        force(fn(spark, sf_dir))
        spark.catalog.clearCache()
        ACC.clear()
        j0 = jobs()
        t0 = time.time()
        force(fn(spark, sf_dir))
        total = time.time() - t0
        j1 = jobs()
        spark.catalog.clearCache()
        print(f"\n=== {name}: {total:.2f}s  spark_jobs={j1 - j0} ===")
        for lab, (sec, n) in sorted(
            ACC.items(), key=lambda kv: -kv[1][0]
        ):
            if sec < 0.005:
                continue
            print(f"  {sec:7.2f}s  x{n:<4d} {lab}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
