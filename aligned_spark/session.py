"""SparkSession factory with scale-aware defaults.

Defaults target correctness-on-local + good behavior at cluster
scale: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), UTC session timezone (parity with the oracle and with
the reference's tz-naive-UTC convention), Arrow enabled for the
Pandas-UDF slow path.

Python workers start through :mod:`aligned_spark.worker_daemon`
(``spark.python.daemon.module``), which has them import the installed
``pyspark`` rather than Spark's source archives: from the archives,
every Arrow task paid ~0.2 s of CPU re-reading zip directories after
Spark's per-task ``importlib.invalidate_caches()``, and every worker
compiled pyspark's sources again. The daemon module is set only when
a worker can import this package (from the working directory,
``PYTHONPATH`` or a site directory); a driver that found it through
its own ``sys.path`` alone keeps Spark's stock daemon, so plain UDFs
still run there.
"""

from __future__ import annotations

import os
import site
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession

_PACKAGE_INIT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "__init__.py"
)


def _worker_imports_package(extra_conf: dict[str, str]) -> bool:
    """Whether a Python worker of a session started now finds this
    copy of ``aligned_spark``: ``python -m`` searches the working
    directory, then ``PYTHONPATH`` (the executor's and the driver's),
    then the site directories."""
    path = [os.getcwd()]
    for env in (
        extra_conf.get("spark.executorEnv.PYTHONPATH"),
        os.environ.get("PYTHONPATH"),
    ):
        path += [p for p in (env or "").split(os.pathsep) if p]
    path += site.getsitepackages() + [site.getusersitepackages()]
    spec = PathFinder.find_spec("aligned_spark", path)
    return (
        spec is not None
        and spec.origin is not None
        and os.path.realpath(spec.origin) == os.path.realpath(_PACKAGE_INIT)
    )


def get_spark(
    app_name: str = "aligned_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster leave it unset and let spark-submit decide.
    ``shuffle_partitions`` defaults to the core count locally — at
    100 TB this must be sized so post-shuffle partitions are
    ~100-200 MB; AQE coalescing makes the exact number forgiving.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Permissive (Spark-3-style) semantics: invalid cast → null,
        # div-by-zero → null. Matches the reference's Polars non-strict
        # coercion (ToNumerical: invalid → null) and means one malformed
        # row can't kill a 100 TB job. ANSI-sensitive spots also use
        # try_* explicitly so the engine is correct under either setting.
        .config("spark.sql.ansi.enabled", "false")
        # pandas/pyarrow writers emit TIMESTAMP(NANOS) parquet, which
        # Spark otherwise refuses to scan (PARQUET_TYPE_ILLEGAL). Read
        # them as long nanos; sources.file.read_parquet casts back to
        # timestamp (micros, truncating — matches DuckDB/most engines).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet otherwise
        # infers TIMESTAMP_NTZ (rejected by unix_micros/window);
        # with the pinned-UTC session the LTZ reading is identical
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # write MICROS, not the deprecated INT96: INT96 pages carry NO
        # footer statistics, which would silently disable the Delta
        # log's timestamp data skipping (all_between_dates)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "90g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    extra_conf = extra_conf or {}
    if _worker_imports_package(extra_conf):
        builder = builder.config(
            "spark.python.daemon.module", "aligned_spark.worker_daemon"
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
