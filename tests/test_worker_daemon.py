"""Python workers import the installed ``pyspark``
(`aligned_spark/worker_daemon.py`, set by `session.get_spark`): no
worker imports from Spark's source archives, whose zip directories
every task would re-read after ``importlib.invalidate_caches()``."""

import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from pyspark.sql import functions as F

from aligned_spark import session, worker_daemon

ROOT = Path(__file__).resolve().parent.parent
_LIB = "/spark/python/lib"
_PATH = [
    "/work",
    f"{_LIB}/pyspark.zip",
    f"{_LIB}/py4j-0.10.9.9-src.zip",
    "/spark/jars/spark-core_2.13-4.1.2.jar",
    "/usr/lib/python3.11",
    "/usr/lib/python3.11/site-packages",
]


def test_workers_import_installed_pyspark(spark):
    @F.pandas_udf("string")
    def origin(s: pd.Series) -> pd.Series:
        import sys
        import zipimport

        import pyspark

        zips = sorted(
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        )
        return pd.Series([f"{pyspark.__file__}|{','.join(zips)}"] * len(s))

    seen = {r[0] for r in spark.range(0, 64, 1, 4).select(origin("id")).collect()}
    for report in seen:
        module, zips = report.split("|")
        assert ".zip" not in module and ".jar" not in module, report
        archives = [z for z in zips.split(",") if z]
        assert not any(map(worker_daemon.is_spark_archive, archives)), report


def test_daemon_module_imports_no_pyspark():
    """``python -m aligned_spark.worker_daemon`` imports the package
    and the module before it chooses the path: neither may import
    ``pyspark``, even with the archives first on ``PYTHONPATH``."""
    lib = Path(os.environ.get("SPARK_HOME", "")) / "python" / "lib"
    archives = sorted(str(p) for p in lib.glob("*.zip"))
    if not any(p.endswith("pyspark.zip") for p in archives):
        pytest.skip("no $SPARK_HOME/python/lib/pyspark.zip")
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([*archives, str(ROOT)])}
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, aligned_spark.worker_daemon; "
            "print(sorted(m for m in sys.modules"
            " if m.split('.')[0] in ('pyspark', 'py4j')))",
        ],
        env=env,
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "[]", out


def test_package_exports_resolve_on_first_use():
    import aligned_spark

    assert aligned_spark.__all__ == [
        "get_spark",
        "stop_spark",
        "FeatureType",
        "feature_view",
        "load_feature",
        "model_contract",
        "ContractStore",
    ]
    assert aligned_spark.get_spark is session.get_spark
    assert all(callable(getattr(aligned_spark, n)) for n in aligned_spark.__all__)
    with pytest.raises(AttributeError):
        aligned_spark.not_exported


@pytest.mark.parametrize(
    "installed, shipped",
    [(None, "4.1.2"), ("4.0.1", "4.1.2"), ("4.1.2", None)],
)
def test_worker_path_keeps_archives_without_matching_install(installed, shipped):
    assert worker_daemon.worker_path(_PATH, installed, shipped) == _PATH


def test_worker_path_drops_only_spark_archives():
    assert worker_daemon.worker_path(_PATH, "4.1.2", "4.1.2") == [
        "/work",
        "/usr/lib/python3.11",
        "/usr/lib/python3.11/site-packages",
    ]


def test_stock_daemon_when_workers_cannot_import_package(tmp_path, monkeypatch):
    """A driver that found ``aligned_spark`` through its own
    ``sys.path`` alone keeps Spark's stock daemon: a worker could not
    import the daemon module, and every Python UDF would fail."""
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(tmp_path)
    assert not session._worker_imports_package({})
    assert session._worker_imports_package({"spark.executorEnv.PYTHONPATH": str(ROOT)})
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/nowhere", str(ROOT)]))
    assert session._worker_imports_package({})
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(ROOT)
    assert session._worker_imports_package({})
