"""Python worker daemon that imports the installed ``pyspark``.

Spark starts every Python worker with ``$SPARK_HOME/python/lib/pyspark.zip``,
``py4j-*-src.zip`` and the ``spark-core`` jar at the head of
``PYTHONPATH`` (``PythonUtils.sparkPythonPath``). Imported from there,
``pyspark`` costs a worker twice:

- ``pyspark.zip`` holds ``.py`` sources only, so each module a worker
  imports from it is compiled again in every daemon;
- each task calls ``importlib.invalidate_caches()`` (in
  ``setup_spark_files``), and under CPython 3.11 that makes every
  ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
  whole directory. A worker running the dedup kernels holds 12
  importers over ``pyspark.zip`` (one per imported sub-package, 1,328
  entries, ~10 ms a re-read), 2 over the ``spark-core`` jar (5,359
  entries, ~75 ms a re-read) and 2 over the py4j zip: 0.18–0.26 s of
  CPU per task on a 4-core host.

:func:`~aligned_spark.session.get_spark` sets this module as
``spark.python.daemon.module``. Run as ``__main__``, it drops Spark's
archives from ``sys.path``, ``sys.path_importer_cache`` and
``PYTHONPATH`` when an installed ``pyspark`` of the archives' version
(and an installed ``py4j``) is importable without them, and then runs
the unmodified ``pyspark.daemon``. Otherwise the path stays as it is
and the daemon runs from the archives, as Spark's stock daemon would.

Nothing may import ``pyspark`` before the path is chosen, so this
module imports only the standard library and the package
``__init__`` resolves its public names lazily.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
from pathlib import Path

#: basenames of the entries ``PythonUtils.sparkPythonPath`` puts first
_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""")


def is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return any(fnmatch.fnmatchcase(name, pat) for pat in _ARCHIVES)


def worker_path(
    path: list[str], installed: str | None, shipped: str | None
) -> list[str]:
    """``path`` without Spark's archives when the installed ``pyspark``
    (version ``installed``, None when there is none) is the version the
    archives ship (``shipped``); ``path`` unchanged otherwise."""
    if installed is None or installed != shipped:
        return list(path)
    return [p for p in path if not is_spark_archive(p)]


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _shipped_version(path: list[str]) -> str | None:
    """The version of the first ``pyspark.zip`` on ``path``."""
    import zipfile

    for entry in path:
        if os.path.basename(entry) == "pyspark.zip" and os.path.isfile(entry):
            try:
                with zipfile.ZipFile(entry) as zf:
                    return _version(zf.read("pyspark/version.py").decode())
            except (OSError, KeyError, zipfile.BadZipFile):
                return None
    return None


def _installed_version(path: list[str]) -> str | None:
    """The version of the ``pyspark`` that ``path`` imports, None when
    ``path`` lacks ``pyspark`` or ``py4j``."""
    from importlib.machinery import PathFinder

    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or spec.origin is None:
        return None
    if PathFinder.find_spec("py4j", path) is None:
        return None
    version_py = os.path.join(os.path.dirname(spec.origin), "version.py")
    try:
        with open(version_py) as fh:
            return _version(fh.read())
    except OSError:
        return None


def _use_installed_pyspark() -> None:
    plain = [p for p in sys.path if not is_spark_archive(p)]
    chosen = worker_path(
        sys.path, _installed_version(plain), _shipped_version(sys.path)
    )
    if chosen == sys.path:
        return
    sys.path[:] = chosen
    # a finder cached for an archive (or a sub-package inside it) would
    # still be invalidated, and so re-read, on every task
    for key in list(sys.path_importer_cache):
        if any(map(is_spark_archive, Path(key).parts)):
            del sys.path_importer_cache[key]
    env = os.environ.get("PYTHONPATH")
    if env:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in env.split(os.pathsep) if not is_spark_archive(p)
        )


if __name__ == "__main__":
    import runpy

    _use_installed_pyspark()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
