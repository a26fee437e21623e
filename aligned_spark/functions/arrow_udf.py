"""The one constructor for the package's Arrow kernel UDFs."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import functions as F


def kernel_udf(fn: Callable, return_type) -> Callable:
    """``fn`` as a pandas UDF that Spark evaluates once per row.

    Catalyst treats a deterministic UDF as a pure expression it may
    copy. A filter on the kernel's column is pushed below the
    projection that defines it with the UDF substituted in: an explicit
    one (``size(__sig) > 0``, ``__sig != 0``, ``sim >= t``), the
    ``size(x) > 0`` that ``InferFiltersFromGenerate`` derives from an
    explode, or the ``isnotnull`` a join infers on its key. The plan
    then holds two ``ArrowEvalPython`` nodes, and every row crosses to
    Python twice (SPARK-17728). ``asNondeterministic()`` is Spark's
    guard against duplicating or moving an expression, so the kernel
    runs in one node.

    The price: no later filter crosses that projection either, so a
    filter on a pass-through column stays above it rather than
    reaching the scan. Every caller consumes the kernel column right
    away and filters its input before calling the kernel."""
    return F.pandas_udf(fn, return_type).asNondeterministic()
