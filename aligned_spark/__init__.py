"""aligned_spark — a PySpark-native feature-store / analytics engine.

A from-scratch rebuild of the capabilities of MatsMoll/aligned (a
Polars-first feature-store framework) on top of Apache Spark:
DataFrames are the only execution substrate, Catalyst is the
optimizer, and every operator is expressed with built-in
``pyspark.sql`` primitives (joins + windows + aggregates) unless the
semantics genuinely require an Arrow-batched Pandas UDF.

Public surface (see SURVEY.md for the reference parity map):

- :mod:`aligned_spark.types` — FeatureType system with Spark mapping
- :mod:`aligned_spark.expr` — serializable expression IR lowered to Column
- :mod:`aligned_spark.contracts` — ``@feature_view`` / ``@model_contract`` DSL
- :mod:`aligned_spark.store` — ContractStore (features_for, execute_sql, ...)
- :mod:`aligned_spark.operators` — PIT join, as-of join, aggregations,
  dedup, similarity search, text analysis, splits
- :mod:`aligned_spark.sources` — parquet/csv/delta/in-memory/jdbc connectors
- :mod:`aligned_spark.streaming` — Structured Streaming port of the
  reference's micro-batch stream worker

The public names below resolve on first use (PEP 562), so importing
the package, as ``python -m aligned_spark.worker_daemon`` does before
it chooses the worker's ``sys.path``, imports no ``pyspark``.
"""

from importlib import import_module

__version__ = "0.2.0"

_EXPORTS = {
    "get_spark": "aligned_spark.session",
    "stop_spark": "aligned_spark.session",
    "FeatureType": "aligned_spark.types",
    "feature_view": "aligned_spark.contracts",
    "load_feature": "aligned_spark.contracts",
    "model_contract": "aligned_spark.contracts",
    "ContractStore": "aligned_spark.store",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(import_module(_EXPORTS[name]), name)
    globals()[name] = value
    return value
