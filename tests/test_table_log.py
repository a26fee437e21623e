"""The format-neutral write core (`sources/table_log.py`), driven
through both codecs: behaviour that must be identical for Delta and
Iceberg is tested once, parametrized over the format."""

import contextlib

import pytest
from pyspark.sql import functions as F

from aligned_spark.sources.delta_log import DeltaLog
from aligned_spark.sources.iceberg_log import IcebergLog

_SCHEMA = "k long, v string"


def _log(fmt: str, path: str):
    return DeltaLog(path) if fmt == "delta" else IcebergLog(path)


def _commits(log) -> int:
    if isinstance(log, DeltaLog):
        return log.latest_version() + 1
    return len(log.snapshot_ids())


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_merge_drop_src_folds_matched_delete_into_one_commit(
    spark, tmp_path, fmt
):
    log = _log(fmt, str(tmp_path / "t"))
    log.write(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], _SCHEMA)
    )
    before = _commits(log)
    src = spark.createDataFrame(
        [(1, "DEL"), (2, "y"), (4, "DEL"), (5, "w")], _SCHEMA
    )
    log.merge_upsert(src, ["k"], drop_src=F.col("v") == "DEL")
    got = {r["k"]: r["v"] for r in log.read(spark).collect()}
    assert 1 not in got  # matched and selected: deleted
    assert 4 not in got  # unmatched and selected: never inserted
    assert got == {2: "y", 3: "c", 5: "w"}
    assert _commits(log) == before + 1


def test_resolved_manifest_records_are_isolated(spark, tmp_path):
    """Manifest records are cached process-wide; editing one view's
    entry must not leak into the next resolve of the table."""
    log = IcebergLog(str(tmp_path / "t"))
    log.write(
        spark.createDataFrame([(1, "a"), (2, "b")], _SCHEMA).coalesce(1)
    )
    rel, entry = next(iter(log._resolve().files.items()))
    rows = entry["record_count"]
    with contextlib.suppress(TypeError):
        entry["record_count"] = rows + 100
    with contextlib.suppress(TypeError):
        entry["partition"]["k"] = "corrupt"
    again = log._resolve().files[rel]
    assert again["record_count"] == rows
    assert "k" not in again["partition"]
    assert log.detail()["numRows"] == 2
