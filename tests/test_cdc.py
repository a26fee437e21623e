"""Change-data-feed fidelity (r6 verdict task 4): copy-on-write
rewrites must emit only the truly-changed rows — a 1-row MERGE into
a 1,000-row part yields exactly one update pre/post pair, never the
999 surviving co-residents (`sources/cdc.py`, `DeltaLog.read_cdf`,
`IcebergLog.read_changes`, `ContractStore.changes_since`)."""

import datetime as dt

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F


def _counts(df):
    return {
        r["_change_type"]: r["count"]
        for r in df.groupBy("_change_type").count().collect()
    }


# ------------------------------------------------------------- delta


def test_delta_cdf_one_row_merge_into_big_part(spark, tmp_path):
    from aligned_spark.sources.delta_log import DeltaLog

    log = DeltaLog(str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, v=f"v{i}") for i in range(1000)]
        ).coalesce(1),
        "append",
    )
    v0 = log.latest_version()
    log.merge_upsert(spark.createDataFrame([Row(k=500, v="UPD")]), ["k"])
    cdf = log.read_cdf(spark, v0)
    assert _counts(cdf) == {"update_preimage": 1, "update_postimage": 1}
    rows = {r["_change_type"]: r for r in cdf.collect()}
    assert rows["update_preimage"]["v"] == "v500"
    assert rows["update_postimage"]["v"] == "UPD"
    # contrast: the append feed re-emits the whole rewritten part
    assert log.read_changes(spark, v0).count() == 1000


def test_delta_cdf_delete_and_insert(spark, tmp_path):
    from aligned_spark.sources.delta_log import DeltaLog

    log = DeltaLog(str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, v="x") for i in range(100)]
        ).coalesce(1),
        "append",
    )
    v0 = log.latest_version()
    log.delete_where(spark, F.col("k").isin(1, 2, 3))
    assert _counts(log.read_cdf(spark, v0)) == {"delete": 3}
    v1 = log.latest_version()
    log.write(spark.createDataFrame([Row(k=500, v="new")]), "append")
    assert _counts(log.read_cdf(spark, v1)) == {"insert": 1}
    # merge inserting a NEW key through the keyed diff
    v2 = log.latest_version()
    log.merge_upsert(spark.createDataFrame([Row(k=900, v="ins")]), ["k"])
    assert _counts(log.read_cdf(spark, v2)) == {"insert": 1}


# ----------------------------------------------------------- iceberg


def test_iceberg_changes_one_row_merge(spark, tmp_path):
    from aligned_spark.sources.iceberg_log import IcebergLog

    log = IcebergLog(str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, v=f"v{i}") for i in range(1000)]
        ).coalesce(1),
        "append",
    )
    s0 = log.snapshot_ids()[-1]
    log.merge_upsert(spark.createDataFrame([Row(k=500, v="UPD")]), ["k"])
    ch = log.read_changes(spark, s0)
    assert _counts(ch) == {"update_preimage": 1, "update_postimage": 1}
    # the append scan still re-emits (documented contrast)
    assert log.read_appends(spark, s0).count() == 1000


def test_iceberg_changes_delete(spark, tmp_path):
    from aligned_spark.sources.iceberg_log import IcebergLog

    log = IcebergLog(str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, v="x") for i in range(50)]
        ).coalesce(1),
        "append",
    )
    s0 = log.snapshot_ids()[-1]
    log.delete_where(spark, F.col("k") < 5)
    assert _counts(log.read_changes(spark, s0)) == {"delete": 5}


# ------------------------------------------------------------- store


def test_store_changes_since_after_incremental_refresh(spark, tmp_path):
    """The downstream-consumer wiring: record the materialized
    version, refresh incrementally (a MERGE), read only the true
    changes."""
    from aligned_spark.contracts import (
        EventTimestamp,
        Float64,
        Int64,
        feature_view,
    )
    from aligned_spark.sources.delta import DeltaSource
    from aligned_spark.sources.file import ParquetSource
    from aligned_spark.store import ContractStore

    base = ParquetSource(path=str(tmp_path / "base.parquet"))
    mat = DeltaSource(path=str(tmp_path / "mat_delta"))
    schema = "user_id long, ts timestamp, value double"
    t = dt.datetime(2024, 1, 5)
    spark.createDataFrame(
        [(i, t, float(i)) for i in range(1, 201)], schema
    ).coalesce(1).write.parquet(base.path)

    @feature_view(name="cdc_mat", source=base, materialized_source=mat)
    class CdcMat:
        user_id = Int64().as_entity()
        ts = EventTimestamp()
        value = Float64()

        doubled = value * 2.0

    store = ContractStore(spark)
    store.add_view(CdcMat)
    store.materialize("cdc_mat")
    cursor = store.materialized_version("cdc_mat")

    # one new base row → incremental refresh MERGEs into the table
    spark.createDataFrame(
        [(999, dt.datetime(2024, 1, 6), 5.0)], schema
    ).write.mode("append").parquet(base.path)
    store.materialize_incremental("cdc_mat")

    ch = store.changes_since("cdc_mat", cursor)
    assert _counts(ch) == {"insert": 1}
    row = ch.collect()[0]
    assert row["user_id"] == 999 and row["doubled"] == 10.0


def test_store_changes_since_requires_capable_source(spark, tmp_path):
    from aligned_spark.contracts import Int64, feature_view
    from aligned_spark.sources.file import ParquetSource
    from aligned_spark.store import ContractStore

    src = ParquetSource(path=str(tmp_path / "p.parquet"))
    spark.createDataFrame([Row(user_id=1)]).write.parquet(src.path)

    @feature_view(name="plain", source=src, materialized_source=src)
    class Plain:
        user_id = Int64().as_entity()

    store = ContractStore(spark)
    store.add_view(Plain)
    with pytest.raises(ValueError, match="change-feed"):
        store.changes_since("plain", 0)


# ---------------------------------------------- keyed keyless CDC (r8)


def test_delta_delete_after_merge_records_no_keys(spark, tmp_path):
    """A MERGE records the table's keys as a property for later
    keyless rewrites; a DELETE commit does not ride them (it can only
    delete), so its CDF is the keyless diff: deletes only."""
    from aligned_spark.sources.delta_log import DeltaLog

    log = DeltaLog(str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, v=f"v{i}") for i in range(60)]
        ).coalesce(1),
        "append",
    )
    log.merge_upsert(spark.createDataFrame([Row(k=5, v="UPD")]), ["k"])
    v1 = log.latest_version()
    log.delete_where(spark, F.col("k") < 3)
    info = [
        a["commitInfo"]
        for a in log._read_commit(log.latest_version())
        if "commitInfo" in a
    ][0]
    assert "mergeKeys" not in info["operationParameters"]
    assert log._recorded_keys(log._head()) == ["k"]
    assert _counts(log.read_cdf(spark, v1)) == {"delete": 3}


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_delete_over_repeated_merge_keys_emits_only_deletes(spark, tmp_path, fmt):
    """The recorded merge key need not be unique within a part: after
    a MERGE on ``k`` over rows (1,10), (1,20), (2,30), deleting
    (1,10) is one delete, not an update of (1,10) into (1,20)."""
    from aligned_spark.sources.delta_log import DeltaLog
    from aligned_spark.sources.iceberg_log import IcebergLog

    log = (DeltaLog if fmt == "delta" else IcebergLog)(str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [Row(k=1, v=10), Row(k=1, v=20), Row(k=2, v=30)]
        ).coalesce(1),
        "append",
    )
    log.merge_upsert(spark.createDataFrame([Row(k=2, v=31)]), ["k"])
    if fmt == "delta":
        start = log.latest_version()
        log.delete_where(spark, F.col("v") == 10)
        changes = log.read_cdf(spark, start)
    else:
        start = log.snapshot_ids()[-1]
        log.delete_where(spark, F.col("v") == 10)
        changes = log.read_changes(spark, start)
    assert [
        (r["_change_type"], r["k"], r["v"]) for r in changes.collect()
    ] == [("delete", 1, 10)]


def test_delta_replace_where_emits_true_update_pairs(spark, tmp_path):
    """replaceWhere after a MERGE: rows whose key survives the
    replacement with new values emit update pre/post pairs (keyed
    diff), vanished keys emit delete, new keys insert."""
    from aligned_spark.sources.delta_log import DeltaLog

    log = DeltaLog(str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, part="a" if i < 10 else "b", v=i)
             for i in range(20)]
        ).coalesce(1),
        "append",
    )
    log.merge_upsert(
        spark.createDataFrame([Row(k=0, part="a", v=100)]), ["k"]
    )
    v1 = log.latest_version()
    # replace partition "a" (keys 0..9) with keys 0..4 re-valued and
    # key 50 brand new: 5 updates (0..4), 5 deletes (5..9), 1 insert
    repl = spark.createDataFrame(
        [Row(k=i, part="a", v=i + 1000) for i in range(5)]
        + [Row(k=50, part="a", v=1)]
    )
    log.replace_where(repl, F.col("part") == "a")
    got = _counts(log.read_cdf(spark, v1))
    assert got == {
        "update_preimage": 5,
        "update_postimage": 5,
        "delete": 5,
        "insert": 1,
    }
    # and the pairs really pair: postimage of k=3 is the new value
    post = {
        r["k"]: r["v"]
        for r in log.read_cdf(spark, v1)
        .filter(F.col("_change_type") == "update_postimage")
        .collect()
    }
    assert post[3] == 1003


def test_delta_delete_without_merge_still_falls_back(spark, tmp_path):
    """No MERGE history -> no recorded keys -> whole-row fallback
    still yields exactly-once deletes."""
    from aligned_spark.sources.delta_log import DeltaLog

    log = DeltaLog(str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, v="x") for i in range(30)]
        ).coalesce(1),
        "append",
    )
    v0 = log.latest_version()
    log.delete_where(spark, F.col("k") < 4)
    info = [
        a["commitInfo"]
        for a in log._read_commit(log.latest_version())
        if "commitInfo" in a
    ][0]
    assert "mergeKeys" not in info["operationParameters"]
    assert _counts(log.read_cdf(spark, v0)) == {"delete": 4}


def test_iceberg_delete_after_merge_records_no_keys(spark, tmp_path):
    from aligned_spark.sources.iceberg_log import IcebergLog

    log = IcebergLog(str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, v=f"v{i}") for i in range(40)]
        ).coalesce(1),
        "append",
    )
    log.merge_upsert(spark.createDataFrame([Row(k=7, v="UPD")]), ["k"])
    s1 = log.snapshot_ids()[-1]
    log.delete_where(spark, F.col("k") < 3)
    md = log.current_metadata()
    assert md["properties"].get("aligned.merge-keys") == "k"
    last = md["snapshots"][-1]
    assert "merge-keys" not in last["summary"]
    assert _counts(log.read_changes(spark, s1)) == {"delete": 3}


def test_mor_merge_also_records_keys_for_later_rewrites(spark, tmp_path):
    """An MOR-only table (never CoW-merged) still hands its keys to
    later keyless replaceWhere commits — both write postures record
    the merge-key property."""
    from aligned_spark.sources.delta_log import DeltaLog

    log = DeltaLog(str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, v=f"v{i}") for i in range(40)]
        ).coalesce(1),
        "append",
    )
    log.merge_upsert_mor(
        spark.createDataFrame([Row(k=5, v="UPD")]), ["k"]
    )
    v1 = log.latest_version()
    log.replace_where(
        spark.createDataFrame([Row(k=2, v="NEW")]), F.col("k") == 2
    )
    info = [
        a["commitInfo"]
        for a in log._read_commit(log.latest_version())
        if "commitInfo" in a
    ][0]
    assert info["operationParameters"].get("mergeKeys") == "k"
    assert _counts(log.read_cdf(spark, v1)) == {
        "update_preimage": 1,
        "update_postimage": 1,
    }
