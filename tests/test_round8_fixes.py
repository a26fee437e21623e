"""Regression tests for the round-8 ADVICE fixes.

1. Delta checkpoints persist ``metadata.configuration`` — CHECK
   constraints survive checkpoint-accelerated replay (delta-spark
   checkpoints carry the full metaData action).
2. Delta ``overwrite`` with a schema/partition change carries table
   properties (constraints) into the rebuilt metaData instead of
   hardcoding ``configuration: {}``.
3. Delta CDF over a RESTORE commit that mixes remove/add CoW actions
   with sidecar re-adds/drops (MOR state) emits the full row diff —
   including deletes for removed-part rows and inserts for rows a
   dropped sidecar resurrects.
4. Iceberg idempotent-writer watermarks survive ``expire_snapshots``
   (persisted in table properties at commit time, folded in on
   expiry for legacy tables).
5. Delta ``overwrite`` prunes now-dead position-delete sidecars and
   restores the base protocol (no stale reader-feature gate).
"""

import pytest
from pyspark.sql import Row, functions as F


def _log(tmp_path, **kw):
    from aligned_spark.sources.delta_log import DeltaLog

    return DeltaLog(str(tmp_path / "tbl"), **kw)


# ---------------------------------------------------------------- 1


def test_constraints_survive_checkpoint(spark, tmp_path):
    log = _log(tmp_path, checkpoint_interval=3)
    log.write(spark.createDataFrame([Row(k=1, v=10)]), "append")
    log.add_constraint(spark, "v_pos", "v > 0")
    # cross the checkpoint boundary (interval 3 → checkpoint at v3)
    log.write(spark.createDataFrame([Row(k=2, v=20)]), "append")
    log.write(spark.createDataFrame([Row(k=3, v=30)]), "append")
    assert log._last_checkpoint() is not None, "no checkpoint written"
    # fresh log instance replays FROM the checkpoint
    fresh = _log(tmp_path, checkpoint_interval=3)
    assert fresh.constraints() == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="v_pos"):
        fresh.write(spark.createDataFrame([Row(k=4, v=-1)]), "append")


# ---------------------------------------------------------------- 2


def test_overwrite_schema_change_preserves_constraints(spark, tmp_path):
    log = _log(tmp_path)
    log.write(spark.createDataFrame([Row(k=1, v=10)]), "append")
    log.add_constraint(spark, "v_pos", "v > 0")
    # overwriteSchema: adds a column — metaData is rebuilt
    log.write(
        spark.createDataFrame([Row(k=1, v=5, w="x")]),
        "overwrite",
        merge_schema=True,
    )
    assert log.constraints() == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="v_pos"):
        log.write(
            spark.createDataFrame([Row(k=2, v=-3, w="y")]), "append"
        )


def test_overwrite_batch_validated_against_constraints(spark, tmp_path):
    log = _log(tmp_path)
    log.write(spark.createDataFrame([Row(k=1, v=10)]), "append")
    log.add_constraint(spark, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="v_pos"):
        log.write(spark.createDataFrame([Row(k=1, v=-1)]), "overwrite")


# ---------------------------------------------------------------- 3


def _cdf_rows(df):
    return {
        (r["k"], r["v"], r["_change_type"])
        for r in df.select("k", "v", "_change_type").collect()
    }


def test_cdf_over_restore_across_mor_state(spark, tmp_path):
    log = _log(tmp_path)
    log.write(
        spark.createDataFrame(
            [Row(k=i, v=i * 10) for i in range(1, 7)]
        ),
        "append",
    )  # v0: rows 1..6
    log.delete_where_mor(spark, F.col("k") <= 2)  # v1: kill 1, 2
    v1 = log.latest_version()
    assert {r["k"] for r in log.read(spark).collect()} == {3, 4, 5, 6}
    # restore to v0: drops the sidecar — rows 1 and 2 RESURRECT
    log.restore(0)
    v2 = log.latest_version()
    assert {r["k"] for r in log.read(spark).collect()} == set(
        range(1, 7)
    )
    got = _cdf_rows(log.read_cdf(spark, from_version=v1, to_version=v2))
    assert got == {(1, 10, "insert"), (2, 20, "insert")}
    # and restoring BACK to the MOR state emits the deletes again
    log.restore(v1)
    v3 = log.latest_version()
    got = _cdf_rows(log.read_cdf(spark, from_version=v2, to_version=v3))
    assert got == {(1, 10, "delete"), (2, 20, "delete")}


def test_cdf_over_restore_with_part_swap_and_sidecar(spark, tmp_path):
    log = _log(tmp_path)
    log.write(
        spark.createDataFrame([Row(k=i, v=i * 10) for i in (1, 2, 3)]),
        "append",
    )  # v0
    log.delete_where_mor(spark, F.col("k") == 1)  # v1: MOR-kill k=1
    log.write(
        spark.createDataFrame([Row(k=9, v=90)]), "append"
    )  # v2: new part
    v2 = log.latest_version()
    # restore to v1: removes the k=9 part AND keeps the sidecar —
    # the restore commit mixes removes with MOR state
    log.restore(1)
    v3 = log.latest_version()
    assert {r["k"] for r in log.read(spark).collect()} == {2, 3}
    got = _cdf_rows(log.read_cdf(spark, from_version=v2, to_version=v3))
    assert got == {(9, 90, "delete")}


# ---------------------------------------------------------------- 4


def test_iceberg_txn_watermark_survives_expiry(spark, tmp_path):
    from aligned_spark.sources.iceberg_log import IcebergLog

    log = IcebergLog(str(tmp_path / "ice"))
    log.write(
        spark.createDataFrame([Row(k=1)]), "append", txn=("app", 7)
    )
    log.write(spark.createDataFrame([Row(k=2)]), "append")
    log.write(spark.createDataFrame([Row(k=3)]), "append")
    assert log.txn_version("app") == 7
    # expire everything but the newest snapshot — the app watermark
    # rode the FIRST (now expired) snapshot's summary
    log.expire_snapshots(keep_last=1, retention_seconds=0)
    assert log.txn_version("app") == 7


def test_iceberg_expiry_folds_legacy_summary_watermarks(spark, tmp_path):
    """A table written BEFORE commit-time property persistence (the
    watermark lives only in a snapshot summary) still keeps it when
    that snapshot expires — expire_snapshots folds it in."""
    from aligned_spark.sources.iceberg_log import IcebergLog

    log = IcebergLog(str(tmp_path / "ice"))
    log.write(
        spark.createDataFrame([Row(k=1)]), "append", txn=("app", 4)
    )
    # simulate a legacy table: strip the property the commit wrote
    md = log.current_metadata()
    new_md = dict(md)
    props = dict(new_md.get("properties") or {})
    props.pop("txn.app", None)
    new_md["properties"] = props
    from aligned_spark.sources.iceberg_log import _READ_VERSION_KEY

    log._commit_metadata(new_md, md[_READ_VERSION_KEY] + 1)
    log.write(spark.createDataFrame([Row(k=2)]), "append")
    log.expire_snapshots(keep_last=1, retention_seconds=0)
    assert log.txn_version("app") == 4


# ---------------------------------------------------------------- 5


def test_overwrite_prunes_dead_sidecars(spark, tmp_path):
    log = _log(tmp_path)
    log.write(
        spark.createDataFrame([Row(k=i) for i in range(1, 5)]),
        "append",
    )
    log.delete_where_mor(spark, F.col("k") == 1)
    assert log.snapshot().delete_files, "MOR delete left no sidecar"
    log.write(spark.createDataFrame([Row(k=99)]), "overwrite")
    snap = log.snapshot()
    assert not snap.delete_files, "overwrite left stale sidecars"
    # protocol back to base: a plain reader may read the table again
    proto = log._protocol_action(bool(snap.delete_files))["protocol"]
    assert not proto.get("readerFeatures")
    assert {r["k"] for r in log.read(spark).collect()} == {99}


# ----------------------------------------- iceberg replaceWhere (r8)


def test_iceberg_replace_where_atomic_region_swap(spark, tmp_path):
    """Delta-parity replaceWhere on the pure-Python Iceberg log: one
    snapshot replaces exactly the matching rows; non-matching rows in
    touched parts survive; untouched parts never rewrite."""
    from aligned_spark.sources.iceberg_log import IcebergLog

    log = IcebergLog(str(tmp_path / "ice"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, part="a" if i < 50 else "b", v=i)
             for i in range(100)]
        ).repartition(2),
        "append",
    )
    snaps_before = len(log.current_metadata()["snapshots"])
    repl = spark.createDataFrame(
        [Row(k=i, part="a", v=i + 1000) for i in range(5)]
    )
    log.replace_where(repl, F.col("part") == "a")
    md = log.current_metadata()
    assert len(md["snapshots"]) == snaps_before + 1  # ONE snapshot
    got = {r["k"]: r["v"] for r in log.read(spark).collect()}
    assert {k for k in got if k < 50} == set(range(5))
    assert got[0] == 1000
    assert got[60] == 60  # region b untouched


def test_iceberg_replace_where_validates_predicate(spark, tmp_path):
    from aligned_spark.sources.iceberg_log import IcebergLog

    log = IcebergLog(str(tmp_path / "ice"))
    log.write(
        spark.createDataFrame([Row(k=1, part="a", v=1)]), "append"
    )
    with pytest.raises(ValueError, match="violate the predicate"):
        log.replace_where(
            spark.createDataFrame([Row(k=2, part="b", v=2)]),
            F.col("part") == "a",
        )
    with pytest.raises(ValueError, match="never evolves"):
        log.replace_where(
            spark.createDataFrame([Row(k=2, part="a", v=2, extra=1)]),
            F.col("part") == "a",
        )


def test_iceberg_replace_where_keyed_cdc(spark, tmp_path):
    """After a MERGE established key discipline, the replaceWhere
    snapshot's change feed is the keyed diff: update pairs for
    re-valued keys."""
    from aligned_spark.sources.iceberg_log import IcebergLog

    log = IcebergLog(str(tmp_path / "ice"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, part="a", v=i) for i in range(10)]
        ).coalesce(1),
        "append",
    )
    log.merge_upsert(
        spark.createDataFrame([Row(k=0, part="a", v=100)]), ["k"]
    )
    s1 = log.snapshot_ids()[-1]
    log.replace_where(
        spark.createDataFrame(
            [Row(k=i, part="a", v=i + 1000) for i in range(10)]
        ),
        F.col("part") == "a",
    )
    ch = log.read_changes(spark, s1)
    counts = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert counts == {"update_preimage": 10, "update_postimage": 10}


def test_iceberg_source_overwrite_predicate_pure_python(spark, tmp_path):
    """IcebergSource.overwrite(df, predicate) now routes to
    replace_where on the pure-Python log instead of raising."""
    from aligned_spark.sources.iceberg import IcebergSource

    src = IcebergSource(path=str(tmp_path / "ice"))
    src.insert(
        spark.createDataFrame(
            [Row(k=1, part="a", v=1), Row(k=2, part="b", v=2)]
        )
    )
    src.overwrite(
        spark.createDataFrame([Row(k=9, part="a", v=9)]),
        F.col("part") == "a",
    )
    got = {r["k"]: r["part"] for r in src.read(spark).collect()}
    assert got == {9: "a", 2: "b"}


# ------------------------------- MERGE dynamic file pruning (r8)


def test_delta_merge_prunes_files_by_key_range(spark, tmp_path):
    """A bounded-key-range MERGE discovers its touched files by
    scanning only range-overlapping parts: two disjoint-range parts,
    a merge into the second range must neither scan nor rewrite the
    first."""
    log = _log(tmp_path)
    log.write(
        spark.createDataFrame(
            [Row(k=i, v="lo") for i in range(100)]
        ).coalesce(1),
        "append",
    )
    log.write(
        spark.createDataFrame(
            [Row(k=i, v="hi") for i in range(1000, 1100)]
        ).coalesce(1),
        "append",
    )
    snap = log.snapshot()
    assert len(snap.files) == 2
    src = spark.createDataFrame([Row(k=1050, v="UPD")])
    cand = log._key_range_candidates(
        snap, src.select("k").distinct(), ["k"]
    )
    assert len(cand) == 1, cand  # only the hi-range part
    log.merge_upsert(src, ["k"])
    removed = [
        a["remove"]["path"]
        for a in log._read_commit(log.latest_version())
        if "remove" in a
    ]
    assert removed == cand  # the lo-range part never rewrote
    got = {r["k"]: r["v"] for r in log.read(spark).collect()}
    assert got[1050] == "UPD" and got[0] == "lo" and len(got) == 200


def test_delta_merge_prune_is_sound_superset(spark, tmp_path):
    """Files without stats and sources spanning every part stay
    candidates — pruning never drops a truly touched file."""
    import json as _json
    import os as _os

    log = _log(tmp_path)
    log.write(
        spark.createDataFrame(
            [Row(k=i, v="a") for i in range(50)]
        ).coalesce(1),
        "append",
    )
    # strip the stats from the commit on disk (legacy writer)
    commit = _os.path.join(log.log_dir, "0" * 20 + ".json")
    lines = []
    for ln in open(commit, encoding="utf-8"):
        d = _json.loads(ln)
        if "add" in d:
            d["add"].pop("stats", None)
        lines.append(_json.dumps(d))
    with open(commit, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    snap = log.snapshot()
    src = spark.createDataFrame([Row(k=999999, v="z")])
    # stats-less file stays a candidate even for a non-overlapping key
    assert log._key_range_candidates(
        snap, src.select("k").distinct(), ["k"]
    ) == sorted(snap.files)
    log.merge_upsert(spark.createDataFrame([Row(k=3, v="UPD")]), ["k"])
    got = {r["k"]: r["v"] for r in log.read(spark).collect()}
    assert got[3] == "UPD" and len(got) == 50


def test_delta_mor_merge_prunes_pair_scan(spark, tmp_path):
    """The MOR merge's pair discovery takes the same pruned path; a
    source with NO range overlap degrades to a pure append (no
    sidecar, no protocol gate)."""
    log = _log(tmp_path)
    log.write(
        spark.createDataFrame(
            [Row(k=i, v="a") for i in range(100)]
        ).coalesce(1),
        "append",
    )
    base_files = set(log.snapshot().files)
    log.merge_upsert_mor(
        spark.createDataFrame([Row(k=5000, v="new")]), ["k"]
    )
    snap = log.snapshot()
    assert not snap.delete_files  # nothing matched -> no sidecar
    assert base_files <= set(snap.files)  # base part never rewrote
    removed = [
        a
        for a in log._read_commit(log.latest_version())
        if "remove" in a
    ]
    assert not removed
    got = {r["k"] for r in log.read(spark).collect()}
    assert 5000 in got and len(got) == 101


def test_iceberg_merge_prunes_files_by_key_range(spark, tmp_path):
    from aligned_spark.sources.iceberg_log import IcebergLog

    log = IcebergLog(str(tmp_path / "ice"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, v="lo") for i in range(100)]
        ).coalesce(1),
        "append",
    )
    log.write(
        spark.createDataFrame(
            [Row(k=i, v="hi") for i in range(1000, 1100)]
        ).coalesce(1),
        "append",
    )
    view = log._resolve()
    assert len(view.files) == 2
    src = spark.createDataFrame([Row(k=1050, v="UPD")])
    cand = log._key_range_candidates(
        view, src.select("k").distinct(), ["k"]
    )
    assert len(cand) == 1, cand
    log.merge_upsert(src, ["k"])
    new_view = log._resolve()
    # the lo-range part carried over verbatim (same physical file)
    lo_file = next(p for p in view.files if p not in cand)
    assert lo_file in new_view.files
    got = {r["k"]: r["v"] for r in log.read(spark).collect()}
    assert got[1050] == "UPD" and got[0] == "lo" and len(got) == 200


# ------------------------------------- compaction policy hook (r8)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_maybe_optimize_policy(spark, tmp_path, fmt):
    """should_compact is metadata-only and fires on either threshold;
    maybe_optimize compacts exactly when it says so and restores a
    sidecar-free table."""
    if fmt == "delta":
        log = _log(tmp_path)
    else:
        from aligned_spark.sources.iceberg_log import IcebergLog

        log = IcebergLog(str(tmp_path / "ice"))
    log.write(
        spark.createDataFrame([Row(k=i) for i in range(100)]).coalesce(1),
        "append",
    )
    assert not log.should_compact()  # no MOR state at all
    assert log.maybe_optimize(spark) is False
    log.delete_where_mor(spark, F.col("k") < 2)  # 2% dead, 1 sidecar
    assert not log.should_compact()  # under both thresholds
    log.delete_where_mor(spark, (F.col("k") >= 2) & (F.col("k") < 15))
    assert log.should_compact()  # 15% >= 10% deleted ratio
    assert log.maybe_optimize(spark) is True
    d = log.detail()
    assert d["numDeleteFiles"] == 0
    assert log.read(spark).count() == 85
    # sidecar-COUNT threshold fires even at tiny deleted ratios
    for i in range(8):
        log.delete_where_mor(spark, F.col("k") == 20 + i)
    assert log.should_compact(max_deleted_ratio=0.99)


# ------------------------------------ MERGE schema evolution (r8)


def test_merge_schema_evolution(spark, tmp_path):
    """autoMerge parity: a MERGE source with a NEW column widens the
    table in the same commit; untouched parts project NULL for it,
    matched rows take the source values, and a plain MERGE with the
    evolved schema keeps working."""
    log = _log(tmp_path)
    log.write(
        spark.createDataFrame(
            [Row(k=i, v=f"v{i}") for i in range(6)]
        ).coalesce(1),
        "append",
    )
    # separate part that the merge will NOT touch
    log.write(
        spark.createDataFrame([Row(k=100, v="far")]), "append"
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        log.merge_upsert(
            spark.createDataFrame([Row(k=1, v="U", w=9)]), ["k"]
        )
    with pytest.raises(ValueError, match="every existing"):
        log.merge_upsert(
            spark.createDataFrame([Row(k=1, w=9)]),
            ["k"],
            merge_schema=True,
        )
    log.merge_upsert(
        spark.createDataFrame([Row(k=1, v="U", w=9)]),
        ["k"],
        merge_schema=True,
    )
    got = {r["k"]: (r["v"], r["w"]) for r in log.read(spark).collect()}
    assert got[1] == ("U", 9)
    assert got[0] == ("v0", None)  # rewritten survivor, NULL w
    assert got[100] == ("far", None)  # untouched part projects NULL
    # evolved schema is durable: a fresh instance sees it and a
    # full-width merge keeps working
    fresh = _log(tmp_path)
    assert "w" in [f.name for f in fresh.snapshot().schema().fields]
    fresh.merge_upsert(
        spark.createDataFrame([Row(k=100, v="FAR", w=7)]), ["k"]
    )
    got = {r["k"]: (r["v"], r["w"]) for r in fresh.read(spark).collect()}
    assert got[100] == ("FAR", 7)


def test_iceberg_merge_schema_evolution(spark, tmp_path):
    from aligned_spark.sources.iceberg_log import IcebergLog

    log = IcebergLog(str(tmp_path / "ice"))
    log.write(
        spark.createDataFrame(
            [Row(k=i, v=f"v{i}") for i in range(6)]
        ).coalesce(1),
        "append",
    )
    log.write(spark.createDataFrame([Row(k=100, v="far")]), "append")
    with pytest.raises(ValueError, match="merge_schema=True"):
        log.merge_upsert(
            spark.createDataFrame([Row(k=1, v="U", w=9)]), ["k"]
        )
    with pytest.raises(ValueError, match="every existing"):
        log.merge_upsert(
            spark.createDataFrame([Row(k=1, w=9)]),
            ["k"],
            merge_schema=True,
        )
    log.merge_upsert(
        spark.createDataFrame([Row(k=1, v="U", w=9)]),
        ["k"],
        merge_schema=True,
    )
    got = {r["k"]: (r["v"], r["w"]) for r in log.read(spark).collect()}
    assert got[1] == ("U", 9)
    assert got[0] == ("v0", None)
    assert got[100] == ("far", None)
    # spec bookkeeping: fresh field id, bumped schema-id, history kept
    md = log.current_metadata()
    names = [f["name"] for f in md["schema"]["fields"]]
    assert names == ["k", "v", "w"]
    assert md["schema"]["schema-id"] >= 1
    assert len(md["schemas"]) >= 2
    w_field = next(f for f in md["schema"]["fields"] if f["name"] == "w")
    assert w_field["id"] == md["last-column-id"]
