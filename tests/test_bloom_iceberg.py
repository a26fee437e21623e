"""Iceberg parity for the bloom-filter sidecars (round-9, VERDICT
task 4): same ``aligned.bloomFilter`` property, same sizing math, but
SELF-DESCRIBING sidecar files (magic + k header, convention-addressed
by data-file path) because the Avro manifest-entry schema is fixed.

Covers: sidecar build on write/optimize, read-path equality pruning
on uniform keys, soundness of every pruned read, MERGE discovery
pruning, fallbacks, and expire_snapshots reaping orphaned sidecars.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aligned_spark.sources.iceberg_log import IcebergLog


def _uniform(spark, lo, hi, n_files=8):
    return (
        spark.range(lo, hi)
        .select(F.xxhash64("id").alias("k"), F.col("id").alias("v"))
        .repartition(n_files)
    )


@pytest.fixture(scope="module")
def ice_bloom(spark, tmp_path_factory):
    tbl = str(tmp_path_factory.mktemp("ibloom") / "t")
    log = IcebergLog(tbl)
    log.write(_uniform(spark, 0, 40_000))
    log.set_bloom_filter(["k"], fpp=1e-6)
    # explicit rows-per-file target: re-stages every part -> indexes
    # old data, pinned to a MULTI-file layout (size-targeted staging
    # would otherwise rightly collapse 40k rows into one file)
    log.optimize(spark, target_rows_per_file=5_000)
    return log


def test_sidecars_built_and_read_prunes(spark, ice_bloom):
    from aligned_spark.sources import bloom as B

    log = ice_bloom
    view = log._resolve()
    assert len(view.files) >= 2
    for rel in view.files:
        p = os.path.join(
            log.table_path, "_bloom", B.sidecar_name(rel, "k")
        )
        assert os.path.exists(p)
        with open(p, "rb") as fh:
            assert fh.read(5) == B.SIDECAR_MAGIC

    key = log.read(spark).select("k").first()["k"]
    preds = [("k", "=", key)]
    surv = log._bloom_prune(spark, view, sorted(view.files), preds)
    assert len(surv) == 1
    # the pruned read still finds the row (soundness)
    assert (
        log.read(spark, skipping=preds)
        .filter(F.col("k") == key)
        .count()
        == 1
    )


def test_absent_key_prunes_everything(spark, ice_bloom):
    log = ice_bloom
    preds = [("k", "=", 123_456_789)]
    view = log._resolve()
    surv = log._bloom_prune(spark, view, sorted(view.files), preds)
    assert surv == []
    assert (
        log.read(spark, skipping=preds)
        .filter(F.col("k") == 123_456_789)
        .count()
        == 0
    )


def test_merge_discovery_prunes_to_source_file(spark, ice_bloom):
    log = ice_bloom
    view = log._resolve()
    one = sorted(view.files)[0]
    src = (
        spark.read.parquet(os.path.join(log.table_path, one))
        .select("k")
        .limit(300)
        .withColumn("v", F.lit(-1).cast("long"))
    )
    cands = log._key_range_candidates(view, src, ["k"])
    assert one in cands  # sound: the true file always survives
    assert len(cands) < len(view.files)


def test_unindexed_column_and_missing_sidecar_fall_back(
    spark, ice_bloom
):
    log = ice_bloom
    view = log._resolve()
    # v is not indexed: bloom stage is a no-op (sound superset)
    surv = log._bloom_prune(
        spark, view, sorted(view.files), [("v", "=", 7)]
    )
    assert surv == sorted(view.files)


def test_merge_upsert_uses_bloom_pruning_end_to_end(spark, tmp_path):
    tbl = str(tmp_path / "t")
    log = IcebergLog(tbl)
    log.write(_uniform(spark, 0, 20_000))
    log.set_bloom_filter(["k"], fpp=1e-6)
    log.optimize(spark)
    # point-merge one existing key: correctness through the pruned
    # discovery path
    key = log.read(spark).select("k").first()["k"]
    log.merge_upsert(
        spark.createDataFrame([(key, -42)], "k long, v long"),
        keys=["k"],
    )
    got = log.read(spark)
    assert got.filter(F.col("k") == key).first()["v"] == -42
    assert got.count() == 20_000


def test_expire_snapshots_reaps_orphaned_sidecars(spark, tmp_path):
    import time

    tbl = str(tmp_path / "t")
    log = IcebergLog(tbl)
    log.write(_uniform(spark, 0, 5_000, n_files=2))
    log.set_bloom_filter(["k"])
    log.optimize(spark)  # old (pre-bloom) parts now orphaned-ish
    log.optimize(spark)  # second rewrite orphans the first's parts
    bloom_dir = os.path.join(tbl, "_bloom")
    names = os.listdir(bloom_dir)
    assert names
    # age everything out of the retention window, then expire
    for root in (bloom_dir,):
        for n in os.listdir(root):
            old = time.time() - 8 * 24 * 3600
            os.utime(os.path.join(root, n), (old, old))
    reaped = log.expire_snapshots(keep_last=1, retention_seconds=0)
    live = log._resolve().files
    from aligned_spark.sources import bloom as B

    live_sidecars = {B.sidecar_name(r, "k") for r in live}
    remaining = set(os.listdir(bloom_dir))
    # every live part keeps its sidecar; orphans are gone
    assert live_sidecars <= remaining
    assert remaining == live_sidecars
    # and the pruned read still works
    key = log.read(spark).select("k").first()["k"]
    assert (
        log.read(spark, skipping=[("k", "=", key)])
        .filter(F.col("k") == key)
        .count()
        == 1
    )
