"""Size-targeted staged writes (`sources/parts._size_targeted`).

A SMALL commit must not inherit the plan's full shuffle
partitioning (dozens of KB-sized parts that every later discovery
scan and footer harvest re-enumerates); it coalesces to its
byte-targeted file count. Explicit caller layouts (repartition /
repartitionByRange / coalesce at the frame root) and a disabled
target are respected verbatim.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aligned_spark.sources import parts as parts_mod
from aligned_spark.sources.delta_log import DeltaLog
from aligned_spark.sources.iceberg_log import IcebergLog


def _spread(spark, n=5_000):
    # a shuffle (groupBy) so the frame arrives with many partitions
    return (
        spark.range(n)
        .groupBy((F.col("id") % 500).alias("k"))
        .agg(F.sum("id").alias("v"))
    )


def test_small_delta_write_coalesces_to_one_part(spark, tmp_path):
    log = DeltaLog(str(tmp_path / "t"))
    log.write(_spread(spark))
    assert len(log.snapshot().files) == 1


def test_small_iceberg_merge_stays_one_part(spark, tmp_path):
    log = IcebergLog(str(tmp_path / "t"))
    log.write(_spread(spark))
    log.merge_upsert(
        spark.range(100).selectExpr("id as k", "id * 7 as v"), ["k"]
    )
    files = log._resolve().files
    assert len(files) == 1
    got = {
        r["k"]: r["v"]
        for r in log.read(spark).collect()
    }
    assert got[3] == 21  # merged row
    assert len(got) == 500


def test_explicit_repartition_is_respected(spark, tmp_path):
    log = DeltaLog(str(tmp_path / "t"))
    log.write(_spread(spark).repartition(6))
    assert len(log.snapshot().files) == 6


def _narrow4(spark):
    # parallelize keeps its 4 partitions through a narrow plan — no
    # exchange, so AQE never coalesces it and the partition count
    # reaching the writer is deterministic
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, float(i)) for i in range(400)], 4
        ),
        "k long, v double",
    )


def test_zero_target_disables_coalescing(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(parts_mod, "TARGET_FILE_BYTES", 0)
    log = DeltaLog(str(tmp_path / "t"))
    log.write(_narrow4(spark))
    assert len(log.snapshot().files) == 4


def test_small_narrow_scan_write_coalesces(spark, tmp_path):
    # RDD-backed frames carry no size stats (defaultSizeInBytes =
    # unbounded) so _narrow4 writes its 4 partitions verbatim; a
    # SCAN of those files has real byte stats and coalesces
    src = DeltaLog(str(tmp_path / "src"))
    src.write(_narrow4(spark))
    assert len(src.snapshot().files) == 4
    log = DeltaLog(str(tmp_path / "t"))
    log.write(src.read(spark).filter("k >= 0"))
    assert len(log.snapshot().files) == 1


def test_estimate_failure_logs_and_stages_unsized(spark, caplog):
    """A JVM error from the size estimate leaves the frame as it is
    and says so in the log, instead of silently staging unsized."""
    from types import SimpleNamespace

    from py4j.protocol import Py4JError

    df = _spread(spark)
    qe = df._jdf.queryExecution()

    def broken_estimate():
        raise Py4JError("stats unavailable")

    fake_qe = SimpleNamespace(
        analyzed=qe.analyzed,
        withCachedData=qe.withCachedData,
        optimizedPlan=broken_estimate,
    )
    frame = SimpleNamespace(
        sparkSession=spark,
        _jdf=SimpleNamespace(queryExecution=lambda: fake_qe),
    )
    with caplog.at_level("WARNING", logger=parts_mod.__name__):
        out = parts_mod._size_targeted(frame)
    assert out is frame
    msgs = [
        r.getMessage()
        for r in caplog.records
        if r.name == parts_mod.__name__
    ]
    assert any(
        "size-targeting skipped" in m and "stats unavailable" in m
        for m in msgs
    ), msgs


def test_cached_generate_is_size_targeted(spark, tmp_path):
    """A Generate inside a cached relation no longer turns
    size-targeting off: the relation's estimate is its materialized
    size."""
    def exploded():
        return spark.range(0, 64, numPartitions=4).selectExpr(
            "id", "explode(sequence(0, 9)) as x"
        )

    assert parts_mod._has_generate(exploded())
    cached = exploded().persist()
    try:
        cached.count()
        assert not parts_mod._has_generate(cached)
        log = DeltaLog(str(tmp_path / "t"))
        log.write(cached)
        assert len(log.snapshot().files) == 1
    finally:
        cached.unpersist()


def test_ivm_refresh_after_merge_keeps_one_aggregate_part(spark, tmp_path):
    """The refresh stages its aggregate MERGE from a persisted frame
    whose lineage holds the change feed's diff generator; the small
    aggregate must still stage as one part per refresh, not one per
    shuffle partition."""
    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.delta import DeltaSource

    src = DeltaSource(path=str(tmp_path / "base"))
    src.insert(
        spark.range(0, 4000)
        .selectExpr("id as k", "id % 50 as g", "id as v")
        .repartitionByRange(4, "k")
    )
    agg = IncrementalAggregate(
        source=src,
        target_path=str(tmp_path / "agg"),
        group_keys=["g"],
        sums=["v"],
    )
    agg.refresh(spark)
    src.upsert(
        spark.range(3900, 4100).selectExpr(
            "id as k", "id % 50 as g", "id * 3 as v"
        ),
        keys=["k"],
    )
    agg.refresh(spark)
    assert len(DeltaLog(str(tmp_path / "agg")).snapshot().files) == 1
