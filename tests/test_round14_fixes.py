"""Round-14 optimization-round fixes.

Covers: the EXCLUSIVE ``afterSnapshotId`` iceberg stream start (the
overlapped-startup enabler — expressible before the tailed snapshots
exist), its mutual exclusion with ``startingSnapshotId``, and that a
stream opened with it BEFORE the producer's commits drains exactly
the post-watermark feed.
"""

from __future__ import annotations

import pytest

from aligned_spark.sources.iceberg_log import IcebergLog
from aligned_spark.streaming.sources import TableStreamSource


def _drain(sdf, out: str, ckpt: str):
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


def test_iceberg_after_snapshot_id_excludes_watermark(spark, tmp_path):
    tbl = str(tmp_path / "i")
    log = IcebergLog(tbl)
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr("id")
    log.write(mk(0, 10), mode="append")
    sid0 = log.snapshot_ids()[0]
    log.write(mk(10, 20), mode="append")
    log.write(mk(20, 25), mode="append")

    src = TableStreamSource(
        path=tbl, table_format="iceberg", after_snapshot_id=sid0
    )
    sdf = src.read_stream(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(sdf, out, ckpt)
    got = spark.read.schema(sdf.schema).parquet(out)
    # strictly AFTER the watermark snapshot: rows 10..24 only
    assert sorted(r.id for r in got.collect()) == list(range(10, 25))


def test_iceberg_after_snapshot_id_opened_before_commits(spark, tmp_path):
    """The overlapped-startup shape: the stream opens when only the
    watermark snapshot exists; later appends drain on the running
    query — exactly once, nothing from the watermark itself."""
    tbl = str(tmp_path / "i")
    log = IcebergLog(tbl)
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr("id")
    log.write(mk(0, 10), mode="append")
    sid0 = log.snapshot_ids()[0]

    src = TableStreamSource(
        path=tbl, table_format="iceberg", after_snapshot_id=sid0
    )
    sdf = src.read_stream(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        log.write(mk(10, 20), mode="append")
        log.write(mk(20, 25), mode="append")
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = spark.read.schema(sdf.schema).parquet(out)
    assert sorted(r.id for r in got.collect()) == list(range(10, 25))
    assert got.count() == got.distinct().count()


def test_after_snapshot_id_validation(spark, tmp_path):
    tbl = str(tmp_path / "i")
    log = IcebergLog(tbl)
    log.write(spark.range(0, 5).selectExpr("id"), mode="append")
    sid0 = log.snapshot_ids()[0]

    # mutually exclusive with the inclusive start
    src = TableStreamSource(
        path=tbl,
        table_format="iceberg",
        starting_snapshot_id=sid0,
        after_snapshot_id=sid0,
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="mutually exclusive"):
        _drain(src.read_stream(spark), out, ckpt)

    # unknown watermark id fails fast
    src2 = TableStreamSource(
        path=tbl, table_format="iceberg", after_snapshot_id=123456789
    )
    with pytest.raises(Exception, match="afterSnapshotId"):
        _drain(
            src2.read_stream(spark),
            str(tmp_path / "o2"),
            str(tmp_path / "c2"),
        )

    # afterSnapshotId=0 replays the whole history
    src3 = TableStreamSource(
        path=tbl, table_format="iceberg", after_snapshot_id=0
    )
    sdf3 = src3.read_stream(spark)
    out3, ckpt3 = str(tmp_path / "o3"), str(tmp_path / "c3")
    _drain(sdf3, out3, ckpt3)
    got = spark.read.schema(sdf3.schema).parquet(out3)
    assert sorted(r.id for r in got.collect()) == list(range(5))


def test_manifest_cache_parses_once(spark, tmp_path, monkeypatch):
    """N resolves of an immutable snapshot parse its manifest list +
    manifests exactly once (process-wide LRU keyed on path+stat);
    a new commit's fresh files parse fresh."""
    import aligned_spark.sources.iceberg_log as il

    tbl = str(tmp_path / "i")
    log = il.IcebergLog(tbl)
    log.write(spark.range(0, 10).selectExpr("id"), mode="append")

    calls = []
    real = il.read_container

    def counting(path, *a, **kw):
        calls.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(il, "read_container", counting)
    il._MANIFEST_CACHE.clear()

    v1 = log._resolve()
    first = len(calls)
    assert first >= 2  # manifest list + >=1 manifest actually parsed
    for _ in range(5):
        v = log._resolve()
        assert v.files == v1.files
    assert len(calls) == first  # all later resolves were cache hits

    # a new snapshot's NEW metadata files are parsed (not served
    # stale), and the old snapshot stays resolvable from cache
    log.write(spark.range(10, 20).selectExpr("id"), mode="append")
    before = len(calls)
    v2 = log._resolve()
    assert len(calls) > before
    assert len(v2.files) > len(v1.files)
    again = len(calls)
    log._resolve()
    assert len(calls) == again


def test_manifest_cache_evicts_by_bytes(spark, tmp_path, monkeypatch):
    """The manifest LRU holds at most ``_MANIFEST_CACHE_MAX_BYTES`` of
    manifest files: past the cap the least recently used files go
    first, whatever the entry count."""
    import aligned_spark.sources.iceberg_log as il

    log = il.IcebergLog(str(tmp_path / "i"))
    for lo in range(0, 30, 10):
        log.write(spark.range(lo, lo + 10).selectExpr("id"), mode="append")
    il._MANIFEST_CACHE.clear()
    log._resolve()
    parsed = list(il._MANIFEST_CACHE)
    sizes = [size for _, size, _ in parsed]
    assert len(parsed) >= 3 and min(sizes) > 0

    # room for all but the oldest entry
    cap = sum(sizes) - 1
    monkeypatch.setattr(il, "_MANIFEST_CACHE_MAX_BYTES", cap)
    il._MANIFEST_CACHE.clear()
    log._resolve()
    assert list(il._MANIFEST_CACHE) == parsed[1:]
    assert sum(size for _, size, _ in il._MANIFEST_CACHE) <= cap

    # a cap below any one file keeps only the newest
    monkeypatch.setattr(il, "_MANIFEST_CACHE_MAX_BYTES", 1)
    il._MANIFEST_CACHE.clear()
    log._resolve()
    assert list(il._MANIFEST_CACHE) == parsed[-1:]


def test_arrow_cosine_null_guard(spark):
    """NULL / null-element / mismatched-length vectors yield NULL sim
    (the codegen fold's semantics) instead of crashing np.stack in
    the Arrow kernel (r13 ADVICE)."""
    from aligned_spark.operators.similarity import top_k_similar

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, None),
            (4, [1.0, None]),
            (5, [1.0, 2.0, 3.0]),
        ],
        "id long, v array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 1.0])], "id long, v array<double>"
    )
    got = top_k_similar(
        queries, corpus, "id", "v", k=10, exclude_self=False
    )
    sims = {r.neighbor_id: r.sim for r in got.collect()}
    assert sims[1] is not None and sims[2] is not None
    assert abs(sims[1] - sims[2]) < 1e-12
    # invalid rows survive as NULL-sim candidates, never a crash
    for bad in (3, 4, 5):
        assert bad not in sims or sims[bad] is None


def test_lsh_buckets_null_guard(spark, tmp_path):
    """Index writes and LSH queries tolerate invalid vectors: NULL
    bucket codes (old per-table fold semantics), no executor crash."""
    from aligned_spark.sources.vector_index import VectorIndexSource

    rows = [
        (1, [float(i) for i in range(16)]),
        (2, None),
        (3, [1.0] * 15),
        (4, [1.0] * 15 + [None]),
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    idx = VectorIndexSource(path=str(tmp_path / "vi"), dim=16)
    idx.overwrite(df)  # must not crash
    stored = idx.read(spark)
    good = stored.filter("id = 1").first()
    assert good["__bucket_0"] is not None
    for bad in (2, 3, 4):
        r = stored.filter(f"id = {bad}").first()
        assert r["__bucket_0"] is None
        assert r["__bucket_1"] is None


def test_size_targeting_respects_filtered_repartition(spark, tmp_path):
    """An explicit repartition below a Filter is a caller-chosen
    layout too (Filter preserves partitioning) — size-targeting must
    not override it (r13 ADVICE)."""
    from aligned_spark.sources.delta_log import DeltaLog

    tbl = str(tmp_path / "t")
    log = DeltaLog(tbl)
    df = (
        spark.range(0, 1000)
        .selectExpr("id", "id * 2 as v")
        .repartition(6)
        .filter("id % 7 != 3")
    )
    log.write(df)
    assert len(log.snapshot().files) == 6


def test_size_targeting_bails_on_generate(spark, tmp_path):
    """Generate under-estimates output bytes (child sizeInBytes
    passes through) — explode-heavy writes keep their natural
    partitioning instead of over-coalescing (r13 ADVICE)."""
    from aligned_spark.sources import parts as P
    from aligned_spark.sources.delta_log import DeltaLog

    exploded = (
        spark.range(0, 64)
        .selectExpr("id", "sequence(0, 999) as seq")
        .selectExpr("id", "explode(seq) as x")
    )
    assert P._has_generate(exploded)
    assert not P._has_generate(spark.range(10).selectExpr("id"))
    # end-to-end: the write goes through unchanged partitioning
    tbl = str(tmp_path / "g")
    DeltaLog(tbl).write(exploded)
    assert len(DeltaLog(tbl).snapshot().files) >= 1
