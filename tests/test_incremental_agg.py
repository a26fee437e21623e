"""Incremental aggregate maintenance (`operators/incremental.py`):
refreshes read only the CDC slice, the maintained aggregate always
equals a fresh group-by over the base, and the txn cursor makes
replays no-ops."""

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F


def _base_rows():
    return [Row(k=i, g="a" if i % 2 == 0 else "b", x=float(i)) for i in range(20)]


def _direct(spark, src):
    return {
        (r.g): (r.n, r.x)
        for r in src.read(spark)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("x"))
        .collect()
    }


def _maintained(spark, agg):
    return {
        (r.g): (r.n_rows, r.x) for r in agg.read(spark).collect()
    }


@pytest.fixture(
    params=["delta", "iceberg", "delta-mor", "iceberg-mor"]
)
def src(request, tmp_path, spark):
    """Both formats, both write postures — merge-on-read bases emit
    their CDC slices from position-delete pairs + appended parts and
    must maintain the aggregate identically to copy-on-write."""
    mor = request.param.endswith("-mor")
    if request.param.startswith("delta"):
        from aligned_spark.sources.delta import DeltaSource

        s = DeltaSource(path=str(tmp_path / "base"), merge_on_read=mor)
    else:
        from aligned_spark.sources.iceberg import IcebergSource

        s = IcebergSource(
            path=str(tmp_path / "base"), merge_on_read=mor
        )
    s.insert(spark.createDataFrame(_base_rows()).coalesce(1))
    return s


def test_incremental_matches_direct_groupby(spark, src, tmp_path):
    from aligned_spark.operators.incremental import IncrementalAggregate

    agg = IncrementalAggregate(
        source=src,
        target_path=str(tmp_path / "agg"),
        group_keys=["g"],
        sums=["x"],
    )
    assert agg.refresh(spark) is not None  # first = full build
    assert _maintained(spark, agg) == _direct(spark, src)
    assert agg.refresh(spark) is None  # already current — no-op

    # update two rows (one changes its GROUP: k=2 moves a -> b)
    src.upsert(
        spark.createDataFrame(
            [Row(k=2, g="b", x=100.0), Row(k=3, g="b", x=50.0)]
        ),
        keys=["k"],
    )
    assert agg.refresh(spark) is not None
    assert _maintained(spark, agg) == _direct(spark, src)

    # insert a brand-new group
    src.upsert(
        spark.createDataFrame([Row(k=99, g="c", x=1.0)]), keys=["k"]
    )
    agg.refresh(spark)
    assert _maintained(spark, agg) == _direct(spark, src)


def test_emptied_group_disappears(spark, src, tmp_path):
    from aligned_spark.operators.incremental import IncrementalAggregate

    agg = IncrementalAggregate(
        source=src,
        target_path=str(tmp_path / "agg"),
        group_keys=["g"],
        sums=["x"],
    )
    agg.refresh(spark)
    src.delete_where(spark, F.col("g") == "a")
    agg.refresh(spark)
    got = _maintained(spark, agg)
    assert "a" not in got
    assert got == _direct(spark, src)


def test_refresh_touches_only_changes(spark, src, tmp_path):
    """The incremental path must read the CDC slice, not the base:
    a 1-row change's delta frame contains <= 2 groups."""
    from aligned_spark.operators.incremental import (
        IncrementalAggregate,
        change_deltas,
    )

    agg = IncrementalAggregate(
        source=src,
        target_path=str(tmp_path / "agg"),
        group_keys=["g"],
        sums=["x"],
    )
    agg.refresh(spark)
    cursor = agg.last_applied()
    src.upsert(
        spark.createDataFrame([Row(k=5, g="b", x=500.0)]), keys=["k"]
    )
    ch = src.read_changes(spark, cursor)
    assert ch.count() == 2  # one pre/post pair, never part contents
    assert change_deltas(ch, ["g"], ["x"]).count() == 1
    agg.refresh(spark)
    assert _maintained(spark, agg) == _direct(spark, src)


def test_null_group_keys_rejected(spark, tmp_path):
    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.delta import DeltaSource

    src = DeltaSource(path=str(tmp_path / "base"))
    src.insert(
        spark.createDataFrame(
            [Row(k=1, g="a", x=1.0), Row(k=2, g=None, x=2.0)]
        )
    )
    agg = IncrementalAggregate(
        source=src,
        target_path=str(tmp_path / "agg"),
        group_keys=["g"],
        sums=["x"],
    )
    with pytest.raises(ValueError, match="null group keys"):
        agg.refresh(spark)


# ------------------------------------------------ hybrid MIN/MAX (r8)


def _direct_mm(spark, src):
    return {
        r.g: (r.n, r.x, r.mn, r.mx)
        for r in src.read(spark)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("x"),
            F.min("x").alias("mn"),
            F.max("x").alias("mx"),
        )
        .collect()
    }


def _maintained_mm(spark, agg):
    return {
        r.g: (r.n_rows, r.x, r.min_x, r.max_x)
        for r in agg.read(spark).collect()
    }


def test_minmax_hybrid_maintenance(spark, src, tmp_path):
    """Inserts fold into MIN/MAX monotonically; deletes that touch a
    group's extremum recompute ONLY that group; deletes that don't
    touch it stay incremental. Maintained result always equals the
    direct group-by, through a delete-heavy sequence."""
    from aligned_spark.operators.incremental import IncrementalAggregate

    agg = IncrementalAggregate(
        source=src,
        target_path=str(tmp_path / "agg"),
        group_keys=["g"],
        sums=["x"],
        mins=["x"],
        maxs=["x"],
    )
    agg.refresh(spark)
    assert _maintained_mm(spark, agg) == _direct_mm(spark, src)

    # monotone inserts: new max for 'a', new min for 'b'
    src.upsert(
        spark.createDataFrame(
            [Row(k=100, g="a", x=999.0), Row(k=101, g="b", x=-5.0)]
        ),
        keys=["k"],
    )
    agg.refresh(spark)
    assert _maintained_mm(spark, agg) == _direct_mm(spark, src)

    # extremum-touching delete: k=100 WAS a's max, k=101 b's min
    src.delete_where(spark, F.col("k").isin(100, 101))
    agg.refresh(spark)
    assert _maintained_mm(spark, agg) == _direct_mm(spark, src)

    # non-extremum delete: interior values (a holds 0..18 even, so
    # k=4/x=4.0 is interior) — incremental path, still exact
    src.delete_where(spark, F.col("k") == 4)
    agg.refresh(spark)
    assert _maintained_mm(spark, agg) == _direct_mm(spark, src)

    # update that MOVES a group's extremum value to another group
    src.upsert(
        spark.createDataFrame([Row(k=18, g="b", x=-50.0)]), keys=["k"]
    )
    agg.refresh(spark)
    assert _maintained_mm(spark, agg) == _direct_mm(spark, src)

    # delete-heavy: empty group 'b' entirely
    src.delete_where(spark, F.col("g") == "b")
    agg.refresh(spark)
    assert _maintained_mm(spark, agg) == _direct_mm(spark, src)
    assert "b" not in _maintained_mm(spark, agg)


def test_minmax_interior_delete_skips_recompute(spark, tmp_path):
    """The recompute set is exactly the extremum-touching groups: an
    interior delete leaves __recompute false so the base is never
    re-read (asserted via _apply_extrema_recompute's early return)."""
    from aligned_spark.operators.incremental import (
        IncrementalAggregate,
        change_deltas,
    )
    from aligned_spark.sources.delta import DeltaSource

    s = DeltaSource(path=str(tmp_path / "base"))
    s.insert(spark.createDataFrame(_base_rows()).coalesce(1))
    agg = IncrementalAggregate(
        source=s,
        target_path=str(tmp_path / "agg"),
        group_keys=["g"],
        sums=["x"],
        mins=["x"],
        maxs=["x"],
    )
    agg.refresh(spark)
    calls = []
    orig = agg._read_at

    def spy(spark_, version):
        calls.append(version)
        return orig(spark_, version)

    agg._read_at = spy
    # interior delete for both groups (a: 0..18 even -> 4 interior;
    # b: 1..19 odd -> 5 interior)
    s.delete_where(spark, F.col("k").isin(4, 5))
    agg.refresh(spark)
    assert calls == [], "interior delete must not re-read the base"
    assert _maintained_mm(spark, agg) == _direct_mm(spark, s)
    # extremum delete DOES re-read (once)
    s.delete_where(spark, F.col("k") == 0)  # a's min
    agg.refresh(spark)
    assert len(calls) == 1
    assert _maintained_mm(spark, agg) == _direct_mm(spark, s)


# ------------------------------------- IVM algebraic property (r8)


import uuid as _uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ivm_ops = st.lists(
    st.tuples(
        st.sampled_from(["append", "upsert", "delete"]),
        st.lists(
            st.integers(min_value=0, max_value=24),
            min_size=1,
            max_size=4,
            unique=True,
        ),
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(script=_ivm_ops)
def test_ivm_matches_direct_for_any_op_sequence(
    spark, ivm_tmp_dir, script
):
    """Property: for ANY append/upsert/delete sequence — including
    group moves, extremum churn, and emptied groups — the maintained
    COUNT/SUM/MIN/MAX aggregate equals a direct group-by over the
    base AFTER EVERY refresh (not just the final state)."""
    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.delta import DeltaSource

    base = f"{ivm_tmp_dir}/{_uuid.uuid4().hex}"
    src = DeltaSource(path=f"{base}/base")
    src.insert(
        spark.createDataFrame(
            [
                Row(k=i, g="a" if i % 2 == 0 else "b", x=float(i))
                for i in range(10)
            ]
        ).coalesce(1)
    )
    agg = IncrementalAggregate(
        source=src,
        target_path=f"{base}/agg",
        group_keys=["g"],
        sums=["x"],
        mins=["x"],
        maxs=["x"],
    )
    agg.refresh(spark)

    def direct():
        return {
            r.g: (r.n, r.x, r.mn, r.mx)
            for r in src.read(spark)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("x").alias("x"),
                F.min("x").alias("mn"),
                F.max("x").alias("mx"),
            )
            .collect()
        }

    def maintained():
        return {
            r.g: (r.n_rows, r.x, r.min_x, r.max_x)
            for r in agg.read(spark).collect()
        }

    assert maintained() == direct()
    existing = set(range(10))
    for step, (op, keys) in enumerate(script):
        if op == "append":
            fresh = [k for k in keys if k not in existing]
            if not fresh:
                continue
            src.insert(
                spark.createDataFrame(
                    [
                        Row(
                            k=k,
                            g="a" if (k + step) % 2 == 0 else "b",
                            x=float(step * 100 - k),
                        )
                        for k in fresh
                    ]
                )
            )
            existing.update(fresh)
        elif op == "upsert":
            # may MOVE groups and churn extrema (large +/- values)
            src.upsert(
                spark.createDataFrame(
                    [
                        Row(
                            k=k,
                            g="b" if (k + step) % 2 == 0 else "a",
                            x=float((step - 2) * 1000 + k),
                        )
                        for k in keys
                    ]
                ),
                keys=["k"],
            )
            existing.update(keys)
        else:
            src.delete_where(
                spark, F.col("k").isin([int(k) for k in keys])
            )
            existing -= set(keys)
        agg.refresh(spark)
        assert maintained() == direct(), (step, op, keys)


@pytest.fixture(scope="module")
def ivm_tmp_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ivmprop"))


# -------------------------------------- streaming ingest + IVM (r8)


def test_ivm_rides_a_streaming_ingest(spark, tmp_path):
    """The streaming-pipeline shape: each micro-batch lands in the
    Delta base, then `refresh()` advances the aggregate — per batch
    it reads ONLY that batch's CDC slice, and the maintained
    COUNT/SUM/MIN/MAX equals the direct group-by after every batch
    and at the end. The txn cursor makes a crashed-and-replayed
    refresh a no-op."""
    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.delta import DeltaSource

    src = DeltaSource(path=str(tmp_path / "base"))
    src.insert(
        spark.createDataFrame(
            [Row(k=0, g="a", x=0.0), Row(k=1, g="b", x=1.0)]
        )
    )
    agg = IncrementalAggregate(
        source=src,
        target_path=str(tmp_path / "agg"),
        group_keys=["g"],
        sums=["x"],
        mins=["x"],
        maxs=["x"],
    )
    agg.refresh(spark)

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "40")
        .load()
        .selectExpr(
            "CAST(value + 100 AS BIGINT) AS k",
            "CASE WHEN value % 2 = 0 THEN 'a' ELSE 'b' END AS g",
            "CAST(value * 1.5 AS DOUBLE) AS x",
        )
    )
    n_batches = []

    def sink(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        src.insert(batch_df)
        agg.refresh(spark)
        n_batches.append(batch_id)

    q = stream.writeStream.foreachBatch(sink).start()
    try:
        import time as _t

        deadline = _t.time() + 60
        while len(n_batches) < 2 and _t.time() < deadline:
            _t.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    assert len(n_batches) >= 2, "stream produced too few batches"
    # q.stop() can interrupt a micro-batch between its insert and its
    # refresh — exactly the crash the cursor exists for: one catch-up
    # refresh converges (and is a no-op if nothing was interrupted)
    agg.refresh(spark)
    direct = {
        r.g: (r.n, r.x, r.mn, r.mx)
        for r in src.read(spark)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("x"),
            F.min("x").alias("mn"),
            F.max("x").alias("mx"),
        )
        .collect()
    }
    maintained = {
        r.g: (r.n_rows, r.x, r.min_x, r.max_x)
        for r in agg.read(spark).collect()
    }
    assert maintained == direct
    # replayed refresh (same base version) is a no-op
    assert agg.refresh(spark) is None


# ------------------------------------------------------------------
# exact COUNT DISTINCT maintenance (round 9 — dual-view aux table)
# ------------------------------------------------------------------


def _rows_u():
    # u duplicates heavily inside groups so both transition kinds
    # (a-copy-survives, last-copy-dies) occur under deletes
    return [
        Row(k=i, g="a" if i % 2 == 0 else "b", x=float(i), u=i % 4)
        for i in range(20)
    ]


def _direct_cd(spark, src):
    return {
        r.g: (r.n, r.d)
        for r in src.read(spark)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("u").alias("d"),
        )
        .collect()
    }


def _maintained_cd(spark, agg):
    return {
        r.g: (r.n_rows, r.n_distinct_u)
        for r in agg.read(spark).collect()
    }


def test_count_distinct_maintenance(spark, tmp_path):
    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.delta import DeltaSource

    src = DeltaSource(path=str(tmp_path / "base"))
    src.insert(spark.createDataFrame(_rows_u()).coalesce(1))
    agg = IncrementalAggregate(
        source=src,
        target_path=str(tmp_path / "agg"),
        group_keys=["g"],
        sums=[],
        distincts=["u"],
    )
    agg.refresh(spark)
    assert _maintained_cd(spark, agg) == _direct_cd(spark, src)

    # insert a brand-new value (+1) and a duplicate (+0)
    src.insert(
        spark.createDataFrame(
            [Row(k=100, g="a", x=0.0, u=99), Row(k=101, g="a", x=0.0, u=0)]
        ).coalesce(1)
    )
    agg.refresh(spark)
    assert _maintained_cd(spark, agg) == _direct_cd(spark, src)

    # delete ONE copy of a duplicated value (count unchanged) and
    # the ONLY copy of u=99 (count drops)
    src.delete_where(spark, F.col("k").isin(100, 101))
    agg.refresh(spark)
    assert _maintained_cd(spark, agg) == _direct_cd(spark, src)

    # update that changes a key's VALUE and moves it across groups
    src.upsert(
        spark.createDataFrame([Row(k=3, g="a", x=3.0, u=77)]),
        keys=["k"],
    )
    agg.refresh(spark)
    assert _maintained_cd(spark, agg) == _direct_cd(spark, src)

    # kill every odd key: group b empties, its aux rows tombstone
    src.delete_where(spark, F.col("k") % 2 == 1)
    agg.refresh(spark)
    assert _maintained_cd(spark, agg) == _direct_cd(spark, src)
    assert "b" not in _maintained_cd(spark, agg)


def test_count_distinct_survives_cache_eviction_before_aux_commit(
    spark, tmp_path, monkeypatch
):
    """The distinct transitions are persisted, not checkpointed, so
    a recompute after eviction must still read the aux PRE-state.
    Evict every cached frame just before each aux commit; the refresh
    must still equal a direct recompute."""
    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.delta import DeltaSource

    cache = spark._jsparkSession.sharedState().cacheManager()
    evicted = []
    commit_aux = IncrementalAggregate._commit_aux

    def evict_then_commit(self, spark_, *args, **kwargs):
        evicted.append(not cache.isEmpty())
        spark_.catalog.clearCache()
        return commit_aux(self, spark_, *args, **kwargs)

    monkeypatch.setattr(IncrementalAggregate, "_commit_aux", evict_then_commit)
    src = DeltaSource(path=str(tmp_path / "base"))
    src.insert(spark.createDataFrame(_rows_u()).coalesce(1))
    agg = IncrementalAggregate(
        source=src,
        target_path=str(tmp_path / "agg"),
        group_keys=["g"],
        sums=["x"],
        distincts=["u"],
    )
    agg.refresh(spark)
    # one slice: a new value, a duplicate, a key moved across groups,
    # every copy of u=3 in group b and one copy of u=0 in group a
    src.upsert(
        spark.createDataFrame(
            [
                Row(k=100, g="a", x=0.0, u=99),
                Row(k=101, g="a", x=0.0, u=0),
                Row(k=3, g="a", x=3.0, u=77),
            ]
        ),
        keys=["k"],
    )
    src.delete_where(
        spark, (F.col("k") == 4) | ((F.col("g") == "b") & (F.col("u") == 3))
    )
    agg.refresh(spark)
    assert _maintained_cd(spark, agg) == _direct_cd(spark, src)
    assert any(evicted)


def test_count_distinct_aux_lag_recovery(spark, tmp_path):
    """Crash between the main merge and the aux merge: the aux lags
    one slice; the next refresh re-syncs it from CDC before using its
    state (the commit-order recovery rule)."""
    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.delta import DeltaSource

    src = DeltaSource(path=str(tmp_path / "base"))
    src.insert(spark.createDataFrame(_rows_u()).coalesce(1))
    agg = IncrementalAggregate(
        source=src,
        target_path=str(tmp_path / "agg"),
        group_keys=["g"],
        sums=["x"],
        distincts=["u"],
    )
    agg.refresh(spark)

    # simulate the crash: apply a slice with the aux commit disabled
    src.upsert(
        spark.createDataFrame(
            [Row(k=0, g="a", x=0.0, u=55), Row(k=200, g="b", x=1.0, u=56)]
        ),
        keys=["k"],
    )
    orig = IncrementalAggregate._commit_aux
    IncrementalAggregate._commit_aux = lambda *a, **k: None
    try:
        agg.refresh(spark)
    finally:
        IncrementalAggregate._commit_aux = orig
    aux = agg._aux_log("u")
    assert aux.txn_version(agg._aux_app("u")) < agg.last_applied()

    # next refresh first catches the aux up, then applies the new
    # slice — the maintained count stays exact
    src.delete_where(spark, F.col("u") == 55)
    agg.refresh(spark)
    assert aux.txn_version(agg._aux_app("u")) == agg.last_applied()
    assert _maintained_cd(spark, agg) == _direct_cd(spark, src)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(script=_ivm_ops)
def test_count_distinct_matches_direct_for_any_op_sequence(
    spark, ivm_tmp_dir, script
):
    """Property: for ANY append/upsert/delete sequence the
    maintained exact COUNT(DISTINCT) equals a direct
    countDistinct over the base after EVERY refresh."""
    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.delta import DeltaSource

    base = f"{ivm_tmp_dir}/{_uuid.uuid4().hex}"
    src = DeltaSource(path=f"{base}/base")
    src.insert(
        spark.createDataFrame(
            [
                Row(
                    k=i,
                    g="a" if i % 2 == 0 else "b",
                    x=float(i),
                    u=i % 3,
                )
                for i in range(10)
            ]
        ).coalesce(1)
    )
    agg = IncrementalAggregate(
        source=src,
        target_path=f"{base}/agg",
        group_keys=["g"],
        sums=["x"],
        distincts=["u"],
    )
    agg.refresh(spark)
    assert _maintained_cd(spark, agg) == _direct_cd(spark, src)
    existing = set(range(10))
    for step, (op, keys) in enumerate(script):
        if op == "append":
            fresh = [k for k in keys if k not in existing]
            if not fresh:
                continue
            src.insert(
                spark.createDataFrame(
                    [
                        Row(
                            k=k,
                            g="a" if (k + step) % 2 == 0 else "b",
                            x=float(step * 100 - k),
                            u=(k + step) % 5,
                        )
                        for k in fresh
                    ]
                ).coalesce(1)
            )
            existing |= set(fresh)
        elif op == "upsert":
            src.upsert(
                spark.createDataFrame(
                    [
                        Row(
                            k=k,
                            g="b" if (k + step) % 3 == 0 else "a",
                            x=float(step - 10 * k),
                            u=(k * 7 + step) % 5,
                        )
                        for k in keys
                    ]
                ),
                keys=["k"],
            )
            existing |= set(keys)
        else:
            hit = [k for k in keys if k in existing]
            if not hit:
                continue
            src.delete_where(spark, F.col("k").isin(hit))
            existing -= set(hit)
        agg.refresh(spark)
        assert _maintained_cd(spark, agg) == _direct_cd(spark, src)


# ------------------------------------------------------------------
# approximate distinct maintenance (round 9 — mergeable HLL sketch)
# ------------------------------------------------------------------


def _direct_hll(spark, src):
    return {
        r.g: (r.n, r.ad)
        for r in src.read(spark)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.hll_sketch_estimate(F.hll_sketch_agg("u")).alias("ad"),
        )
        .collect()
    }


def _maintained_hll(spark, agg):
    return {
        r.g: (r.n_rows, r.approx_distinct_u)
        for r in agg.read(spark).collect()
    }


def test_approx_distinct_hll_maintenance(spark, tmp_path):
    """Inserts UNION into the stored sketch (mergeable, no aux
    state); any deleted group's sketch recomputes from the base —
    maintained estimate equals a direct hll_sketch_agg over the base
    after every refresh (sketches are deterministic)."""
    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.delta import DeltaSource

    src = DeltaSource(path=str(tmp_path / "base"))
    src.insert(spark.createDataFrame(_rows_u()).coalesce(1))
    agg = IncrementalAggregate(
        source=src,
        target_path=str(tmp_path / "agg"),
        group_keys=["g"],
        sums=[],
        approx_distincts=["u"],
    )
    agg.refresh(spark)
    assert _maintained_hll(spark, agg) == _direct_hll(spark, src)

    # monotone union path: new values, duplicate values
    src.insert(
        spark.createDataFrame(
            [
                Row(k=100, g="a", x=0.0, u=77),
                Row(k=101, g="b", x=0.0, u=1),
            ]
        ).coalesce(1)
    )
    agg.refresh(spark)
    assert _maintained_hll(spark, agg) == _direct_hll(spark, src)

    # deletes: the touched group recomputes, the other stays
    src.delete_where(spark, F.col("k") == 100)
    agg.refresh(spark)
    assert _maintained_hll(spark, agg) == _direct_hll(spark, src)

    # group-moving update + emptied group
    src.upsert(
        spark.createDataFrame([Row(k=1, g="a", x=1.0, u=66)]),
        keys=["k"],
    )
    agg.refresh(spark)
    assert _maintained_hll(spark, agg) == _direct_hll(spark, src)
    src.delete_where(spark, F.col("g") == "b")
    agg.refresh(spark)
    assert _maintained_hll(spark, agg) == _direct_hll(spark, src)
    assert "b" not in _maintained_hll(spark, agg)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(script=_ivm_ops)
def test_approx_distinct_matches_direct_for_any_op_sequence(
    spark, ivm_tmp_dir, script
):
    """Property: the maintained HLL estimate equals a direct
    hll_sketch_agg estimate over the base after EVERY refresh, for
    any append/upsert/delete sequence."""
    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.delta import DeltaSource

    base = f"{ivm_tmp_dir}/{_uuid.uuid4().hex}"
    src = DeltaSource(path=f"{base}/base")
    src.insert(
        spark.createDataFrame(
            [
                Row(
                    k=i,
                    g="a" if i % 2 == 0 else "b",
                    x=float(i),
                    u=i % 3,
                )
                for i in range(10)
            ]
        ).coalesce(1)
    )
    agg = IncrementalAggregate(
        source=src,
        target_path=f"{base}/agg",
        group_keys=["g"],
        sums=["x"],
        approx_distincts=["u"],
    )
    agg.refresh(spark)
    assert _maintained_hll(spark, agg) == _direct_hll(spark, src)
    existing = set(range(10))
    for step, (op, keys) in enumerate(script):
        if op == "append":
            fresh = [k for k in keys if k not in existing]
            if not fresh:
                continue
            src.insert(
                spark.createDataFrame(
                    [
                        Row(
                            k=k,
                            g="a" if (k + step) % 2 == 0 else "b",
                            x=float(step * 100 - k),
                            u=(k + step) % 5,
                        )
                        for k in fresh
                    ]
                ).coalesce(1)
            )
            existing |= set(fresh)
        elif op == "upsert":
            src.upsert(
                spark.createDataFrame(
                    [
                        Row(
                            k=k,
                            g="b" if (k + step) % 3 == 0 else "a",
                            x=float(step - 10 * k),
                            u=(k * 7 + step) % 5,
                        )
                        for k in keys
                    ]
                ),
                keys=["k"],
            )
            existing |= set(keys)
        else:
            hit = [k for k in keys if k in existing]
            if not hit:
                continue
            src.delete_where(spark, F.col("k").isin(hit))
            existing -= set(hit)
        agg.refresh(spark)
        assert _maintained_hll(spark, agg) == _direct_hll(spark, src)
