"""Structured Streaming worker tests (SURVEY §2.9 port) using the
rate source — asserts the derive pipeline and the watermarked windowed
aggregation produce correct per-window counts."""

from __future__ import annotations

import datetime as dt
import tempfile
import time

from pyspark.sql import functions as F

from aligned_spark.contracts import (
    EventTimestamp,
    Float64,
    Int64,
    feature_view,
)
from aligned_spark.sources.in_memory import InMemorySource
from aligned_spark.store import ContractStore
from aligned_spark.streaming import RateStreamSource, StreamWorker, stream_job


def _rate_view():
    """10 users; value = rate value; 10s event-time windows."""

    def shape(df):
        return df.select(
            (F.col("value") % 10).alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.col("value").cast("double").alias("value"),
        )

    stream = RateStreamSource(rows_per_second=200, row_fn=shape)

    @feature_view(
        name="rate_stats",
        source=InMemorySource.from_dict(
            {"user_id": [], "ts": [], "value": []},
            schema="user_id long, ts timestamp, value double",
        ),
        stream_source=stream,
    )
    class RateStats:
        user_id = Int64().as_entity()
        ts = EventTimestamp()
        value = Float64()

        doubled = value * 2.0

        total = value.aggregate().sum().over(seconds=10)
        n = value.aggregate().count().over(seconds=10)

    return RateStats


def test_stream_job_pipeline(spark):
    """stream_job applies the contract pipeline to a static frame the
    same way it would to micro-batches."""
    view = _rate_view().compiled
    df = spark.createDataFrame(
        [(1, None, 2.5)], "user_id long, ts timestamp, value double"
    )
    out = stream_job(df, view)
    row = out.collect()[0]
    assert row.doubled == 5.0


def test_stateful_dedup_stream(spark):
    """applyInPandasWithState dedup: each key emitted exactly once
    while its state lives."""
    from aligned_spark.streaming import stateful_dedup

    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
        .select(
            (F.col("value") % 7).alias("k"),
            F.col("value").alias("v"),
        )
    )
    deduped = stateful_dedup(raw, ["k"], ttl_seconds=3600)
    batches: list = []
    query = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: batches.append(df.collect()))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 45
        while time.time() < deadline:
            rows = [r for b in batches for r in b]
            if len(rows) >= 7:
                break
            time.sleep(1)
    finally:
        query.stop()
    rows = [r for b in batches for r in b]
    keys = [r.k for r in rows]
    assert len(keys) == len(set(keys)), "a key was emitted twice"
    assert set(keys) == set(range(7))


def test_decayed_count_stream(spark):
    """Decayed counter: monotone per-batch growth bounded by total
    events; exact decay math pinned by construction."""
    from aligned_spark.streaming import decayed_count

    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
        .select((F.col("value") % 2).alias("k"), "timestamp")
    )
    counts = decayed_count(
        raw, ["k"], half_life_seconds=1e9, ts_col="timestamp"
    )
    batches: list = []
    query = (
        counts.writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: batches.append(df.collect()))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 45
        while time.time() < deadline:
            if sum(len(b) for b in batches) >= 4:
                break
            time.sleep(1)
    finally:
        query.stop()
    rows = [r for b in batches for r in b]
    assert rows
    # huge half-life → effectively cumulative counts: per key the
    # emitted sequence must be strictly increasing
    seq: dict = {}
    for r in rows:
        seq.setdefault(r.k, []).append(r.decayed_count)
    for k, vals in seq.items():
        assert vals == sorted(vals), f"non-monotone counts for key {k}"
        assert all(v > 0 for v in vals)


def test_stream_worker_windowed_counts(spark):
    wrapper = _rate_view()
    store = ContractStore(spark)
    store.add_view(wrapper)

    batches: list = []

    def collect_sink(batch_df, batch_id):
        batches.append(batch_df.collect())

    ckpt = tempfile.mkdtemp(prefix="aligned_stream_ckpt_")
    worker = StreamWorker(
        store, "rate_stats", checkpoint_dir=ckpt,
        trigger={"processingTime": "1 seconds"},
    )
    query = worker.start(sink=collect_sink)
    try:
        deadline = time.time() + 45
        while time.time() < deadline:
            rows = [r for batch in batches for r in batch]
            if len(rows) >= 5:
                break
            time.sleep(1)
    finally:
        query.stop()

    rows = [r for batch in batches for r in batch]
    assert rows, "stream produced no aggregated rows"
    by_key = {}
    for r in rows:
        by_key[(r.user_id, r.ts)] = r  # later batches overwrite (update mode)
    for r in by_key.values():
        assert set(r.asDict()) == {"user_id", "ts", "total", "n"}
        assert r.n >= 1
        # rate source: value ≡ user_id (mod 10) → total is a sum of
        # values congruent to user_id
        assert r.total % 10 == (r.user_id * r.n) % 10


def test_file_stream_source_e2e(spark, tmp_path):
    """Directory-watching file source end-to-end: two availableNow
    runs over the SAME checkpoint — the second run must process ONLY
    the newly dropped file (exactly-once file index) and update the
    windowed aggregate state recovered from the checkpoint."""
    from aligned_spark.streaming import FileStreamSource, StreamWorker

    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp, value double"

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inbox)

    drop([(1, dt.datetime(2024, 1, 1, 0, 0, 2), 2.0),
          (1, dt.datetime(2024, 1, 1, 0, 0, 4), 3.0),
          (2, dt.datetime(2024, 1, 1, 0, 0, 6), 10.0)])

    stream = FileStreamSource(path=inbox, schema_ddl=schema)

    @feature_view(
        name="file_stats",
        source=InMemorySource.from_dict(
            {"user_id": [], "ts": [], "value": []}, schema=schema
        ),
        stream_source=stream,
    )
    class FileStats:
        user_id = Int64().as_entity()
        ts = EventTimestamp()
        value = Float64()

        total = value.aggregate().sum().over(seconds=10)
        n = value.aggregate().count().over(seconds=10)

    store = ContractStore(spark)
    store.add_view(FileStats)

    batches: list = []
    worker = StreamWorker(
        store, "file_stats", checkpoint_dir=ckpt,
        trigger={"availableNow": True},
    )
    q = worker.start(sink=lambda df, _id: batches.append(df.collect()))
    q.awaitTermination(120)

    first = {(r.user_id): (r.total, r.n)
             for b in batches for r in b}
    assert first[1] == (5.0, 2)
    assert first[2] == (10.0, 1)

    # second drop: same 10s window, new data — state must carry over
    drop([(1, dt.datetime(2024, 1, 1, 0, 0, 8), 4.0)])
    batches2: list = []
    q2 = worker.query(
        sink=lambda df, _id: batches2.append(df.collect())
    ).start()
    q2.awaitTermination(120)

    rows2 = [r for b in batches2 for r in b]
    # only the updated key re-emits; its totals include run-1 state
    assert {r.user_id for r in rows2} == {1}
    assert {(r.total, r.n) for r in rows2} == {(9.0, 3)}


def test_stream_batch_agg_parity(spark, tmp_path):
    """Batch/stream unification on REAL data: the events table
    streamed through FileStreamSource + stream_aggregate must produce
    exactly the per-(user, window) aggregates of the batch
    hopping_aggregate — same engine semantics either way."""
    from aligned_spark.operators.aggregate import AggSpec, hopping_aggregate
    from aligned_spark.sources.file import read_parquet
    from aligned_spark.streaming import FileStreamSource
    from aligned_spark.streaming.worker import stream_aggregate

    events = read_parquet(
        spark, "/root/testdata/sf0.001/events.parquet"
    ).select("user_id", "ts", "value")
    inbox = str(tmp_path / "inbox")
    events.write.parquet(inbox)  # re-written micros, Spark-native

    week = 7 * 86400

    # batch truth from the engine's own operator
    aggs = [
        AggSpec("total", "sum", "value"),
        AggSpec("n", "count", "value"),
    ]
    batch = hopping_aggregate(
        read_parquet(spark, inbox),
        keys=["user_id"], ts="ts",
        every_seconds=week, period_seconds=week, aggs=aggs,
    )
    expect = {
        (r.user_id, r.ts): (round(r.total, 6), r.n)
        for r in batch.collect()
    }

    # stream the same files
    @feature_view(
        name="ev_stream_parity",
        source=InMemorySource.from_dict(
            {"user_id": [], "ts": [], "value": []},
            schema="user_id long, ts timestamp, value double",
        ),
        stream_source=FileStreamSource(
            path=inbox, schema_ddl="user_id long, ts timestamp, value double"
        ),
    )
    class EvStream:
        user_id = Int64().as_entity()
        ts = EventTimestamp()
        value = Float64()

        total = value.aggregate().sum().over(seconds=week)
        n = value.aggregate().count().over(seconds=week)

    view = EvStream.compiled
    raw = view.stream_source.read_stream(spark)
    agged = stream_aggregate(
        raw, view, allowed_lateness_seconds=90 * 86400
    )
    batches: list = []
    q = (
        agged.writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: batches.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {}
    for b in batches:
        for r in b:  # later updates supersede earlier ones
            got[(r.user_id, r.ts)] = (round(r.total, 6), r.n)
    assert got == expect


def test_stream_interval_join_semantics(spark):
    """Interval-join predicate pinned on static frames (withWatermark
    is a no-op in batch, so this is exactly the streaming condition)."""
    from aligned_spark.streaming import stream_interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    left = spark.createDataFrame(
        [(1, s(0)), (2, s(0))], "k long, lts timestamp"
    )
    right = spark.createDataFrame(
        [(1, s(2), 10.0), (1, s(10), 99.0), (2, s(-1), 20.0)],
        "k long, rts timestamp, payload double",
    )
    inner = stream_interval_join(
        left, right, ["k"], "lts", "rts",
        lower_bound_seconds=0, upper_bound_seconds=5,
    )
    assert [(r.k, r.payload) for r in inner.collect()] == [(1, 10.0)]

    outer = stream_interval_join(
        left, right, ["k"], "lts", "rts",
        lower_bound_seconds=0, upper_bound_seconds=5, how="left_outer",
    )
    got = {(r.k, r.payload) for r in outer.collect()}
    assert got == {(1, 10.0), (2, None)}


def test_stream_interval_join_e2e(spark):
    """Live stream-stream self-join on the rate source: every key's
    +1s-shifted copy lands inside the [0, 5s] interval, so each key
    matches exactly once with payload = 10·k."""
    from aligned_spark.streaming import stream_interval_join

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 50)
        .load()
    )
    left = rate.select(F.col("value").alias("k"), F.col("timestamp").alias("lts"))
    right = rate.select(
        F.col("value").alias("k"),
        (F.col("timestamp") + F.expr("INTERVAL 1 SECOND")).alias("rts"),
        (F.col("value") * 10).alias("payload"),
    )
    joined = stream_interval_join(
        left, right, ["k"], "lts", "rts",
        lower_bound_seconds=0, upper_bound_seconds=5,
    )
    batches: list = []
    query = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: batches.append(df.collect()))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if sum(len(b) for b in batches) >= 20:
                break
            time.sleep(1)
    finally:
        query.stop()
    rows = [r for b in batches for r in b]
    assert len(rows) >= 20, "stream-stream join produced too few rows"
    keys = [r.k for r in rows]
    assert len(keys) == len(set(keys)), "a key matched more than once"
    assert all(r.payload == r.k * 10 for r in rows)
    assert all((r.rts - r.lts).total_seconds() == 1.0 for r in rows)


def test_stream_aggregate_multi_geometry_raises(spark):
    """ADVICE r2: Structured Streaming rejects joins on aggregated
    streams, so a view declaring two window geometries must fail with
    a clear error at plan time, not at query start."""
    import pytest

    from aligned_spark.streaming.worker import stream_aggregate

    @feature_view(
        name="two_geoms",
        source=InMemorySource.from_dict(
            {"user_id": [], "ts": [], "value": []},
            schema="user_id long, ts timestamp, value double",
        ),
    )
    class TwoGeoms:
        user_id = Int64().as_entity()
        ts = EventTimestamp()
        value = Float64()
        s10 = value.aggregate().sum().over(seconds=10)
        s20 = value.aggregate().sum().over(seconds=20)

    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            (F.col("value") % 10).alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.col("value").cast("double").alias("value"),
        )
    )
    with pytest.raises(ValueError, match="single window geometry"):
        stream_aggregate(sdf, TwoGeoms.compiled)


def test_watermark_drop_parity(spark, tmp_path):
    """REAL watermark state vs the batch replay rule: two availableNow
    runs over one checkpoint. Run 1 establishes watermark = max_ts -
    delay (persisted in the commit log); run 2 drops its late row.
    ``drop_late_events`` with batch = file index must keep exactly the
    rows the live stream aggregated."""
    from aligned_spark.streaming import FileStreamSource, drop_late_events
    from aligned_spark.streaming.worker import stream_aggregate

    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp, value double"
    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inbox)

    @feature_view(
        name="wm_parity",
        source=InMemorySource.from_dict(
            {"user_id": [], "ts": [], "value": []}, schema=schema
        ),
        stream_source=FileStreamSource(path=inbox, schema_ddl=schema),
    )
    class WmParity:
        user_id = Int64().as_entity()
        ts = EventTimestamp()
        value = Float64()
        total = value.aggregate().sum().over(seconds=10)
        n = value.aggregate().count().over(seconds=10)

    view = WmParity.compiled
    delay = 20.0

    def run_stream():
        raw = view.stream_source.read_stream(spark)
        agged = stream_aggregate(raw, view, allowed_lateness_seconds=delay)
        batches: list = []
        q = (
            agged.writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: batches.append(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [r for b in batches for r in b]

    # run 1: windows [0,10) and [100,110); watermark after = 105-20=85
    batch1 = [(1, at(5), 2.0), (1, at(105), 3.0)]
    drop(batch1)
    run_stream()

    # run 2: one late row (ts=8 < 85 — silently dropped) and one
    # on-time row (ts=107 >= 85)
    batch2 = [(1, at(8), 100.0), (1, at(107), 4.0)]
    drop(batch2)
    rows2 = run_stream()

    # the late row's window [0,10) must NOT re-emit; [100,110) must,
    # with the on-time row folded into recovered state (3+4)
    emitted = {(r.user_id, r.ts): (r.total, r.n) for r in rows2}
    assert (1, at(110)) in emitted
    assert emitted[(1, at(110))] == (7.0, 2)
    assert (1, at(10)) not in emitted

    # replay: batch index as arrival order reproduces the live kept-set
    all_rows = [(i, *r) for i, batch in enumerate([batch1, batch2])
                for r in batch]
    replay = spark.createDataFrame(
        all_rows, "arr long, user_id long, ts timestamp, value double"
    )
    kept = drop_late_events(
        replay, "ts", delay_seconds=delay, arrival_col="arr", batch_size=1
    )
    got = sorted((r.user_id, r.ts, r.value) for r in kept.collect())
    assert got == sorted(
        [(1, at(5), 2.0), (1, at(105), 3.0), (1, at(107), 4.0)]
    )


def test_stream_session_aggregate_e2e(spark, tmp_path):
    """Native session windows on a LIVE stream: append mode emits a
    session only once the watermark proves it closed; an open session
    survives in the state store and finalizes in a later run over the
    same checkpoint when the watermark passes it."""
    from aligned_spark.operators.aggregate import AggSpec
    from aligned_spark.streaming import FileStreamSource, session_aggregate

    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp, value double"
    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inbox)

    src = FileStreamSource(path=inbox, schema_ddl=schema)

    def run():
        agged = session_aggregate(
            src.read_stream(spark),
            keys=["user_id"],
            ts="ts",
            gap_seconds=30,
            aggs=[AggSpec("n", "count", None),
                  AggSpec("total", "sum", "value")],
            watermark_seconds=60,
        )
        batches: list = []
        q = (
            agged.writeStream.outputMode("append")
            .foreachBatch(lambda df, _id: batches.append(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [r for b in batches for r in b]

    # session A: events at 0s and 10s (extent [0, 40)); session B
    # opens at 1000s. Final watermark = 1000 - 60 = 940 > 40 → only
    # A emits; B stays open in state.
    drop([(1, at(0), 1.0), (1, at(10), 2.0), (1, at(1000), 5.0)])
    rows1 = run()
    assert [(r.user_id, r.session_start, r.session_end, r.n, r.total)
            for r in rows1] == [(1, at(0), at(40), 2, 3.0)]

    # run 2: an event at 1020s MERGES into open session B (extent
    # becomes [1000, 1050)); the 2000s event pushes the watermark to
    # 1940 which closes B. B must emit ONCE with both events.
    drop([(1, at(1020), 7.0), (1, at(2000), 9.0)])
    rows2 = run()
    assert [(r.user_id, r.session_start, r.session_end, r.n, r.total)
            for r in rows2] == [(1, at(1000), at(1050), 2, 12.0)]


def test_stream_session_parity_out_of_order(spark, tmp_path):
    """Streaming session merge == batch session_window over the same
    events: out-of-order arrivals (above watermark) across THREE
    micro-batches must merge into exactly the sessions the batch path
    computes; sessions still open at the final watermark are the only
    difference (they sit in state, unemitted)."""
    from aligned_spark.operators.aggregate import AggSpec
    from aligned_spark.streaming import FileStreamSource, session_aggregate

    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp, value double"
    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inbox)

    src = FileStreamSource(path=inbox, schema_ddl=schema)
    aggs = [AggSpec("n", "count", None), AggSpec("total", "sum", "value")]

    def run():
        agged = session_aggregate(
            src.read_stream(spark), keys=["user_id"], ts="ts",
            gap_seconds=30, aggs=aggs, watermark_seconds=60,
        )
        batches: list = []
        q = (
            agged.writeStream.outputMode("append")
            .foreachBatch(lambda df, _id: batches.append(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [r for b in batches for r in b]

    # batch 1 in-order; batch 2 and 3 deliver LATE (but above-watermark)
    # events that must merge into / extend earlier sessions
    b1 = [(1, at(10), 1.0), (1, at(40), 2.0), (2, at(35), 5.0)]
    b2 = [(1, at(5), 1.5), (2, at(70), 3.0)]       # 5s is 65s late
    b3 = [(1, at(30), 2.5), (999, at(5000), 0.0)]  # closer advances wm
    emitted = []
    for b in (b1, b2, b3):
        drop(b)
        emitted.extend(run())
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n, r.total)
        for r in emitted
    )

    static = spark.createDataFrame(b1 + b2 + b3, schema)
    batch = session_aggregate(
        static, keys=["user_id"], ts="ts", gap_seconds=30, aggs=aggs
    )
    final_wm = at(5000 - 60)
    want = sorted(
        (r.user_id, r.session_start, r.session_end, r.n, r.total)
        for r in batch.collect()
        if r.session_end <= final_wm  # open sessions never emit
    )
    assert got == want and len(got) >= 3
    # the out-of-order events really did merge: user 1 is ONE session
    # spanning [5, 70) with all four events
    assert (1, at(5), at(70), 4, 7.0) in got


def test_stream_dedup_ingest(spark, tmp_path):
    """Streaming ingest with cross-batch near-dup filtering: each
    micro-batch flows through DedupIndexSource.ingest inside
    foreachBatch — batch 2's near-dup of a batch-1 survivor is
    dropped by the PERSISTED index, not in-memory state."""
    from aligned_spark.sources.dedup_index import DedupIndexSource
    from aligned_spark.streaming import FileStreamSource

    inbox = str(tmp_path / "inbox")
    schema = "doc_id long, text string"
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    other = ("completely different words about spark shuffles and "
             "partition pruning with adaptive query execution plans")

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inbox)

    dix = DedupIndexSource(path=str(tmp_path / "ix"))
    kept: list = []

    def sink(df, _id):
        kept.extend(dix.ingest(df).collect())

    src = FileStreamSource(path=inbox, schema_ddl=schema)

    def run():
        q = (
            src.read_stream(spark)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drop([(1, base), (2, other)])
    run()
    drop([(3, base.replace("tonight", "today")), (4, "novel words "
          "entirely about oceans tides and the moon pulling water")])
    run()
    assert {r.doc_id for r in kept} == {1, 2, 4}


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Native bounded-state streaming dedup
    (dropDuplicatesWithinWatermark) alongside the custom
    stateful_dedup: a re-sent event inside the watermark window is
    suppressed; state for expired keys is droppable by the engine."""
    from aligned_spark.streaming import FileStreamSource

    inbox = str(tmp_path / "inbox")
    schema = "event_id long, ts timestamp, value double"
    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inbox)

    drop([(1, at(0), 1.0), (1, at(2), 1.0),     # dup id inside window
          (2, at(5), 2.0)])
    src = FileStreamSource(path=inbox, schema_ddl=schema)
    raw = src.read_stream(spark).withWatermark("ts", "60 seconds")
    deduped = raw.dropDuplicatesWithinWatermark(["event_id"])
    batches: list = []
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: batches.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted((r.event_id, r.ts) for b in batches for r in b)
    assert rows == [(1, at(0)), (2, at(5))]


def test_stream_heavy_hitters_bounded_state(spark, tmp_path):
    """Misra-Gries heavy hitters across micro-batches: every true
    heavy value (freq > N/(m+1)) survives with a lower-bound count
    within N/(m+1) of truth, while state stays at <= m counters per
    key even though the stream carries far more distinct values."""
    from collections import Counter

    from aligned_spark.streaming import FileStreamSource, heavy_hitters

    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, url string"

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inbox)

    # skewed stream: two hot urls + a long unique tail, delivered
    # over three micro-batch runs
    m = 8
    batches = []
    seq = 0
    for b in range(3):
        rows = []
        rows += [(1, "hot-a")] * 40 + [(1, "hot-b")] * 25
        rows += [(1, f"tail-{b}-{i}") for i in range(60)]  # all unique
        rows += [(2, "only-hot")] * 10 + [(2, f"t{b}{i}") for i in range(5)]
        batches.append(rows)

    src = FileStreamSource(path=inbox, schema_ddl=schema)

    def run():
        hh = heavy_hitters(
            src.read_stream(spark), ["k"], "url", num_counters=m
        )
        out: list = []
        q = (
            hh.writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: out.append(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [r for b in out for r in b]

    last = []
    for b in batches:
        drop(b)
        last = run()  # update mode: the final run's rows are current

    truth = Counter()
    for b in batches:
        for k, u in b:
            if k == 1:
                truth[u] += 1
    n1 = sum(truth.values())
    err = n1 / (m + 1)

    k1 = {r.value: (r.count_lo, r.total_n) for r in last if r.k == 1}
    assert len(k1) <= m  # bounded summary
    assert all(tn == n1 for _, tn in k1.values())  # exact N tracking
    for hot in ("hot-a", "hot-b"):  # true counts 120 / 75 >> err
        assert hot in k1
        lo = k1[hot][0]
        assert truth[hot] - err <= lo <= truth[hot]
    k2 = {r.value for r in last if r.k == 2}
    assert "only-hot" in k2 and len(k2) <= m


def test_stream_static_enrich_refreshes_dim(spark, tmp_path):
    """Stream-static enrichment: a parquet dim's FILE LISTING is
    captured in the frame's file index — files landed later are
    invisible to a join plan holding the old frame. Pins both
    halves: stale with the captured plan, fresh when the dim frame
    is rebuilt per batch inside foreachBatch (the documented
    slowly-changing-dim pattern)."""
    from aligned_spark.streaming import FileStreamSource
    from aligned_spark.streaming.worker import enrich_stream

    inbox = str(tmp_path / "inbox")
    dim_dir = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, v double"

    def drop_events(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inbox)

    def drop_dim(rows):
        spark.createDataFrame(
            rows, "user_id long, segment string"
        ).coalesce(1).write.mode("append").parquet(dim_dir)

    drop_events([(1, 1.0), (2, 2.0)])
    drop_dim([(1, "gold")])

    stream = FileStreamSource(path=inbox, schema_ddl=schema).read_stream(
        spark
    )
    dim = spark.read.parquet(dim_dir)
    enriched = enrich_stream(stream, dim, on="user_id")

    got: list = []
    q = (
        enriched.writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    r1 = {r.user_id: r.segment for r in got}
    assert r1 == {1: "gold", 2: None}

    # user 2's dim row lands AFTER the first run. WITHOUT a refresh
    # the cached file index keeps it invisible…
    drop_dim([(2, "silver")])
    drop_events([(1, 3.0), (2, 4.0)])
    got2: list = []
    q2 = (
        enriched.writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: got2.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    r2 = {r.user_id: r.segment for r in got2}
    assert r2 == {1: "gold", 2: None}  # stale listing — documented

    # …while per-batch enrichment (freshly built dim inside
    # foreachBatch) sees every landed file
    drop_events([(1, 5.0), (2, 6.0)])
    got3: list = []

    def _enrich_in_batch(df, _id):
        fresh_dim = spark.read.parquet(dim_dir)
        got3.extend(enrich_stream(df, fresh_dim, on="user_id").collect())

    q3 = (
        stream.writeStream.outputMode("append")
        .foreachBatch(_enrich_in_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination(120)
    r3 = {r.user_id: r.segment for r in got3}
    assert r3 == {1: "gold", 2: "silver"}


def test_stream_event_gaps_batch_parity(spark, tmp_path):
    """The stateful event_gaps operator over event-time-ordered
    micro-batches must reproduce the batch lag_features gap exactly —
    including NULL first-gaps per key and gaps that SPAN batch
    boundaries (the state carry)."""
    from aligned_spark.operators.core import lag_features
    from aligned_spark.sources.file import read_parquet
    from aligned_spark.streaming import event_gaps

    events = read_parquet(
        spark, "/root/testdata/sf0.001/events.parquet"
    ).select("event_id", "user_id", "ts", "value")

    # batch truth
    expect = {
        r.event_id: r.gap_us
        for r in lag_features(
            events, ["user_id"], "ts", [], tie_cols=["event_id"]
        ).collect()
    }

    # three sequential slices by event time → three ordered files
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    cuts = ["2024-01-08", "2024-01-18"]
    slices = [
        events.filter(F.col("ts") < cuts[0]),
        events.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        events.filter(F.col("ts") >= cuts[1]),
    ]
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(str(inbox / f"batch_{i}"))
    files = sorted(str(p) for p in inbox.glob("batch_*/part-*.parquet"))
    ordered = tmp_path / "ordered"
    ordered.mkdir()
    import shutil, time as _t

    for i, f in enumerate(files):
        shutil.copy(f, ordered / f"{i:03d}.parquet")
        _t.sleep(1.1)  # distinct mtimes → deterministic file order

    raw = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ordered))
    )
    gapped = event_gaps(raw, ["user_id"], "ts", tie_cols=["event_id"])
    batches: list = []
    q = (
        gapped.writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: batches.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {r.event_id: r.gap_us for b in batches for r in b}
    assert len(got) == len(expect)
    mismatches = {
        k: (got[k], expect[k]) for k in expect if got[k] != expect[k]
    }
    assert not mismatches, list(mismatches.items())[:5]
    # sanity: the stream actually split the work
    assert sum(1 for b in batches if b) >= 3


def test_stream_psi_monitor_batch_parity_and_alert(spark, tmp_path):
    """Each micro-batch's PSI must equal the batch operator run on
    that slice (offline replayability), a same-distribution batch
    stays under the alert threshold, and a shifted batch fires it."""
    from aligned_spark.operators.quality import population_stability
    from aligned_spark.sources.file import read_parquet
    from aligned_spark.streaming import psi_monitor

    events = read_parquet(
        spark, "/root/testdata/sf0.001/events.parquet"
    ).select("event_id", "value")
    reference = events.filter(F.col("event_id") % 2 == 0)

    # batch 0: held-out slice of the same distribution;
    # batch 1: the same slice shifted far out of the reference bins
    same = events.filter(F.col("event_id") % 2 == 1)
    shifted = same.withColumn("value", F.col("value") + 1e4)
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    import shutil
    import time as _t

    for i, sl in enumerate([same, shifted]):
        out = tmp_path / f"b{i}"
        sl.coalesce(1).write.parquet(str(out))
        src = next(out.glob("part-*.parquet"))
        shutil.copy(src, inbox / f"{i:03d}.parquet")
        _t.sleep(1.1)

    results: list = []
    raw = (
        spark.readStream.schema("event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inbox))
    )
    q = (
        psi_monitor(
            raw,
            reference,
            "value",
            # 50-wide bins: at 500 rows/side, finer bins are noise-
            # dominated (bw=5 → PSI 0.34 between iid halves); the
            # parity check below is bin-width-agnostic anyway
            bin_width=50.0,
            threshold=0.2,
            on_batch=lambda bid, n, psi, alert: results.append(
                (bid, n, psi, alert)
            ),
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    assert len(results) == 2
    results.sort()
    (b0, n0, psi0, a0), (b1, n1, psi1, a1) = results
    assert n0 > 0 and n1 == n0
    # batch parity: stream PSI == batch operator on the same slice
    expect0 = population_stability(
        reference, same, "value", bin_width=50.0
    ).first().psi
    expect1 = population_stability(
        reference, shifted, "value", bin_width=50.0
    ).first().psi
    assert psi0 == expect0 and psi1 == expect1
    # same distribution quiet, shifted distribution loud
    assert not a0 and psi0 < 0.2
    assert a1 and psi1 > 0.2
