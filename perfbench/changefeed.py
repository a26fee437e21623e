"""``changefeed``: writes beside reads, in both table formats.

Two identical pipelines over an sf0.1-shaped ``orders`` table, one with
a ``DeltaSource`` base and one with an ``IcebergSource`` base, each
feeding an ``IncrementalAggregate`` of per-customer order count and
spend (``price_cents``) grouped by ``o_custkey``. Cycles alternate
between the formats. A cycle upserts a seeded slice (1,000 updates to
recent orders of Zipf-chosen customers plus 500 new order keys) or,
every second cycle of a format, deletes 1,500 recent orders; then it
refreshes the aggregate and reads all of it back. The cycle's time,
from the start of the write until the refreshed aggregate is read, is
the format's freshness. Each base table is written as 16 files of
contiguous order keys, so a write rewrites the few files that hold
recent orders, not the whole table.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import data
from perfbench.harness import Context, median, metric

FORMATS = ("delta", "iceberg")
UPDATES = 1_000
INSERTS = 500
DELETES = UPDATES + INSERTS
#: the base table is written as this many files, each a range of order
#: keys, so a write rewrites only the files its keys fall in
BASE_FILES = 16
#: updates and deletes hit the most recent orders, as a feed of order
#: changes does: about two base files' worth
RECENT = 2 * data.ORDERS_ROWS // BASE_FILES
#: the first cycle, a Delta upsert, pays the session's cold start
#: (8-10 s, against 3.5-5 s for the next ones). The timed window opens
#: with cycle 1 and always runs a cycle of each kind; so the first span
#: of every kind, whose counts the traced record reports, is the same
#: cycle in every run with the seed
WARMUP_OPS = 1
#: one class per kind: the summaries weigh upserts and deletes alike
#: however many of each the window fits
CLASSES = [{f"{fmt}-{write}"} for fmt in FORMATS for write in ("upsert", "delete")]


@dataclass
class Pipeline:
    source: object
    agg: object
    #: the client's own copy of the live base rows, indexed by key
    model: pd.DataFrame
    next_key: int


def _source(fmt: str, path: str):
    from aligned_spark.sources.delta import DeltaSource
    from aligned_spark.sources.iceberg import IcebergSource

    return (DeltaSource if fmt == "delta" else IcebergSource)(path=path)


def build(ctx: Context) -> None:
    """Input generation, both base tables and both aggregates' first
    (full) refresh."""
    from aligned_spark.operators.incremental import IncrementalAggregate

    orders = data.orders(ctx.seed)
    frame = ctx.spark.createDataFrame(orders)
    pipes = {}
    for fmt in FORMATS:
        root = f"{ctx.scratch}/{fmt}"
        src = _source(fmt, f"{root}/base")
        src.insert(frame.repartitionByRange(BASE_FILES, "o_orderkey"))
        agg = IncrementalAggregate(
            source=src,
            target_path=f"{root}/agg",
            group_keys=["o_custkey"],
            sums=["price_cents"],
        )
        agg.refresh(ctx.spark)
        pipes[fmt] = Pipeline(
            src, agg, orders.set_index("o_orderkey", drop=False), data.ORDERS_ROWS
        )
    rng = np.random.default_rng([ctx.seed, 21])
    weight = np.empty(data.ORDER_CUSTOMERS)
    weight[rng.permutation(data.ORDER_CUSTOMERS)] = 1.0 / np.arange(
        1, data.ORDER_CUSTOMERS + 1
    ) ** 1.1
    ctx.state.update(pipes=pipes, weight=weight)


def _data_files(path: str) -> dict[str, int]:
    """Data and delete files under a table, with their sizes; log and
    metadata directories excluded."""
    out = {}
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if x not in ("_delta_log", "metadata")]
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _log_state(pipe: Pipeline) -> dict:
    """Commits, live files and bytes of a base table, from its log
    alone, plus the aggregate's commit count."""
    from aligned_spark.sources.delta_log import DeltaLog

    t0 = time.perf_counter()
    detail = pipe.source.detail()
    snapshot_s = time.perf_counter() - t0
    return {
        "snapshot_s": snapshot_s,
        "commits": detail.get("numSnapshots", detail.get("version", 0)),
        "live": detail["numFiles"] + detail["numDeleteFiles"],
        "bytes": detail["sizeInBytes"],
        "rows": detail["numRows"],
        "files": _data_files(pipe.source.path),
        "version": pipe.source.version(),
        "agg_version": DeltaLog(pipe.agg.target_path).latest_version(),
    }


def prepare(ctx: Context, i: int):
    from pyspark.sql import functions as F

    fmt = FORMATS[i % 2]
    write = "delete" if (i // 2) % 2 == 1 else "upsert"
    pipe = ctx.state["pipes"][fmt]
    # the model is in key order: new keys are appended
    live = pipe.model.iloc[-RECENT:]
    rng = np.random.default_rng([ctx.seed, 20, i])
    if write == "upsert":
        p = ctx.state["weight"][live["o_custkey"].values]
        upd = live.iloc[
            rng.choice(len(live), UPDATES, replace=False, p=p / p.sum())
        ].copy()
        upd["price_cents"] = rng.integers(100_191, 49_999_318, UPDATES)
        keys = np.arange(pipe.next_key, pipe.next_key + INSERTS, dtype=np.int64)
        ins = pd.DataFrame(
            {
                "o_orderkey": keys,
                "o_custkey": data.zipf_choice(rng, data.ORDER_CUSTOMERS, INSERTS).astype(
                    np.int64
                ),
                "o_orderpriority": data.PRIORITIES[rng.integers(0, 5, INSERTS)],
                "price_cents": rng.integers(100_191, 49_999_318, INSERTS),
            }
        )
        change = pd.concat([upd.reset_index(drop=True), ins], ignore_index=True)
        arg = ctx.spark.createDataFrame(change)
    else:
        change = live.iloc[rng.choice(len(live), DELETES, replace=False)]
        # parsed once in the JVM: ``isin`` on a Python list costs a
        # gateway call per key, over a second for 1,500 keys
        keys = ", ".join(map(str, change["o_orderkey"].tolist()))
        arg = F.expr(f"o_orderkey IN ({keys})")
    before = _log_state(pipe) if ctx.tracer.enabled else None
    return f"{fmt}-{write}", (fmt, write, change, arg, before)


def operation(ctx: Context, i: int, payload) -> int:
    fmt, write, change, arg, _ = payload
    pipe = ctx.state["pipes"][fmt]
    tr = ctx.tracer
    with tr.span(f"{fmt}_log.{write}"):
        if write == "upsert":
            pipe.source.upsert(arg, keys=["o_orderkey"])
        else:
            pipe.source.delete_where(ctx.spark, arg)
    with tr.span(f"incremental.{fmt}.refresh"):
        pipe.agg.refresh(ctx.spark)
    with tr.span("incremental.read"):
        rows = pipe.agg.read(ctx.spark).select("o_custkey", "n_rows", "price_cents").toPandas()
    ctx.state["read"] = rows
    return len(change)


def _grouped(frame: pd.DataFrame) -> pd.DataFrame:
    return (
        frame.groupby("o_custkey")
        .agg(n_rows=("o_orderkey", "size"), price_cents=("price_cents", "sum"))
        .reset_index()
    )


def _same_groups(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    cols = ["o_custkey", "n_rows", "price_cents"]
    got = got[cols].astype(np.int64).sort_values("o_custkey", ignore_index=True)
    want = want[cols].astype(np.int64).sort_values("o_custkey", ignore_index=True)
    return got.equals(want)


def finish(ctx: Context, i: int, payload) -> None:
    """Apply the change to the client's model, check the aggregate the
    cycle read against it, and, traced, read the logs' counts."""
    fmt, write, change, _, before = payload
    pipe = ctx.state["pipes"][fmt]
    if write == "upsert":
        change = change.set_index("o_orderkey", drop=False)
        known = change.index.isin(pipe.model.index)
        pipe.model.loc[change.index[known], "price_cents"] = change.loc[
            known, "price_cents"
        ]
        pipe.model = pd.concat([pipe.model, change[~known]])
        pipe.next_key += INSERTS
    else:
        pipe.model = pipe.model.drop(change.index)
    ctx.expect(
        _same_groups(ctx.state["read"], _grouped(pipe.model)), f"changefeed cycle {i} ({fmt}) read"
    )
    if before is not None:
        _trace_cycle(ctx, i, fmt, write, change, before)


def _trace_cycle(ctx, i, fmt, write, change, before) -> None:
    from pyspark.sql import functions as F

    pipe = ctx.state["pipes"][fmt]
    after = _log_state(pipe)
    new = set(after["files"]) - set(before["files"])
    added = len(new)
    user_bytes = len(change) * before["bytes"] / max(before["rows"], 1)
    cdc = (
        pipe.source.read_changes(ctx.spark, before["version"], after["version"])
        .agg(F.count("*").alias("rows"), F.countDistinct("o_custkey").alias("groups"))
        .first()
    )
    ctx.state.setdefault("cycles", []).append(
        {
            "op": i,
            "fmt": fmt,
            "write": write,
            "snapshot_s": after["snapshot_s"],
            "commits": after["commits"] - before["commits"],
            "files_added": added,
            "files_removed": before["live"] + added - after["live"],
            "written_per_user_byte": sum(after["files"][p] for p in new) / user_bytes,
            "live_files": after["live"],
            "refresh_commits": after["agg_version"] - before["agg_version"],
            "slice_rows": cdc["rows"],
            "changed_groups": cdc["groups"],
        }
    )


def check(ctx: Context) -> None:
    """Each aggregate equals a direct group-by of its base table, and
    the base table holds exactly the client's model of it."""
    from pyspark.sql import functions as F

    for fmt, pipe in ctx.state["pipes"].items():
        base = (
            pipe.source.read(ctx.spark)
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n_rows"), F.sum("price_cents").alias("price_cents"))
            .toPandas()
        )
        agg = pipe.agg.read(ctx.spark).toPandas()
        ctx.expect(_same_groups(agg, base), f"{fmt} aggregate vs base group-by")
        ctx.expect(_same_groups(base, _grouped(pipe.model)), f"{fmt} base vs applied changes")


def _stream_drain(ctx: Context) -> tuple[float, float]:
    """One ``availableNow`` drain of ``ContractStore.stream_changes``
    over the Delta pipeline's aggregate."""
    from aligned_spark.contracts import Int64, feature_view
    from aligned_spark.sources.delta import DeltaSource
    from aligned_spark.store import ContractStore

    target = DeltaSource(path=ctx.state["pipes"]["delta"].agg.target_path)

    @feature_view(name="customer_spend", source=target, materialized_source=target)
    class CustomerSpend:
        o_custkey = Int64().as_entity()
        price_cents = Int64()

    store = ContractStore(ctx.spark)
    store.add_view(CustomerSpend)
    t0 = time.perf_counter()
    query = (
        store.stream_changes("customer_spend")
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{ctx.scratch}/stream_checkpoint")
        .start()
    )
    start_s = time.perf_counter() - t0
    query.awaitTermination()
    drain_s = time.perf_counter() - t0 - start_s
    ctx.expect(query.exception() is None, "stream drain over the aggregate")
    return start_s, drain_s


def _first_mean(cycles: list[dict], kind, key: str) -> float:
    """The mean of ``key`` over the first cycle of each kind; exact for
    a seed, as in :meth:`Tracer.first_count`."""
    firsts: dict = {}
    for c in cycles:
        firsts.setdefault(kind(c), c)
    return sum(c[key] for c in firsts.values()) / len(firsts)


def per_layer(ctx: Context, first_op: int) -> dict:
    tr = ctx.tracer
    cycles = ctx.state["cycles"]
    out = {}
    for fmt in FORMATS:
        mine = [c for c in cycles if c["fmt"] == fmt]
        timed = [c for c in mine if c["op"] >= first_op] or mine
        p = f"{fmt}_log."
        by_write = lambda c: c["write"]  # noqa: E731
        out.update(
            {
                p + "snapshot_s": metric(median([c["snapshot_s"] for c in timed]), "s"),
                p + "upsert_s": metric(median(tr.seconds(p + "upsert", first_op)), "s"),
                p + "upsert_jobs": metric(tr.first_count(p + "upsert", "jobs"), "count"),
                p + "delete_s": metric(median(tr.seconds(p + "delete", first_op)), "s"),
                p + "delete_jobs": metric(tr.first_count(p + "delete", "jobs"), "count"),
                p + "commits_per_cycle": metric(_first_mean(mine, by_write, "commits"), "count"),
                p + "files_added": metric(_first_mean(mine, by_write, "files_added"), "count"),
                p + "files_removed": metric(
                    _first_mean(mine, by_write, "files_removed"), "count"
                ),
                p + "bytes_written_per_user_byte": metric(
                    median([c["written_per_user_byte"] for c in timed]), "ratio"
                ),
                p + "live_files": metric(mine[-1]["live_files"], "count"),
                f"incremental.{fmt}.refresh_s": metric(
                    median(tr.seconds(f"incremental.{fmt}.refresh", first_op)), "s"
                ),
            }
        )
    by_kind = lambda c: (c["fmt"], c["write"])  # noqa: E731
    for c in cycles:
        c["groups_per_row"] = c["changed_groups"] / c["slice_rows"]
    refresh_jobs = [tr.first_count(f"incremental.{f}.refresh", "jobs") for f in FORMATS]
    start_s, drain_s = _stream_drain(ctx)
    out.update(
        {
            "incremental.refresh_jobs": metric(sum(refresh_jobs) / len(FORMATS), "count"),
            "incremental.refresh_commits": metric(
                _first_mean(cycles, by_kind, "refresh_commits"), "count"
            ),
            "incremental.slice_rows": metric(
                _first_mean(cycles, by_kind, "slice_rows"), "count"
            ),
            "incremental.changed_groups_per_slice_row": metric(
                _first_mean(cycles, by_kind, "groups_per_row"), "ratio"
            ),
            "streaming.start_s": metric(start_s, "s"),
            "streaming.drain_s": metric(drain_s, "s"),
        }
    )
    return out
