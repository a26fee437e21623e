"""``pit_retrieval``: point-in-time feature requests, read-only.

A request is ``ContractStore.features_for`` on a seeded entity frame of
``(user_id, event_timestamp)``, asking for the latest event's value and
type plus a 7-day windowed sum and count, forced in full with
``toPandas``. Sizes cycle through a log-spaced ladder of 256, 2,896 and
32,768 rows in a fixed order, so each size holds the same place on the
JIT warm-up curve in every run; the entity frames are seeded, with
Zipf-skewed users. The view's source is a Delta table written in setup
through ``DeltaSource.insert``.
"""

from __future__ import annotations

import time

import duckdb
import numpy as np
import pandas as pd

from perfbench import data
from perfbench.harness import Context, median, metric

FEATURES = ["ev:value", "ev:event_type", "ev:sum_7d", "ev:cnt_7d"]
#: 2**8 .. 2**15 in three log-equal steps
LADDER = [round(2 ** (8 + 7 * k / 2)) for k in range(3)]
#: one round of the ladder, so the first span of every size comes from
#: the warm-up. The first request takes 5-7 s, the next two 1.5-2.5 s;
#: from the fourth on a request takes 1-2 s
WARMUP_OPS = len(LADDER)
CLASSES = [{f"r{n}"} for n in LADDER]
#: facts fall in [Jan 2, Jan 31): most users have events before them,
#: and some facts precede a user's first event and come back empty
FACT_START = pd.Timestamp("2024-01-02")
FACT_SPAN_US = 29 * 86_400 * 1_000_000


def _view(source):
    from aligned_spark.contracts import (
        EventTimestamp,
        Float64,
        Int64,
        String,
        feature_view,
    )

    @feature_view(name="ev", source=source)
    class Ev:
        user_id = Int64().as_entity()
        ts = EventTimestamp()
        value = Float64()
        event_type = String()

        sum_7d = value.aggregate().sum().over(days=7)
        cnt_7d = value.aggregate().count().over(days=7)

    return Ev


def build(ctx: Context) -> None:
    """Input generation and the Delta table build."""
    from aligned_spark.sources.delta import DeltaSource
    from aligned_spark.store import ContractStore

    events = data.events(ctx.seed)
    source = DeltaSource(path=f"{ctx.scratch}/events")
    source.insert(ctx.spark.createDataFrame(events).repartition(4))
    store = ContractStore(ctx.spark)
    store.add_view(_view(source))
    ctx.state.update(events=events, source=source, store=store, results=[])


def prepare(ctx: Context, i: int):
    size = LADDER[i % len(LADDER)]
    rng = np.random.default_rng([ctx.seed, 10, i])
    facts = pd.DataFrame(
        {
            "user_id": data.zipf_choice(rng, data.EVENT_USERS, size).astype(np.int64),
            "event_timestamp": FACT_START
            + pd.to_timedelta(rng.integers(0, FACT_SPAN_US, size), unit="us"),
        }
    )
    return f"r{size}", (facts, ctx.spark.createDataFrame(facts))


def operation(ctx: Context, i: int, payload) -> int:
    facts, frame = payload
    with ctx.tracer.span("store.plan"):
        out = ctx.state["store"].features_for(frame, FEATURES)
    with ctx.tracer.span("joins.exec"):
        result = out.toPandas()
    ctx.state["results"].append((i, facts, result))
    return len(facts)


def finish(ctx: Context, i: int, payload) -> None:
    if ctx.tracer.enabled:
        from aligned_spark.sources.delta_log import DeltaLog

        t0 = time.perf_counter()
        DeltaLog(ctx.state["source"].path).snapshot()
        ctx.state.setdefault("snapshot_s", []).append((i, time.perf_counter() - t0))


#: the as-of and window semantics of the ``store_features_for`` and
#: ``store_features_windowed`` oracle queries
_REFERENCE = """
SELECT f.user_id, f.event_timestamp, l.value, l.event_type,
       w.sum_7d, coalesce(w.cnt_7d, 0) AS cnt_7d
FROM facts f
ASOF LEFT JOIN events l
  ON f.user_id = l.user_id AND f.event_timestamp >= l.ts
LEFT JOIN (
  SELECT f.user_id, f.event_timestamp,
         sum(e.value) AS sum_7d, count(e.value) AS cnt_7d
  FROM (SELECT DISTINCT user_id, event_timestamp FROM facts) f
  JOIN events e
    ON e.user_id = f.user_id AND e.ts <= f.event_timestamp
   AND e.ts >= f.event_timestamp - INTERVAL 7 DAYS
  GROUP BY ALL
) w ON w.user_id = f.user_id AND w.event_timestamp = f.event_timestamp
"""
_KEYS = ["user_id", "event_timestamp"]


def _same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if len(got) != len(want):
        return False
    order = _KEYS + ["value"]
    got = got.sort_values(order, ignore_index=True)
    want = want.sort_values(order, ignore_index=True)
    return (
        (got["user_id"].values == want["user_id"].values).all()
        and (got["event_timestamp"].values == want["event_timestamp"].values).all()
        and got["event_type"].fillna("").equals(want["event_type"].fillna(""))
        and (got["cnt_7d"].fillna(0).astype(np.int64).values == want["cnt_7d"].values).all()
        and all(
            np.allclose(
                got[c].astype(float).values,
                want[c].astype(float).values,
                rtol=1e-9,
                atol=1e-6,
                equal_nan=True,
            )
            for c in ("value", "sum_7d")
        )
    )


def check(ctx: Context) -> None:
    """Every request's output against a DuckDB reference."""
    con = duckdb.connect()
    con.register("events", ctx.state["events"])
    for i, facts, result in ctx.state["results"]:
        con.register("facts", facts)
        want = con.execute(_REFERENCE).df()
        ctx.expect(_same(result, want), f"pit request {i} ({len(facts)} rows)")
    con.close()


def per_layer(ctx: Context, first_op: int) -> dict:
    tr = ctx.tracer
    return {
        "store.plan_s": metric(median(tr.seconds("store.plan", first_op)), "s"),
        "store.plan_jobs": metric(tr.first_count("store.plan", "jobs"), "count"),
        "joins.exec_s": metric(median(tr.seconds("joins.exec", first_op)), "s"),
        "joins.jobs": metric(tr.first_count("joins.exec", "jobs"), "count"),
        "joins.stages": metric(tr.first_count("joins.exec", "stages"), "count"),
        "joins.tasks": metric(tr.first_count("joins.exec", "tasks"), "count"),
        "joins.shuffle_bytes": metric(
            tr.first_count("joins.exec", "shuffle_bytes"), "B"
        ),
        "delta_log.snapshot_s": metric(
            median([s for i, s in ctx.state["snapshot_s"] if i >= first_op]), "s"
        ),
    }
