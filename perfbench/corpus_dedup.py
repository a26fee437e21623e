"""``corpus_dedup``: MinHash near-duplicate detection over a corpus.

Setup builds a seeded corpus of sf0.1-shaped documents in which 5% of
the units are an original plus an exact copy and 5% an original plus a
near copy (three words replaced). An operation runs
``minhash_near_dup_pairs`` (default implementation) on one seeded batch
of contiguous corpus units, forced in full by collecting the pairs.
Every batch holds 8,000 documents (up to the next unit boundary), so
each operation does the same amount of work.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from perfbench import data
from perfbench.harness import Context, median, metric

BATCH = 8_000
CORPUS_UNITS = 60_000
EXACT_SHARE = 0.05
NEAR_SHARE = 0.05
NEAR_EDITS = 3
#: the first batch takes 8-13 s and the second 2-3 s; the per-batch
#: CPU time then still falls steeply for two batches (JIT compilation),
#: and a window that opens on that slope spreads twice as much
WARMUP_OPS = 3
CLASSES = [{f"b{BATCH}"}]
#: the summaries are over the window's first three batches
SUMMARY_OPS = 3


def build(ctx: Context) -> None:
    """The corpus: documents in unit order, a unit being a lone
    original or an original followed by its planted copy."""
    rng = np.random.default_rng([ctx.seed, 30])
    kind = rng.choice(
        3, CORPUS_UNITS, p=[1 - EXACT_SHARE - NEAR_SHARE, EXACT_SHARE, NEAR_SHARE]
    )
    originals = data.document_texts(rng, CORPUS_UNITS)
    texts, unit = [], []
    for u, (k, text) in enumerate(zip(kind, originals)):
        texts.append(text)
        unit.append(u)
        if k:
            texts.append(text if k == 1 else data.perturb(rng, text, NEAR_EDITS))
            unit.append(u)
    corpus = pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
    )
    unit = np.asarray(unit)
    starts = np.flatnonzero(np.r_[True, unit[1:] != unit[:-1]])
    exact = {u for u, k in enumerate(kind) if k == 1}
    ctx.state.update(corpus=corpus, unit=unit, unit_starts=starts, exact_units=exact)


def prepare(ctx: Context, i: int):
    starts = ctx.state["unit_starts"]
    rng = np.random.default_rng([ctx.seed, 32, i])
    # the batch runs from a unit boundary to the first boundary at or
    # after ``BATCH`` documents, so planted pairs are never split
    last = np.searchsorted(starts, len(ctx.state["corpus"]) - BATCH - 1)
    lo = starts[rng.integers(0, last)]
    hi = starts[np.searchsorted(starts, lo + BATCH)]
    batch = ctx.state["corpus"].iloc[lo:hi]
    return f"b{BATCH}", (lo, hi, batch, ctx.spark.createDataFrame(batch))


def operation(ctx: Context, i: int, payload) -> int:
    from aligned_spark.operators.dedup import minhash_near_dup_pairs

    _, _, batch, frame = payload
    with ctx.tracer.span("dedup.exec") as span:
        pairs = minhash_near_dup_pairs(frame, id_col="doc_id", text_col="text").collect()
    ctx.state["pairs"] = {(r.doc_id_a, r.doc_id_b) for r in pairs}
    if span is not None:
        span.counts["pairs"] = len(pairs)
    return len(batch)


def finish(ctx: Context, i: int, payload) -> None:
    """Every planted exact pair in the batch must be reported; then
    drop the banded frame the operator leaves cached."""
    lo, hi, batch, _ = payload
    unit = ctx.state["unit"][lo:hi]
    exact = ctx.state["exact_units"]
    firsts = np.flatnonzero(np.r_[True, unit[1:] != unit[:-1]]) + lo
    want = {(a, a + 1) for a in firsts if ctx.state["unit"][a] in exact}
    missing = want - ctx.state["pairs"]
    ctx.expect(not missing, f"dedup batch {i}: {len(missing)} exact pairs missing")
    ctx.spark.catalog.clearCache()
    if ctx.tracer.enabled:
        from aligned_spark.functions.text_arrow import minhash_signature_lists

        t0 = time.perf_counter()
        minhash_signature_lists(batch["text"])
        ctx.state.setdefault("kernel", []).append((i, len(batch) / (time.perf_counter() - t0)))


def check(ctx: Context) -> None:
    """Pairs are checked batch by batch in :func:`finish`."""


def per_layer(ctx: Context, first_op: int) -> dict:
    tr = ctx.tracer
    return {
        "dedup.exec_s": metric(median(tr.seconds("dedup.exec", first_op)), "s"),
        "dedup.jobs": metric(tr.first_count("dedup.exec", "jobs"), "count"),
        "dedup.tasks": metric(tr.first_count("dedup.exec", "tasks"), "count"),
        "dedup.pairs": metric(tr.first_count("dedup.exec", "pairs"), "count"),
        "text_arrow.minhash_docs_per_s": metric(
            median([r for i, r in ctx.state["kernel"] if i >= first_op]), "1/s"
        ),
    }
