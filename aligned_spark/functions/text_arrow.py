"""Arrow-vectorized text kernels: the ``arrow`` hash family.

Why a Pandas UDF here, in an engine that is otherwise codegen-only:
Spark's higher-order array functions (``transform`` / ``arrays_zip`` /
``slice``) are NOT whole-stage-codegen expressions — they evaluate
through the interpreted path, and measurement at 50k docs put the
shingle+hash chain at ~0.4 ms/doc of core time (plus a 2× structural
re-evaluation when the projection is inlined into a Generate node).
The Arrow kernel below does the same work at ~40 µs/doc single-thread
(~10×) and parallelizes across executor cores via Arrow record batches.

A Python stage is not an inlining barrier by itself: a deterministic
pandas UDF is copied into any filter pushed below its projection
(``size(__sig) > 0``, or the one Spark infers for an explode), and
the plan then runs the kernel in two ``ArrowEvalPython`` nodes. Every
kernel here is built by :func:`~aligned_spark.functions.arrow_udf.kernel_udf`,
which marks it nondeterministic so it runs once per row. On the
``corpus_dedup`` benchmark (8k-doc batches, 4 partitions) that halves
the Python tasks from 8 to 4 per batch; each task costs ~0.28 s of
worker CPU before the kernel starts (Spark's per-task
``importlib.invalidate_caches()``), against ~0.09 s for the MinHash
kernel itself on a 2k-doc partition.

:data:`ARROW` bundles these kernels as the production
:class:`~aligned_spark.functions.hash_family.HashFamily`, the default
``impl`` of the dedup operators.

Hash family: ``pd.util.hash_array`` (SipHash-1-3 with pandas' fixed
default key — deterministic across processes) for shingle hashes, and
wrapping odd-multiplier linear maps ``a·h + b (mod 2^64)`` — bijections
on Z/2^64 — for the MinHash permutation family. Two pieces hash with
Spark's JVM ``xxhash64`` instead: the per-band hash over a MinHash
signature slice, and the whitespace-token windows that
``remove_duplicate_spans`` cuts. Values therefore differ from the
SQL-replayable ``poly`` family (:mod:`aligned_spark.functions.text_poly`);
MinHash semantics (collision probability ≈ Jaccard) are the same.

Reference capability: corpus near-dup detection, compare
``nearest_n_to``-style usage in ``aligned/sources/lancedb.py:158-212``
(the reference has no corpus dedup operator at all — this is part of
the training-data-pipeline surface layered on top).
"""

from __future__ import annotations

from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from aligned_spark.functions.arrow_udf import kernel_udf
from aligned_spark.functions.hash_family import HashFamily
from aligned_spark.functions.text import _sliding_zip, ws_tokens

# Tokens: runs of letters (incl. latin-1 accents), lowercased — must
# stay in sync with aligned_spark.functions.text._words.
_TOKEN_RE = r"[a-zà-ÿ]+"

_MIX = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant

_LONGS = ArrayType(LongType())


def _batch_udf(kernel, return_type, text: Column, *args) -> Column:
    """Column of ``kernel(texts, *args)``, one call per Arrow batch."""

    def _kernel(s: pd.Series) -> pd.Series:
        return kernel(s, *args)

    _kernel.__name__ = kernel.__name__  # names the plan's ArrowEvalPython
    return kernel_udf(_kernel, return_type)(text)


def _flat_token_hashes(
    texts: pd.Series,
) -> tuple[np.ndarray, np.ndarray]:
    """(counts, flat_hashes): token counts per doc and one uint64 hash
    per token, concatenated in document order."""
    toks = texts.fillna("").str.lower().str.findall(_TOKEN_RE)
    counts = toks.str.len().to_numpy(dtype=np.int64)
    flat = list(chain.from_iterable(toks))
    if not flat:
        return counts, np.empty(0, dtype=np.uint64)
    hashes = pd.util.hash_array(np.asarray(flat, dtype=object))
    return counts, hashes.astype(np.uint64, copy=False)


def _window_hashes(
    counts: np.ndarray, flat: np.ndarray, width: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-doc sliding-window combined hashes, computed globally.

    Returns (win_starts, win_counts, windows): for doc i its combined
    window hashes are ``windows[win_starts[i] : win_starts[i] +
    win_counts[i]]``. Cross-document windows are compacted away.
    """
    if len(counts) == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, np.empty(0, dtype=np.uint64)
    n = len(flat)
    m = max(n - width + 1, 0)
    comb = flat[:m].copy()
    for k in range(1, width):
        comb = comb * _MIX ^ flat[k : k + m]
    doc_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    win_counts = np.maximum(counts - width + 1, 0)
    # valid global window positions per doc: doc_starts[i] .. +win_counts[i]
    keep = np.zeros(m + 1, dtype=np.int64)
    valid = win_counts > 0
    np.add.at(keep, doc_starts[valid], 1)
    np.add.at(keep, (doc_starts + win_counts)[valid], -1)
    mask = np.cumsum(keep[:-1]) > 0
    windows = comb[mask]
    win_starts = np.concatenate(([0], np.cumsum(win_counts)[:-1]))
    return win_starts, win_counts, windows


def shingle_hash_lists(texts: pd.Series, width: int = 3) -> pd.Series:
    """Distinct word-shingle hashes per document (list of int64)."""
    counts, flat = _flat_token_hashes(texts)
    starts, wcounts, windows = _window_hashes(counts, flat, width)
    signed = windows.view(np.int64)
    out = [
        np.unique(signed[starts[i] : starts[i] + wcounts[i]]).tolist()
        for i in range(len(counts))
    ]
    return pd.Series(out, index=texts.index, dtype=object)


def window_hash_lists(texts: pd.Series, width: int = 3) -> pd.Series:
    """Positional word-window hashes per document, in document order
    with duplicates kept (substring-span detection input)."""
    counts, flat = _flat_token_hashes(texts)
    starts, wcounts, windows = _window_hashes(counts, flat, width)
    signed = windows.view(np.int64)
    out = [
        signed[starts[i] : starts[i] + wcounts[i]].tolist()
        for i in range(len(counts))
    ]
    return pd.Series(out, index=texts.index, dtype=object)


def window_hashes_arrow(text: Column, width: int = 8) -> Column:
    """Arrow-batched positional window hashes (document order,
    duplicates kept) — SipHash family twin of
    :func:`aligned_spark.functions.text_poly.poly_window_hashes_arrow`."""
    return _batch_udf(window_hash_lists, _LONGS, text, width)


# Deterministic permutation family: odd multipliers + offsets.
def _perm_family(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    import random

    rng = random.Random(0xA11C9ED5)
    a = np.array(
        [rng.getrandbits(64) | 1 for _ in range(num_hashes)], dtype=np.uint64
    )
    b = np.array(
        [rng.getrandbits(64) for _ in range(num_hashes)], dtype=np.uint64
    )
    return a, b


def minhash_signature_lists(
    texts: pd.Series, num_hashes: int = 32, width: int = 3
) -> pd.Series:
    """MinHash signatures (length ``num_hashes``, int64) per document;
    documents with fewer than ``width`` tokens get an empty list."""
    counts, flat = _flat_token_hashes(texts)
    starts, wcounts, windows = _window_hashes(counts, flat, width)
    a, b = _perm_family(num_hashes)
    out: list[list[int]] = []
    if len(windows):
        # (num_hashes × total_windows) permuted matrix, then segment
        # mins via reduceat — no per-doc Python loop over hashes
        pm = windows[None, :] * a[:, None] + b[:, None]
        nonempty = wcounts > 0
        seg_starts = starts[nonempty]
        if len(seg_starts):
            mins = np.minimum.reduceat(pm, seg_starts, axis=1)
        sig_iter = iter(range(len(seg_starts)))
        for i in range(len(counts)):
            if wcounts[i] > 0:
                j = next(sig_iter)
                out.append(mins[:, j].view(np.int64).tolist())
            else:
                out.append([])
    else:
        out = [[] for _ in range(len(counts))]
    return pd.Series(out, index=texts.index, dtype=object)


_WORD_SPLIT = None  # compiled lazily (keeps module import cheap)
_JAVA_WS = None


def _doc_score(t: str | None) -> tuple:
    """One document's (pred_lang, quality, ws_tokens) — an exact
    scalar replay of ``functions.text.quality_score`` /
    ``language_id`` / ``whitespace_token_count``: same regexes, same
    float64 op order, so values (and the DuckDB oracle) hash-match
    the codegen path bit-for-bit."""
    global _WORD_SPLIT, _JAVA_WS
    import re

    if _WORD_SPLIT is None:
        _WORD_SPLIT = re.compile(r"[^a-zA-ZÀ-ÿ]+")
        # Java's \s is ASCII-only: [ \t\n\x0B\f\r]
        _JAVA_WS = re.compile(r"[ \t\n\x0B\f\r]+")
    from aligned_spark.functions.text import _EN_STOPWORDS, _LANG_MARKERS

    t = t or ""
    n_chars = float(max(len(t), 1))
    words = [w for w in _WORD_SPLIT.split(t.lower()) if w]
    n_words = float(max(len(words), 1))

    alpha_chars = sum(
        1 for c in t if ("a" <= c <= "z" or "A" <= c <= "Z" or "À" <= c <= "ÿ")
    )
    alpha_ratio = alpha_chars / n_chars
    punct_chars = sum(1 for c in t if c in ".,;:!?'\"()")
    punct_component = 1.0 - min(punct_chars / n_chars * 5.0, 1.0)
    acc = 0.0
    for w in words:
        acc = acc + len(w)
    mean_word_len = acc / n_words
    word_len_component = 1.0 if 3.0 <= mean_word_len <= 10.0 else 0.0
    stops = set(_EN_STOPWORDS)
    stop_component = min(
        sum(1 for w in words if w in stops) / n_words * 4.0, 1.0
    )
    quality = (
        alpha_ratio * 0.3
        + punct_component * 0.2
        + word_len_component * 0.3
        + stop_component * 0.2
    )

    best = max(
        (sum(1 for w in words if w in markers), lang)
        for lang, markers in _LANG_MARKERS.items()
    )
    pred_lang = best[1] if best[0] > 0 else "und"

    ws_tokens = sum(1 for w in _JAVA_WS.split(t) if w)
    return pred_lang, quality, ws_tokens


def corpus_scores_arrow(text: Column) -> Column:
    """struct(pred_lang, quality, ws_tokens) per document — the
    vectorized equivalent of the three codegen text functions
    (bit-identical values; the HOF chains evaluate interpreted at
    ~0.8 ms/doc, this kernel at ~30 µs/doc)."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("pred_lang", StringType()),
            StructField("quality", DoubleType()),
            StructField("ws_tokens", LongType()),
        ]
    )

    def _kernel(s: pd.Series) -> pd.DataFrame:
        rows = [_doc_score(t) for t in s]
        return pd.DataFrame(
            rows, columns=["pred_lang", "quality", "ws_tokens"]
        )

    return kernel_udf(_kernel, schema)(text)


def _char_ngram_set(s: str | None, n: int) -> set:
    """Exact mirror of ``functions.text.char_ngrams`` semantics:
    lowercase, windows ``s[i:i+n]`` for i in [0, max(len-(n-1), 1));
    short strings yield their whole (lowered) self."""
    t = (s or "").lower()
    m = max(len(t) - (n - 1), 1)
    return {t[i : i + n] for i in range(m)}


def ngram_jaccard_arrow(a: Column, b: Column, n: int = 3) -> Column:
    """Exact character-n-gram Jaccard — same VALUES as the codegen
    ``operators.dedup.ngram_jaccard`` (real string sets, no hashing),
    ~50× its throughput: the codegen form re-evaluates the lowered
    text per n-gram position (measured 93 ms core/doc on 340-char
    docs)."""

    def _kernel(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = np.empty(len(sa), dtype=np.float64)
        for i, (x, y) in enumerate(zip(sa, sb)):
            ga, gb = _char_ngram_set(x, n), _char_ngram_set(y, n)
            union = len(ga | gb)
            out[i] = len(ga & gb) / union if union else 1.0
        return pd.Series(out, index=sa.index)

    return kernel_udf(_kernel, "double")(a, b)


def rolling_fingerprint_values(
    texts: pd.Series, width: int = 8
) -> pd.Series:
    """Winnowing-style content fingerprint: min of the sliding-window
    combined hashes (None for docs with < ``width`` tokens)."""
    counts, flat = _flat_token_hashes(texts)
    starts, wcounts, windows = _window_hashes(counts, flat, width)
    signed = windows.view(np.int64)
    out: list[int | None] = [None] * len(counts)
    nonempty = wcounts > 0
    if signed.size and nonempty.any():
        seg = starts[nonempty]
        mins = np.minimum.reduceat(signed, seg)
        it = iter(mins.tolist())
        for i in range(len(counts)):
            if nonempty[i]:
                out[i] = next(it)
    return pd.Series(out, index=texts.index, dtype=object)


def rolling_fingerprint_arrow(text: Column, width: int = 8) -> Column:
    """Arrow-batched :func:`rolling_fingerprint_values`."""
    return _batch_udf(rolling_fingerprint_values, LongType(), text, width)


def simhash_lists(texts: pd.Series, width: int = 3) -> pd.Series:
    """64-bit SimHash (majority vote over shingle-hash bits) per
    document, as int64; documents with no shingles get 0. Fully
    vectorized: unpack window-hash bits to an (n_windows × 64) matrix,
    segment-sum with ``np.add.reduceat``, majority-compare, repack."""
    counts, flat = _flat_token_hashes(texts)
    starts, wcounts, windows = _window_hashes(counts, flat, width)
    out = np.zeros(len(counts), dtype=np.int64)
    nonempty = wcounts > 0
    if windows.size and nonempty.any():
        u8 = windows.view(np.uint8).reshape(-1, 8)
        bit_m = np.unpackbits(u8, axis=1, bitorder="little")
        seg = starts[nonempty]
        sums = np.add.reduceat(bit_m.astype(np.int64), seg, axis=0)
        maj = (2 * sums > wcounts[nonempty, None]).astype(np.uint8)
        packed = np.packbits(maj, axis=1, bitorder="little")
        out[nonempty] = np.ascontiguousarray(packed).view(np.uint64)[
            :, 0
        ].view(np.int64)
    return pd.Series(out, index=texts.index)


def simhash_arrow(text: Column, width: int = 3) -> Column:
    """Arrow-batched 64-bit SimHash column (:func:`simhash_lists`)."""
    return _batch_udf(simhash_lists, LongType(), text, width)


def shingle_hashes_arrow(text: Column, width: int = 3) -> Column:
    """Arrow-batched distinct shingle hashes (:func:`shingle_hash_lists`)."""
    return _batch_udf(shingle_hash_lists, _LONGS, text, width)


def minhash_signature_arrow(
    text: Column, num_hashes: int = 32, width: int = 3
) -> Column:
    """MinHash signature column (array<long>, length ``num_hashes``;
    empty for docs with < ``width`` tokens), Arrow-batched."""
    return _batch_udf(minhash_signature_lists, _LONGS, text, num_hashes, width)


def ws_window_xxhashes(text: Column, width: int) -> Column:
    """Whitespace-token window hashes: each :func:`ws_tokens` word is
    hashed with ``xxhash64``, then every ``width`` consecutive word
    hashes fold with one fixed-arity ``xxhash64``."""
    tokens = ws_tokens(text)
    word_h = F.transform(tokens, lambda w: F.xxhash64(w))
    # Docs shorter than ``width`` tokens have NO windows. Without the
    # guard, _sliding_zip emits one NULL-padded window whose xxhash64
    # silently skips the NULL fields, so two identical short docs
    # would share a window hash and be fully deleted — diverging from
    # the oracle-verified poly family, which emits zero windows.
    return F.when(
        F.size(tokens) >= width,
        F.transform(
            _sliding_zip(word_h, width),
            lambda s: F.xxhash64(*[s.getField(str(k)) for k in range(width)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def band_hash_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    width: int,
) -> DataFrame:
    """``(id_col, __bh)``: one ``xxhash64`` per band over its slice of
    the Arrow MinHash signature. Two projections, so the signature
    UDF runs once per document and the band hashes read its column."""
    rows_per_band = num_hashes // bands
    with_sig = df.select(
        F.col(id_col),
        minhash_signature_arrow(F.col(text_col), num_hashes, width).alias(
            "__sig"
        ),
    ).filter(F.size("__sig") > 0)
    band_hashes = [
        F.xxhash64(
            *[
                F.element_at(F.col("__sig"), b * rows_per_band + r + 1)
                for r in range(rows_per_band)
            ]
        )
        for b in range(bands)
    ]
    return with_sig.select(id_col, F.array(*band_hashes).alias("__bh"))


ARROW = HashFamily(
    name="arrow",
    shingle_hashes=shingle_hashes_arrow,
    window_hashes=window_hashes_arrow,
    ws_window_hashes=ws_window_xxhashes,
    fingerprint=rolling_fingerprint_arrow,
    simhash=simhash_arrow,
    simhash_bits=64,
    band_hashes=band_hash_rows,
)
