"""SQL-mirrorable polynomial hash family for oracle-verified dedup.

The production dedup family (``impl="arrow"``) hashes with SipHash and
xxhash64 — neither is computable in ANSI SQL, so the registered
queries built on it can only be rows-only checked. This module defines the
second family, :data:`POLY` (``impl="poly"``), whose every step is
exact modular integer arithmetic

    h = fold over items: (acc * B + item) mod P,   P = 2^61 - 1

and is therefore replayable verbatim in DuckDB SQL (int128 ``HUGEINT``
intermediates; the same seeded MinHash permutation constants embedded
as literals). That makes the *full* MinHash-LSH banding, SimHash
pigeonhole banding, and winnowing-fingerprint pipelines end-to-end
value-verifiable against an independent engine — the same trick the
LSH oracle uses with its hyperplane literals.

Hash quality is ample for dedup (Mersenne-prime modulus, odd bases);
throughput is a per-document Python loop, so the corpus-scale
production path stays ``arrow`` — banding, pigeonhole chunking, and
keep-min semantics are shared code either way (the operators in
``operators/dedup.py`` take a
:class:`~aligned_spark.functions.hash_family.HashFamily`).

Reference capability: corpus near-dup detection (the aligned reference
has no corpus dedup operator; this extends the training-data surface —
see ``operators/dedup.py`` module docstring).
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from aligned_spark.functions.arrow_udf import kernel_udf
from aligned_spark.functions.hash_family import HashFamily

# Must stay in sync across the two families AND the SQL
# builders below: tokens are runs of [a-zà-ÿ] on the lowercased text
# (same class as functions.text._words / text_arrow._TOKEN_RE).
_TOKEN_RE = re.compile(r"[a-zà-ÿ]+")

# ASCII whitespace only — identical to Java \s (Spark F.split):
# both are [ \t\n\x0b\f\r]. NOTE: RE2 \s (DuckDB) EXCLUDES \x0b, so
# the SQL mirrors spell the class out explicitly instead of \s —
# see sql_ws_word_hashes / ws_word_hashes.
_WS_ASCII = re.compile(r"\s+", re.ASCII)

P = (1 << 61) - 1  # Mersenne prime — (a*h+b) stays under 2^122 < int128
CHAR_B = 31  # character-fold base (word hash)
COMB_B = 1_000_003  # combining base (shingle windows, band hashes)
PERM_SEED = 0x5EED2024
SIMHASH_BITS = 61  # the hash yields 61 usable bits


def _fold(xs, base: int) -> int:
    h = 0
    for x in xs:
        h = (h * base + x) % P
    return h


def word_hashes(text: str | None) -> list[int]:
    """One poly hash per token (code-point fold, base 31 mod P)."""
    return [
        _fold([ord(c) for c in w], CHAR_B)
        for w in _TOKEN_RE.findall((text or "").lower())
    ]


def window_hashes(text: str | None, width: int) -> list[int]:
    """Sliding ``width``-word shingle hashes (base-COMB_B fold of the
    word hashes); empty when the doc has fewer than ``width`` tokens."""
    wh = word_hashes(text)
    return [
        _fold(wh[i : i + width], COMB_B)
        for i in range(len(wh) - width + 1)
    ]


@lru_cache(maxsize=8)
def perm_family(num_hashes: int) -> tuple[tuple[int, ...], tuple[int, ...]]:
    """Seeded MinHash permutation constants (a_i, b_i) — embedded as
    literals in the oracle SQL, so both engines use identical maps."""
    import random

    rng = random.Random(PERM_SEED)
    a = tuple(rng.randrange(1, P) for _ in range(num_hashes))
    b = tuple(rng.randrange(0, P) for _ in range(num_hashes))
    return a, b


def minhash_signature(
    text: str | None, num_hashes: int, width: int
) -> list[int]:
    """min over shingles of (a_i·h + b_i) mod P; [] if un-shingleable."""
    sh = window_hashes(text, width)
    if not sh:
        return []
    a, b = perm_family(num_hashes)
    return [min((ai * h + bi) % P for h in sh) for ai, bi in zip(a, b)]


def band_hashes(
    text: str | None, num_hashes: int, bands: int, width: int
) -> list[int]:
    """Per-band fold of the signature slice; [] if un-shingleable."""
    sig = minhash_signature(text, num_hashes, width)
    if not sig:
        return []
    rpb = num_hashes // bands
    return [_fold(sig[k * rpb : (k + 1) * rpb], COMB_B) for k in range(bands)]


def simhash_value(text: str | None, width: int) -> int:
    """61-bit SimHash (majority vote per bit over shingle hashes);
    0 for un-shingleable docs."""
    sh = window_hashes(text, width)
    if not sh:
        return 0
    n = len(sh)
    sig = 0
    for j in range(SIMHASH_BITS):
        ones = sum((h >> j) & 1 for h in sh)
        if 2 * ones > n:
            sig |= 1 << j
    return sig


def fingerprint_value(text: str | None, width: int) -> int | None:
    """Winnowing-style fingerprint: min shingle hash; None if too short."""
    sh = window_hashes(text, width)
    return min(sh) if sh else None


def shingle_set(text: str | None, width: int) -> list[int]:
    """Distinct shingle hashes, sorted (exact-Jaccard verification)."""
    return sorted(set(window_hashes(text, width)))


# --------------------------------------------------------------------------
# Spark Column wrappers (Arrow-batched; per-doc Python loop inside)
# --------------------------------------------------------------------------

_LONGS = ArrayType(LongType())


def _per_doc_udf(fn, return_type, text: Column, *args) -> Column:
    """Column of ``fn(doc, *args)`` for every document of ``text``."""

    def _kernel(s: pd.Series) -> pd.Series:
        return pd.Series([fn(t, *args) for t in s], index=s.index, dtype=object)

    _kernel.__name__ = fn.__name__  # names the plan's ArrowEvalPython
    return kernel_udf(_kernel, return_type)(text)


def poly_band_hashes_arrow(
    text: Column, num_hashes: int, bands: int, width: int
) -> Column:
    return _per_doc_udf(band_hashes, _LONGS, text, num_hashes, bands, width)


def poly_shingle_hashes_arrow(text: Column, width: int) -> Column:
    """Distinct sorted shingle hashes (:func:`shingle_set`)."""
    return _per_doc_udf(shingle_set, _LONGS, text, width)


def poly_window_hashes_arrow(text: Column, width: int) -> Column:
    """Positional sliding-window hashes in document order (duplicates
    kept) — the substring-span detection input; mirror of
    :func:`sql_window_hashes`."""
    return _per_doc_udf(window_hashes, _LONGS, text, width)


def poly_simhash_arrow(text: Column, width: int) -> Column:
    return _per_doc_udf(simhash_value, LongType(), text, width)


def trigram_bucket_counts(text: str | None, size: int) -> list[int]:
    """Char-3-gram → poly hash → ``size`` bucket counts (the integer
    core of a bag-of-shingles fake embedding; L2-normalizing these
    gives the ``fake_text_embedding`` contract). Windows run over ALL
    characters of the lowercased text, matching
    ``functions.embeddings.fake_text_embedding``'s char stream."""
    cps = [ord(c) for c in (text or "").lower()]
    counts = [0] * size
    for i in range(len(cps) - 2):
        counts[_fold(cps[i : i + 3], CHAR_B) % size] += 1
    return counts


def poly_trigram_counts_arrow(text: Column, size: int) -> Column:
    return _per_doc_udf(trigram_bucket_counts, _LONGS, text, size)


def sql_trigram_buckets(col: str, size: int) -> str:
    """Bucket id per char-3-gram window (list expression)."""
    return (
        f"list_transform(range(1, len({col}) - 1), "
        f"i -> CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), "
        f"list_slice({col}, i, i + 2)), "
        f"(a, b) -> (a * {CHAR_B} + b) % {P}) % {size} AS BIGINT))"
    )


def poly_fingerprint_arrow(text: Column, width: int) -> Column:
    return _per_doc_udf(fingerprint_value, LongType(), text, width)


# --------------------------------------------------------------------------
# DuckDB SQL builders — the exact same arithmetic, replayed in SQL.
# All intermediates go through HUGEINT (int128) so a*h never overflows.
# --------------------------------------------------------------------------


def sql_word_hashes(col: str) -> str:
    return (
        f"list_transform(regexp_extract_all(lower(coalesce({col}, '')), '[a-zà-ÿ]+'), "
        f"w -> CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), "
        f"list_transform(string_split_regex(w, ''), "
        f"c -> CAST(ord(c) AS HUGEINT))), "
        f"(a, b) -> (a * {CHAR_B} + b) % {P}) AS BIGINT))"
    )


def sql_window_hashes(wh_col: str, width: int) -> str:
    """Sliding windows over an already-projected word-hash list column
    (pass a *column name*, not the word-hash expression — it is
    referenced twice)."""
    return (
        f"list_transform(range(1, len({wh_col}) - {width} + 2), "
        f"i -> CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), "
        f"list_transform(list_slice({wh_col}, i, i + {width} - 1), "
        f"x -> CAST(x AS HUGEINT))), "
        f"(a, b) -> (a * {COMB_B} + b) % {P}) AS BIGINT))"
    )


def sql_minhash_sig(sh_col: str, num_hashes: int) -> str:
    """Signature as a SQL list literal of per-permutation mins."""
    a, b = perm_family(num_hashes)
    terms = ", ".join(
        f"list_min(list_transform({sh_col}, "
        f"h -> CAST((CAST({ai} AS HUGEINT) * h + {bi}) % {P} AS BIGINT)))"
        for ai, bi in zip(a, b)
    )
    return f"[{terms}]"


def sql_band_hash(sig_col: str, band_id_col: str, rows_per_band: int) -> str:
    return (
        f"CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), "
        f"list_transform(list_slice({sig_col}, "
        f"{band_id_col} * {rows_per_band} + 1, "
        f"{band_id_col} * {rows_per_band} + {rows_per_band}), "
        f"x -> CAST(x AS HUGEINT))), "
        f"(a, b) -> (a * {COMB_B} + b) % {P}) AS BIGINT)"
    )


def sql_simhash(sh_col: str) -> str:
    """61 majority-vote bit terms summed into one BIGINT. Empty shingle
    lists give NULL sums -> every CASE falls to 0 -> sig 0, matching
    :func:`simhash_value`."""
    terms = " + ".join(
        f"(CASE WHEN 2 * list_sum(list_transform({sh_col}, "
        f"h -> (h >> {j}) & 1)) > len({sh_col}) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"({terms})"


def ws_word_hashes(text: str | None) -> list[int]:
    """One poly hash per WHITESPACE token (raw characters, case
    preserved) — the span-REMOVAL tokenization: unlike
    :func:`word_hashes`' lowercase-alpha tokens, whitespace tokens
    map 1:1 onto the words a removal pass reassembles.

    Tokenizes on ASCII whitespace ONLY (``re.ASCII`` ``\\s`` =
    ``[ \\t\\n\\x0b\\f\\r]``) so the token stream is identical to the
    Spark side's ``F.split(r"\\s+")`` (Java ``\\s``, same class) —
    Python ``str.split()`` would additionally split on NBSP / U+2028
    etc. and misalign hash positions against Spark token indices,
    cutting the wrong tokens. The DuckDB mirror
    (:func:`sql_ws_word_hashes`) spells the class out explicitly
    because RE2 ``\\s`` EXCLUDES ``\\x0b``."""
    return [
        _fold([ord(c) for c in w], CHAR_B)
        for w in _WS_ASCII.split(text or "")
        if w
    ]


def ws_window_hashes(text: str | None, width: int) -> list[int]:
    wh = ws_word_hashes(text)
    return [
        _fold(wh[i : i + width], COMB_B)
        for i in range(len(wh) - width + 1)
    ]


def poly_ws_window_hashes_arrow(text: Column, width: int) -> Column:
    return _per_doc_udf(ws_window_hashes, _LONGS, text, width)


def sql_ws_word_hashes(col: str) -> str:
    """Whitespace-token char folds — mirror of :func:`ws_word_hashes`.
    The split class is spelled out because RE2 ``\\s`` lacks ``\\x0b``
    while the Python/Java sides include it (see ``_WS_ASCII``)."""
    return (
        f"list_transform(list_filter("
        f"string_split_regex(coalesce({col}, ''), "
        f"'[ \\t\\n\\x0b\\f\\r]+'), "
        f"x -> x <> ''), "
        f"w -> CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), "
        f"list_transform(string_split_regex(w, ''), "
        f"c -> CAST(ord(c) AS HUGEINT))), "
        f"(a, b) -> (a * {CHAR_B} + b) % {P}) AS BIGINT))"
    )


def band_hash_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    width: int,
) -> DataFrame:
    """``(id_col, __bh)``: the kernel's per-band folds
    (:func:`band_hashes`), for documents with at least one shingle."""
    return df.select(
        F.col(id_col),
        poly_band_hashes_arrow(F.col(text_col), num_hashes, bands, width).alias(
            "__bh"
        ),
    ).filter(F.size("__bh") > 0)


POLY = HashFamily(
    name="poly",
    shingle_hashes=poly_shingle_hashes_arrow,
    window_hashes=poly_window_hashes_arrow,
    ws_window_hashes=poly_ws_window_hashes_arrow,
    fingerprint=poly_fingerprint_arrow,
    simhash=poly_simhash_arrow,
    simhash_bits=SIMHASH_BITS,
    band_hashes=band_hash_rows,
)
