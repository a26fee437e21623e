"""The hash family behind the text dedup operators.

A family turns document text into the hashes the dedup operators
consume. The algorithms that consume them (banding, pigeonhole
chunking, winnowing keep-min, the span census, the prefix-filter
join) are written once, in :mod:`aligned_spark.operators.dedup` and
:func:`aligned_spark.operators.similarity.prefix_jaccard_pairs`, and
take the family by name through their ``impl`` parameter:

- ``"arrow"``: :data:`aligned_spark.functions.text_arrow.ARROW`,
  SipHash Arrow kernels, the production family;
- ``"poly"``: :data:`aligned_spark.functions.text_poly.POLY`, exact
  modular arithmetic that the DuckDB oracle replays in SQL.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame

TextHash = Callable[[Column, int], Column]


@dataclass(frozen=True)
class HashFamily:
    """What one hash family supplies. Every column function takes
    ``(text, width)``; a document with fewer than ``width`` tokens has
    no shingles and no windows, a NULL fingerprint and SimHash 0."""

    name: str
    #: distinct word-shingle hashes
    shingle_hashes: TextHash
    #: word-window hashes in document order, repeats kept
    window_hashes: TextHash
    #: window hashes over ``functions.text.ws_tokens`` (case and
    #: punctuation kept), one per window start
    ws_window_hashes: TextHash
    #: winnowing fingerprint: the minimum window hash
    fingerprint: TextHash
    simhash: TextHash
    #: signature bits the SimHash pigeonhole chunks must cover
    simhash_bits: int
    #: ``(df, id_col, text_col, num_hashes, bands, width)`` ->
    #: ``(id_col, "__bh")`` with one hash per MinHash band, for the
    #: documents that have at least one shingle
    band_hashes: Callable[[DataFrame, str, str, int, int, int], DataFrame]


def hash_family(impl: str) -> HashFamily:
    """The family named ``impl``: "arrow" or "poly"."""
    # imported here: both family modules import HashFamily from this one
    from aligned_spark.functions.text_arrow import ARROW
    from aligned_spark.functions.text_poly import POLY

    for family in (ARROW, POLY):
        if family.name == impl:
            return family
    raise ValueError(f"unknown impl: {impl!r}")
