"""Arrow text kernels: parity with the codegen path + edge cases."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aligned_spark.functions.text_arrow import (
    minhash_signature_lists,
    shingle_hash_lists,
    shingle_hashes_arrow,
)
from aligned_spark.functions.text_poly import poly_shingle_hashes_arrow
from aligned_spark.operators import dedup
from aligned_spark.operators.similarity import prefix_jaccard_pairs
from aligned_spark.sources.dedup_index import DedupIndexSource


def test_kernel_edges_no_spark():
    s = pd.Series(["one two three four", "", None, "a b"])
    sh = shingle_hash_lists(s, 3)
    assert [len(x) for x in sh] == [2, 0, 0, 0]
    sig = minhash_signature_lists(s, 16, 3)
    assert [len(x) for x in sig] == [16, 0, 0, 0]
    # deterministic across calls
    again = minhash_signature_lists(s, 16, 3)
    assert list(sig[0]) == list(again[0])
    # empty batch
    assert list(shingle_hash_lists(pd.Series([], dtype=object))) == []


def test_shingle_count_parity_with_poly(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "sphinx of black quartz judge my vow sphinx of black quartz"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = docs.select(
        F.size(poly_shingle_hashes_arrow(F.col("text"), 3)).alias("po"),
        F.size(shingle_hashes_arrow(F.col("text"), 3)).alias("ar"),
    ).collect()
    # same tokenization + same distinct-window semantics → same counts
    # (hash values differ by family; collisions are ~2^-64)
    for r in got:
        assert r.po == r.ar


def test_pair_sets_agree_across_impls(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),
            (3, base + " tail"),
            (4, "entirely different words live here today friends"),
        ],
        "doc_id long, text string",
    )
    from aligned_spark.operators.dedup import minhash_near_dup_pairs

    def pair_set(impl):
        rows = minhash_near_dup_pairs(
            docs,
            "doc_id",
            "text",
            num_hashes=32,
            bands=16,
            jaccard_threshold=0.5,
            impl=impl,
        ).collect()
        return {(r.doc_id_a, r.doc_id_b) for r in rows}

    arrow, poly = pair_set("arrow"), pair_set("poly")
    assert (1, 2) in arrow and (1, 2) in poly
    assert all(4 not in p for p in arrow | poly)


def test_corpus_scores_bit_parity(spark):
    """The Arrow scoring kernel replays the codegen formulas scalar
    op for scalar op — values must be IDENTICAL doubles."""
    from aligned_spark.functions.text import (
        language_id,
        quality_score,
        whitespace_token_count,
    )
    from aligned_spark.functions.text_arrow import corpus_scores_arrow

    rows = [
        (1, "The quick brown fox, and the lazy dog! It was for sure."),
        (2, "der hund und die katze sind nicht mit auf der couch"),
        (3, ""),
        (4, None),
        (5, "x" * 300),
        (6, "a b   c\t\nd  e"),
        (7, "?!?!?! ... ,,,, (((())))"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = df.select(
        "i",
        language_id(F.col("t")).alias("l"),
        quality_score(F.col("t")).alias("q"),
        whitespace_token_count(F.col("t")).cast("long").alias("w"),
        corpus_scores_arrow(F.col("t")).alias("s"),
    ).collect()
    for r in got:
        assert r.l == r.s.pred_lang, r
        assert r.q == r.s.quality, r
        assert r.w == r.s.ws_tokens, r


def test_ngram_jaccard_arrow_bit_parity(spark):
    """Arrow and codegen n-gram Jaccard must agree bit-for-bit —
    both compute exact set Jaccard over the same string n-grams."""
    from aligned_spark.functions.text_arrow import ngram_jaccard_arrow
    from aligned_spark.operators.dedup import ngram_jaccard

    rows = [
        (1, "The quick brown fox", "the quick brown fox"),
        (2, "hello world", "world hello"),
        (3, "ab", "ab"),
        (4, "", "xyz"),
        (5, None, None),
    ]
    df = spark.createDataFrame(rows, "i long, a string, b string")
    out = df.select(
        ngram_jaccard(F.col("a"), F.col("b"), 3).alias("cg"),
        ngram_jaccard_arrow(F.col("a"), F.col("b"), 3).alias("ar"),
    ).collect()
    for r in out:
        assert r.cg == r.ar, (r.cg, r.ar)


def test_fingerprint_arrow_and_dedup(spark):
    from aligned_spark.functions.text_arrow import rolling_fingerprint_values
    from aligned_spark.operators.dedup import fingerprint_dedup

    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    s = pd.Series([body, body, "tiny", None])
    fp = rolling_fingerprint_values(s, 8)
    assert fp[0] == fp[1] and fp[0] is not None
    assert fp[2] is None and fp[3] is None

    docs = spark.createDataFrame(
        [(1, body), (2, body), (3, "short one"), (4, "short two")],
        "doc_id long, text string",
    )
    for impl in ("arrow",):
        kept = sorted(
            r.doc_id
            for r in fingerprint_dedup(
                docs, "text", "doc_id", width=8, impl=impl
            ).collect()
        )
        # identical docs merge; un-fingerprintable short docs both stay
        assert kept == [1, 3, 4], (impl, kept)


def test_simhash_arrow_hamming_locality():
    from aligned_spark.functions.text_arrow import simhash_lists

    s = pd.Series(
        [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy cat",
            "completely unrelated text about other things entirely",
            "",
        ]
    )
    h = [int(x) & 0xFFFFFFFFFFFFFFFF for x in simhash_lists(s)]
    assert h[0] == h[1]  # identical docs
    near = bin(h[0] ^ h[2]).count("1")
    far = bin(h[0] ^ h[3]).count("1")
    assert near < far
    assert h[4] == 0  # empty doc sentinel


def test_simhash_near_dup_pairs(spark):
    from aligned_spark.operators.dedup import simhash_near_dup_pairs

    base = (
        "the quick brown fox jumps over the lazy dog while seven "
        "wizards brew strong potions under the ancient oak tree"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),
            (3, base.replace("potions", "elixirs")),
            (4, "completely unrelated content about spaceships and "
                "galaxies drifting through endless cosmic night skies"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    for impl in ("arrow",):
        pairs = {
            (r.doc_id_a, r.doc_id_b): r.hamming
            for r in simhash_near_dup_pairs(
                docs, "doc_id", "text", max_hamming=6, impl=impl
            ).collect()
        }
        assert pairs.get((1, 2)) == 0, (impl, pairs)  # identical
        assert all(4 not in p and 5 not in p for p in pairs), (impl, pairs)
    # pigeonhole recall: a brute-force check at max_hamming=6 finds
    # no pair the banded join missed
    from aligned_spark.functions.text_arrow import simhash_lists

    texts = {r.doc_id: r.text for r in docs.collect()}
    sigs = {
        i: int(v) & 0xFFFFFFFFFFFFFFFF
        for i, v in zip(
            texts, simhash_lists(pd.Series(list(texts.values())))
        )
        if int(v) != 0
    }
    brute = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 6
    }
    banded = {
        (r.doc_id_a, r.doc_id_b)
        for r in simhash_near_dup_pairs(
            docs, "doc_id", "text", max_hamming=6, impl="arrow"
        ).collect()
    }
    assert banded == brute


def test_connected_components_and_transitive_dedup(spark):
    from aligned_spark.operators.dedup import (
        connected_components,
        minhash_dedup,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9)], "a long, b long"
    )
    comps = {
        r.node: r.label
        for r in connected_components(edges, "a", "b").collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}
    # the distributed min-label loop (forced via driver_threshold=0)
    # must agree with the driver union-find exactly
    dist = {
        r.node: r.label
        for r in connected_components(
            edges, "a", "b", driver_threshold=0
        ).collect()
    }
    assert dist == comps

    # transitive near-dup: A~B and B~C chained through an edit; the
    # greedy pass already removes both here, the transitive pass must
    # agree AND collapse via components
    base = (
        "the quick brown fox jumps over the lazy dog while seven "
        "wizards brew strong potions under the ancient oak tree"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),
            (3, base + " extra words"),
            (4, "entirely different text about starlight and maps"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id
        for r in minhash_dedup(
            docs, "doc_id", "text", bands=16, jaccard_threshold=0.5,
            transitive=True,
        ).collect()
    )
    assert kept == [1, 4]


#: every operator that takes a text hash family as ``impl``
_IMPL_OPERATORS = {
    "fingerprint_dedup": lambda d, impl: dedup.fingerprint_dedup(
        d, "text", "doc_id", impl=impl
    ),
    "_band_rows": lambda d, impl: dedup._band_rows(
        d, "doc_id", "text", 32, 8, 3, impl=impl
    ),
    "minhash_near_dup_pairs": lambda d, impl: dedup.minhash_near_dup_pairs(
        d, "doc_id", "text", jaccard_threshold=0.5, impl=impl
    ),
    "simhash_near_dup_pairs": lambda d, impl: dedup.simhash_near_dup_pairs(
        d, "doc_id", "text", impl=impl
    ),
    "decontaminate": lambda d, impl: dedup.decontaminate(
        d, d, "doc_id", "text", "text", impl=impl
    ),
    "fuzzy_decontaminate": lambda d, impl: dedup.fuzzy_decontaminate(
        d, d, "doc_id", "text", "text", impl=impl
    ),
    "bloom_decontaminate": lambda d, impl: dedup.bloom_decontaminate(
        d, d, "doc_id", "text", "text", impl=impl
    ),
    "duplicate_spans": lambda d, impl: dedup.duplicate_spans(
        d, "doc_id", "text", impl=impl
    ),
    "remove_duplicate_spans": lambda d, impl: dedup.remove_duplicate_spans(
        d, "doc_id", "text", impl=impl
    ),
    "prefix_jaccard_pairs": lambda d, impl: prefix_jaccard_pairs(
        d, "doc_id", "text", 0.5, impl=impl
    ),
    "DedupIndexSource": lambda d, impl: DedupIndexSource(
        path="never-written", impl=impl
    ),
}


@pytest.mark.parametrize("impl", ["codegen", "nope"])
@pytest.mark.parametrize("op", sorted(_IMPL_OPERATORS))
def test_unknown_impl_raises(spark, op, impl):
    """An impl outside {arrow, poly} fails when the operator is
    called, before it runs any Spark job."""
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    sc = spark.sparkContext
    group = f"unknown-impl-{op}-{impl}"
    sc.setJobGroup(group, "unknown impl check")
    try:
        with pytest.raises(ValueError, match="unknown impl"):
            _IMPL_OPERATORS[op](docs, impl)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


#: empty, NULL and shorter-than-width documents included
_PIN_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "The Quick brown fox, jumps over the LAZY cat tonight"),
    (4, ""),
    (5, None),
    (6, "two words"),
    (7, "sphinx of black quartz judge my vow sphinx of black quartz judge"),
    (8, "café naïve résumé über straße déjà vu  façade\tcoöperate\nend x"),
]

#: ``sum(xxhash64(struct(*)))`` of each arrow-family output over
#: ``_PIN_DOCS`` (width 3; 16 hashes in 4 bands). The arrow family has
#: no SQL oracle, so these pins are what keeps its values stable: a
#: kernel change that moves any hash fails here
_ARROW_PINS = {
    "shingle_hashes": 3429860451613564835,
    "window_hashes": 2158041548161510945,
    "ws_window_hashes": 4267739935236035692,
    "fingerprint": 1169907439804571082,
    "simhash": 6592965776279740012,
    "band_rows": -3392147527300810879,
}


def test_arrow_family_values_pinned(spark):
    from aligned_spark.functions.text_arrow import ARROW

    docs = spark.createDataFrame(_PIN_DOCS, "doc_id long, text string")
    outputs = {
        name: docs.select("doc_id", fn(F.col("text"), 3).alias("v"))
        for name, fn in [
            ("shingle_hashes", ARROW.shingle_hashes),
            ("window_hashes", ARROW.window_hashes),
            ("ws_window_hashes", ARROW.ws_window_hashes),
            ("fingerprint", ARROW.fingerprint),
            ("simhash", ARROW.simhash),
        ]
    }
    outputs["band_rows"] = dedup._band_rows(
        docs, "doc_id", "text", 16, 4, 3, "arrow"
    )
    got = {
        name: df.selectExpr("sum(xxhash64(struct(*)))").first()[0]
        for name, df in outputs.items()
    }
    assert got == _ARROW_PINS
