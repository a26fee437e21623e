"""Round-5 review fixes + new operators.

Covers the ADVICE r4 items (short-doc NULL-window guard in
remove_duplicate_spans, ASCII-whitespace alignment of the poly span
tokenizer, interval_overlap_join bin_width guard, psi_monitor
empty-reference setup failure, real-vocab WordPiece restrictions) and
the round-5 additions (BERT split mode, dangling-mass PageRank,
hash-threshold distinct sketch).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_remove_spans_short_docs_all_impls_keep(spark):
    """Docs shorter than ``width`` tokens have no windows: two
    IDENTICAL short docs must survive untouched on EVERY impl. The
    arrow path used to emit one NULL-padded window whose
    xxhash64 skipped the NULLs, so identical short docs shared a
    hash and were fully deleted (n_removed=width) while the
    oracle-verified poly path kept them."""
    from aligned_spark.operators.dedup import remove_duplicate_spans

    df = spark.createDataFrame(
        [(0, "tiny dup doc"), (1, "tiny dup doc"), (2, "x y")],
        "doc_id long, text string",
    )
    for impl in ("poly", "arrow"):
        out = {
            r.doc_id: r
            for r in remove_duplicate_spans(
                df, "doc_id", "text", width=8, min_docs=2, impl=impl
            ).collect()
        }
        for i in range(3):
            assert out[i].n_removed == 0, (impl, i)
        assert out[0].clean_text == "tiny dup doc", impl


def test_remove_spans_unicode_ws_poly_matches_arrow(spark):
    """NBSP/U+2028 are NOT separators: Spark ``F.split(r"\\s+")``
    (Java \\s = ASCII) keeps ``a\\u00a0b`` one token, and after the
    fix the poly kernel tokenizes identically (it used to use Python
    ``str.split()`` = all Unicode whitespace, misaligning hash
    positions against token indices and cutting the wrong tokens)."""
    from aligned_spark.operators.dedup import remove_duplicate_spans

    shared = "one two three four five six seven eight"
    nb = "tail\u00a0glued"  # NBSP: ONE ws-token under ASCII \s
    rows = [
        (0, f"{shared} {nb} alpha"),
        (1, f"{shared} {nb} beta"),
        (2, "unrelated filler text that is long enough here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    results = {}
    for impl in ("poly", "arrow"):
        results[impl] = {
            r.doc_id: (r.clean_text, r.n_removed)
            for r in remove_duplicate_spans(
                df, "doc_id", "text", width=8, min_docs=2, impl=impl
            ).collect()
        }
    assert results["poly"] == results["arrow"]
    # the 9 shared ws-tokens (8 words + the NBSP-glued token) form 2
    # windows in both docs -> all 9 removed, the unique tail kept
    assert results["poly"][0] == ("alpha", 9)
    assert results["poly"][1] == ("beta", 9)


def test_interval_overlap_join_rejects_bad_bin_width(spark):
    from aligned_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame([(0.0, 1.0)], "l_lo double, l_hi double")
    right = spark.createDataFrame([(0.5, 2.0)], "r_lo double, r_hi double")
    for bad in (0, -1.5, float("nan")):
        with pytest.raises(ValueError):
            interval_overlap_join(
                left, right, "l_lo", "l_hi", "r_lo", "r_hi", bad
            )


def test_psi_monitor_rejects_empty_reference(spark):
    """Empty reference must fail at SETUP, not crash the running
    stream inside foreachBatch at the first non-empty batch."""
    from aligned_spark.streaming import psi_monitor

    ref = spark.createDataFrame([], "v double")
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    ).selectExpr("CAST(value AS DOUBLE) AS v")
    with pytest.raises(ValueError, match="non-empty reference"):
        psi_monitor(stream, ref, "v", bin_width=1.0)


def test_wordpiece_bert_mode_bills_punctuation(spark):
    from aligned_spark.functions.tokenizer import (
        wordpiece_token_count,
        wordpiece_tokens,
    )

    vocab = ["hello", "world", ",", "!", "##s"]
    df = spark.createDataFrame(
        [(0, "Hello, worlds!")], "doc_id long, text string"
    )
    toks = df.select(
        wordpiece_tokens(
            F.col("text"), vocab, split_mode="bert"
        ).alias("t")
    ).first()[0]
    assert toks == ["hello", ",", "world", "##s", "!"]
    # alnum mode silently drops the punctuation from the budget —
    # the documented restriction
    n_alnum = wordpiece_token_count(
        df, "doc_id", "text", vocab, split_mode="alnum"
    ).first()
    n_bert = wordpiece_token_count(
        df, "doc_id", "text", vocab, split_mode="bert"
    ).first()
    assert n_alnum.n_tokens == 3 and n_bert.n_tokens == 5
    with pytest.raises(ValueError):
        wordpiece_tokens(F.col("text"), vocab, split_mode="bogus")


def test_wordpiece_real_vocab_fixture(spark):
    """The checked-in 1000-piece real-shaped uncased vocab: full
    single-char coverage means no ASCII word can UNK (char fallback
    through greedy matching), punctuation tokenizes as single-char
    pieces, real ## continuations compose, and non-ASCII words UNK."""
    from aligned_spark.functions.tokenizer import (
        load_vocab,
        wordpiece_token_count,
        wordpiece_tokens,
    )

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "aligned_spark", "resources", "vocab_1k.txt",
    )
    vocab = load_vocab(path)
    assert len(vocab) == 1000 and len(set(vocab)) == 1000
    assert "[UNK]" in vocab and "," in vocab and "##ing" in vocab

    df = spark.createDataFrame(
        [
            (0, "The networks, training!"),
            # é: non-ASCII single-char token, not in the vocab -> UNK
            # (the ASCII pre-tokenizer splits non-ASCII letters out of
            # words — "naïve" becomes n ##a [UNK] v ##e, so a bare
            # char pins the UNK path cleanly)
            (1, "é"),
        ],
        "doc_id long, text string",
    )
    toks = {
        r.doc_id: r.t
        for r in df.select(
            "doc_id",
            wordpiece_tokens(
                F.col("text"), vocab, split_mode="bert"
            ).alias("t"),
        ).collect()
    }
    # "networks" = "network" + "##s" (real continuation),
    # "training" = "train" + "##ing"; punctuation billed
    assert toks[0] == [
        "the", "network", "##s", ",", "train", "##ing", "!",
    ]
    assert toks[1] == ["[UNK]"]
    counts = {
        r.doc_id: (r.n_tokens, r.n_unk)
        for r in wordpiece_token_count(
            df, "doc_id", "text", vocab, split_mode="bert"
        ).collect()
    }
    assert counts[0] == (7, 0)  # the network ##s , train ##ing !
    assert counts[1] == (1, 1)


def test_pagerank_dangling_conserves_mass(spark):
    """Star graph a->{b,c,d}: b,c,d are dangling. The standard
    formulation conserves total mass at 1 every iteration (the
    simple variant decays); one iteration has a closed form."""
    from aligned_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d")], "src string, dst string"
    )
    for it in (1, 3):
        ranks = pagerank(
            edges, iterations=it, redistribute_dangling=True
        ).collect()
        assert abs(sum(r.pr for r in ranks) - 1.0) < 1e-9, it
    one = {
        r.node: r.pr
        for r in pagerank(
            edges, iterations=1, redistribute_dangling=True
        ).collect()
    }
    # pr'(a) = 0.15/4 + 0.85 * (0 + 0.75/4)
    assert abs(one["a"] - 0.196875) < 1e-12
    assert abs(one["b"] - (0.0375 + 0.85 * (0.25 / 3 + 0.1875))) < 1e-12
    # simple variant on the same graph loses mass
    simple = pagerank(edges, iterations=1).collect()
    assert sum(r.pr for r in simple) < 1.0 - 1e-6


def test_hash_sampled_distinct(spark):
    from aligned_spark.operators.aggregate import hash_sampled_distinct

    df = spark.createDataFrame(
        [(i % 3, i % 1000) for i in range(20_000)], "g int, uid long"
    )
    out = {
        r.g: r
        for r in hash_sampled_distinct(
            df, ["g"], "uid", log2_inv_p=3
        ).collect()
    }
    for g in range(3):
        # gcd(3,1000)=1 so every group sees all 1000 uids; p=1/8 ->
        # ~125 retained; loose 2x bounds (deterministic, never flakes)
        assert 60 < out[g].n_sampled < 250
        assert 500 < out[g].est_distinct < 2000
    # determinism under repartitioning (pure dataflow, no RNG)
    out2 = {
        r.g: (r.n_sampled, r.est_distinct)
        for r in hash_sampled_distinct(
            df.repartition(17), ["g"], "uid", log2_inv_p=3
        ).collect()
    }
    assert out2 == {
        g: (r.n_sampled, r.est_distinct) for g, r in out.items()
    }
    with pytest.raises(ValueError):
        hash_sampled_distinct(df, ["g"], "uid", log2_inv_p=0)
