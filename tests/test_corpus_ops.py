"""PII redaction, exact-k sampling, and distributed PCA."""

import numpy as np
import pytest

from pyspark.sql import functions as F


def test_redact_corpus_rules(spark):
    from aligned_spark.operators.redact import redact_corpus

    rows = [
        (0, "mail me at bob.smith+x@corp.example.com today"),
        (1, "card 1234 5678 9012 3456 and ssn 123-45-6789"),
        (2, "call 555-867-5309 or visit 10.0.42.7 now"),
        (3, "clean text with numbers 123 456 7890123 intact"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in redact_corpus(df, "text").collect()
    }
    assert out[0].text == "mail me at <EMAIL> today"
    assert out[0].n_email == 1
    assert out[1].text == "card <CREDIT_CARD> and ssn <SSN>"
    assert out[1].n_credit_card == 1 and out[1].n_ssn == 1
    # the card must be eaten whole by the card rule, not split into
    # phone-sized bites; the phone rule then matches nothing
    assert out[1].n_phone == 0
    assert out[2].text == "call <PHONE> or visit <IP> now"
    assert out[2].n_phone == 1 and out[2].n_ipv4 == 1
    # 7-digit runs / spaced triples are NOT PII; text passes through
    assert out[3].text == rows[3][1]
    assert sum(
        out[3][c] for c in out[3].asDict() if c.startswith("n_")
    ) == 0


def test_sample_exact_k_matches_full_rank(spark):
    """The two-phase (prefilter + rescue) plan must equal the naive
    full window rank: k smallest (coord, key) per group."""
    from aligned_spark.operators.sampling import (
        hash_coordinate,
        sample_exact_k,
    )
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(i, f"g{i % 5}") for i in range(2000)] + [(9999, "tiny")],
        "row_id long, grp string",
    )
    got = sample_exact_k(df, "grp", ["row_id"], k=7, seed=3)
    naive = (
        df.withColumn("__c", hash_coordinate(["row_id"], 3))
        .withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("grp").orderBy("__c", "row_id")
            ),
        )
        .filter(F.col("__rn") <= 7)
    )
    assert {(r.grp, r.row_id) for r in got.collect()} == {
        (r.grp, r.row_id) for r in naive.collect()
    }
    # the singleton group keeps its one row (min(k, n) semantics)
    assert [r.row_id for r in got.filter("grp = 'tiny'").collect()] == [9999]


def test_sample_exact_k_rescue_path(spark):
    """With a pathological oversample the prefilter under-delivers
    and the rescue must restore exactness."""
    from aligned_spark.operators.sampling import (
        hash_coordinate,
        sample_exact_k,
    )

    df = spark.createDataFrame(
        [(i, "g") for i in range(5000)], "row_id long, grp string"
    )
    got = sample_exact_k(df, "grp", ["row_id"], k=50, seed=1,
                         oversample=0.2)
    assert got.count() == 50
    # still the k smallest coordinates overall
    coords = (
        df.withColumn("__c", hash_coordinate(["row_id"], 1))
        .orderBy("__c", "row_id")
        .limit(50)
        .collect()
    )
    assert {r.row_id for r in got.collect()} == {r.row_id for r in coords}


@pytest.fixture(scope="module")
def xy():
    rng = np.random.default_rng(11)
    # anisotropic gaussian so the spectrum is distinct
    scales = np.array([5.0, 3.0, 2.0, 1.0, 0.5, 0.3, 0.2, 0.1])
    x = rng.normal(size=(600, 8)) * scales + rng.normal(size=8)
    return x


def test_pca_fit_matches_numpy(spark, xy):
    from aligned_spark.operators.decompose import pca_fit

    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(xy)],
        "vec_id long, v array<double>",
    ).repartition(7)
    m = pca_fit(df, "v", dim=8, k=4)

    cov = np.cov(xy, rowvar=False)
    vals, vecs = np.linalg.eigh(cov)
    top = np.argsort(vals)[::-1][:4]
    assert m.n == 600
    assert np.allclose(m.explained_variance, vals[top], rtol=1e-8)
    assert np.allclose(m.mean, xy.mean(axis=0), rtol=0, atol=1e-9)
    # same subspace: |cos| of each component pair ≈ 1
    for i, j in enumerate(top):
        c = abs(float(m.components[i] @ vecs[:, j]))
        assert c > 1.0 - 1e-9, (i, c)
        # sign convention: largest-|coeff| entry is positive
        assert m.components[i][np.abs(m.components[i]).argmax()] > 0


def test_pca_project_parity(spark, xy):
    from aligned_spark.operators.decompose import pca_fit, pca_project

    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(xy)],
        "vec_id long, v array<double>",
    ).repartition(5)
    m = pca_fit(df, "v", dim=8, k=3)
    got = {
        r.vec_id: np.array(r.pca)
        for r in pca_project(df, m, "v").collect()
    }
    want = (xy - m.mean) @ m.components.T
    for i in range(len(xy)):
        assert np.allclose(got[i], want[i], atol=1e-9)
    # projected variance per axis == explained variance (n-1 norm)
    p = np.stack([got[i] for i in range(len(xy))])
    assert np.allclose(p.var(axis=0, ddof=1), m.explained_variance,
                       rtol=1e-8)


def test_bm25_and_surprise_ranking(spark):
    from aligned_spark.operators.text_rank import (
        bm25_scores,
        unigram_surprise,
    )

    rows = [
        (0, "spark spark spark query"),      # heavy on query terms
        (1, "spark is one word here today"), # one hit, longer doc
        (2, "nothing relevant at all okay"), # no hits
        (3, "rare unique singleton tokens"),  # improbable unigrams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bm = {r.doc_id: r.bm25 for r in
          bm25_scores(docs, "doc_id", "text", ["spark", "query"]).collect()}
    assert set(bm) == {0, 1, 2, 3}
    assert bm[2] == 0.0
    assert bm[0] > bm[1] > 0.0

    su = {r.doc_id: (r.n_tokens, r.avg_neg_logp) for r in
          unigram_surprise(docs, "doc_id", "text").collect()}
    # every token in doc 3 occurs once in the corpus -> max surprise
    assert su[3][1] == max(v[1] for v in su.values())
    # 'spark' appears 4x so doc 0 is the most predictable
    assert su[0][1] == min(v[1] for v in su.values())
    assert su[0][0] == 4


def test_inverted_index_and_zscore(spark):
    from aligned_spark.operators.quality import normalize_scores
    from aligned_spark.operators.text_rank import inverted_index

    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "b c"), (2, "c")],
        "doc_id long, text string",
    )
    idx = {r.token: (r.doc_freq, r.postings)
           for r in inverted_index(docs, "doc_id", "text").collect()}
    assert idx == {"a": (1, [0]), "b": (2, [0, 1]), "c": (2, [1, 2])}

    df = spark.createDataFrame(
        [("s1", 1.0), ("s1", 3.0), ("s2", 7.0)],
        "src string, v double",
    )
    z = {(r.src, r.v): r.z
         for r in normalize_scores(df, ["src"], "v").collect()}
    assert z[("s1", 1.0)] == -1.0 and z[("s1", 3.0)] == 1.0
    assert z[("s2", 7.0)] == 0.0  # degenerate group


def test_sharded_inverted_index_reassembles(spark):
    """Union of a token's shards == the unsharded posting list."""
    from aligned_spark.operators.text_rank import (
        inverted_index,
        inverted_index_sharded,
    )

    rows = [(i, " ".join(f"w{j}" for j in range(i % 7))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    flat = {r.token: r.postings
            for r in inverted_index(docs, "doc_id", "text").collect()}
    sharded = inverted_index_sharded(docs, "doc_id", "text", num_shards=4)
    merged: dict = {}
    for r in sharded.collect():
        merged.setdefault(r.token, []).extend(r.postings)
    assert {t: sorted(p) for t, p in merged.items()} == flat
    # head token w0 (in every non-empty doc) actually spreads
    n_shards_w0 = sharded.filter("token = 'w0'").count()
    assert n_shards_w0 > 1


def test_profile_table(spark):
    from aligned_spark.operators.quality import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "c")], "k long, s string"
    )
    out = {r.column: (r.n_nulls, r.n_distinct, r.min_value, r.max_value)
           for r in profile_table(df).collect()}
    assert out["k"] == (0, 2, "1", "2")
    assert out["s"] == (1, 2, "a", "c")


def test_dedup_index_incremental_ingest(spark, tmp_path):
    """Batch 2 near-dups of batch-1 SURVIVORS are dropped — the index
    grows with each ingest without rewriting history."""
    from aligned_spark.sources.dedup_index import DedupIndexSource

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    variant = base.replace("tonight", "today")  # near-dup of base
    other = ("completely different words about spark shuffles and "
             "partition pruning with adaptive query execution plans")

    dix = DedupIndexSource(path=str(tmp_path / "ix"))
    b1 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    s1 = dix.ingest(b1)
    assert {r.doc_id for r in s1.collect()} == {1, 2}

    b2 = spark.createDataFrame(
        [(3, variant), (4, "entirely novel content nothing shared "
                           "with any earlier document in this index "
                           "about databases and oceans")],
        "doc_id long, text string",
    )
    s2 = dix.ingest(b2)
    assert {r.doc_id for r in s2.collect()} == {4}

    # batch 3: near-dup of a REJECTED doc's original still matches
    # history (1 survives there), novel text keyed off batch-2 survivor
    b3 = spark.createDataFrame(
        [(5, base + " extra"), (6, "entirely novel content nothing "
                                   "shared with any earlier document "
                                   "in this index about databases and "
                                   "oceans")],
        "doc_id long, text string",
    )
    s3 = dix.ingest(b3)
    assert {r.doc_id for r in s3.collect()} == set()


def test_dup_ngram_char_fraction(spark):
    from aligned_spark.operators.quality import dup_ngram_char_fraction

    rep = " ".join(["a b c d e"] * 3)          # every 5-gram repeats
    uniq = "one two three four five six seven"  # all 5-grams unique
    short = "too short"                         # < 5 words -> 0.0
    df = spark.createDataFrame(
        [(0, rep), (1, uniq), (2, short)], "doc_id long, text string"
    )
    out = {r.doc_id: r.dup_ngram_char_frac
           for r in dup_ngram_char_fraction(df, ["doc_id"], "text").collect()}
    assert out[1] == 0.0 and out[2] == 0.0
    # 'a b c d e' sliding 5-grams over 15 words: 11 windows; the
    # repeated ones cover > half the text's characters
    assert out[0] > 0.5


def test_domain_extract_and_filter(spark):
    from aligned_spark.functions.text import extract_domain
    from aligned_spark.operators.quality import filter_by_domain

    rows = [
        (1, "https://www.Example.COM/path?q=1"),
        (2, "http://user:pw@sub.blocked.org:8080/x"),
        (3, "no-scheme.net/page"),
        (4, "not a url at all !!"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    doms = {r.id: r.d for r in df.select(
        "id", extract_domain(F.col("url")).alias("d")).collect()}
    assert doms[1] == "example.com"
    assert doms[2] == "sub.blocked.org"
    assert doms[3] == "no-scheme.net"
    assert doms[5] == ""

    bl = spark.createDataFrame(
        [("sub.blocked.org",), ("example.com",)], "domain string"
    )
    kept = {r.id for r in filter_by_domain(df, "url", bl).collect()}
    assert kept == {3, 4, 5}
    only = {r.id for r in filter_by_domain(df, "url", bl, keep=True).collect()}
    assert only == {1, 2}


def test_domain_filter_suffix_vs_exact(spark):
    """A blocklist entry blocks its subdomains (registrable-domain
    semantics); ``exact=True`` restores strict host equality."""
    from aligned_spark.operators.quality import filter_by_domain

    rows = [
        (1, "https://example.com/a"),
        (2, "https://forum.example.com/b"),
        (3, "https://notexample.com/c"),      # no dot boundary: kept
        (4, "https://deep.sub.example.com/d"),
        (5, "https://example.com.evil.net/e"),  # prefix, not suffix
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    bl = spark.createDataFrame([("example.com",)], "domain string")
    kept = {r.id for r in filter_by_domain(df, "url", bl).collect()}
    assert kept == {3, 5}
    kept_exact = {
        r.id for r in filter_by_domain(df, "url", bl, exact=True).collect()
    }
    assert kept_exact == {2, 3, 4, 5}


def test_normalize_scores_null_values_excluded(spark):
    """NULL values don't inflate __n: moments use the non-null count,
    so z of the non-null rows matches the null-free computation."""
    from aligned_spark.operators.quality import normalize_scores

    df = spark.createDataFrame(
        [("s1", 1.0), ("s1", 3.0), ("s1", None), ("s1", None)],
        "src string, v double",
    )
    z = {r.v: r.z for r in normalize_scores(df, ["src"], "v").collect()}
    assert z[1.0] == -1.0 and z[3.0] == 1.0


def test_correlation_matrix_numpy_parity(spark):
    import numpy as np

    from aligned_spark.operators.decompose import correlation_matrix

    rng = np.random.RandomState(7)
    a = rng.randn(500)
    b = 2.0 * a + rng.randn(500) * 0.1
    c = rng.randn(500)
    df = spark.createDataFrame(
        [(float(x), float(y), float(z)) for x, y, z in zip(a, b, c)],
        "a double, b double, c double",
    )
    got = {(r.col_a, r.col_b): r.corr
           for r in correlation_matrix(df, ["a", "b", "c"]).collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    want = np.corrcoef(np.stack([a, b, c]))
    assert abs(got[("a", "b")] - want[0, 1]) < 1e-9
    assert abs(got[("a", "c")] - want[0, 2]) < 1e-9
    assert abs(got[("b", "c")] - want[1, 2]) < 1e-9
    assert got[("a", "b")] > 0.99

    # single aggregate pass: exactly one pair of HashAggregates
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        correlation_matrix(df, ["a", "b", "c"]).explain("formatted")
    plan = buf.getvalue()
    assert plan.count("HashAggregate") <= 4  # partial+final (x2 in detail)


def test_duplicate_spans_known_structure(spark):
    """Hand-built corpus with an exactly-known shared-span layout.

    width=3 windows; docs 0 and 1 share the 5-token span
    "alpha bravo charlie delta echo" (3 consecutive windows) and,
    separately, the 3-token span "xray yankee zulu" (1 window) —
    doc 2 is all-unique filler and doc 3 is too short to window.
    """
    from aligned_spark.operators.dedup import duplicate_spans

    shared5 = "alpha bravo charlie delta echo"
    shared3 = "xray yankee zulu"
    rows = [
        (0, f"{shared5} golf hotel india {shared3} kilo"),
        (1, f"one two {shared5} three four five {shared3}"),
        (2, "mike november oscar papa quebec romeo sierra tango"),
        (3, "uno dos"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in duplicate_spans(
            df, "doc_id", "text", width=3, impl="poly"
        ).collect()
    }
    # doc 0: 12 tokens -> 10 windows; 3 dup (shared5) + 1 dup (shared3)
    assert out[0].total_windows == 10
    assert out[0].dup_windows == 4
    assert out[0].max_dup_run == 3
    assert out[0].dup_fraction == pytest.approx(0.4)
    # doc 1: 12 tokens -> 10 windows; same two spans, different offsets
    assert out[1].dup_windows == 4
    assert out[1].max_dup_run == 3
    # doc 2: nothing shared
    assert out[2].dup_windows == 0
    assert out[2].max_dup_run == 0
    assert out[2].dup_fraction == 0.0
    # doc 3: shorter than the window -> zero everything, still present
    assert out[3].total_windows == 0
    assert out[3].dup_fraction == 0.0


@pytest.mark.parametrize("impl", ["arrow"])
def test_duplicate_spans_impl_parity(spark, impl):
    """The production hash family (SipHash arrow kernel) must
    produce identical span statistics to the
    oracle-verified poly family — same windows, different hashes,
    collisions astronomically unlikely at this scale."""
    from aligned_spark.operators.dedup import duplicate_spans

    shared = "the quick brown fox jumps over the lazy dog again"
    rows = [
        (0, f"intro words {shared} outro"),
        (1, f"{shared} completely different tail here"),
        (2, "unrelated filler content without any overlap at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def key(rows_):
        return sorted(
            (r.doc_id, r.total_windows, r.dup_windows, r.max_dup_run)
            for r in rows_
        )

    poly = duplicate_spans(df, "doc_id", "text", width=4, impl="poly")
    other = duplicate_spans(df, "doc_id", "text", width=4, impl=impl)
    assert key(other.collect()) == key(poly.collect())


def test_winsorize_known_bounds(spark):
    from aligned_spark.operators.quality import winsorize

    # group "a": values 0..10 -> p25 = 2.5, p75 = 7.5
    rows = [("a", float(v)) for v in range(11)] + [("b", 100.0)]
    df = spark.createDataFrame(rows, "src string, v double")
    out = {
        (r.src, r.v): r.v_winsorized
        for r in winsorize(df, ["src"], "v", 0.25, 0.75).collect()
    }
    assert out[("a", 0.0)] == 2.5
    assert out[("a", 5.0)] == 5.0
    assert out[("a", 10.0)] == 7.5
    # single-value group: lo == hi == the value -> unchanged
    assert out[("b", 100.0)] == 100.0


def test_winsorize_nulls_pass_through(spark):
    from aligned_spark.operators.quality import winsorize

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", None), ("n", None)],
        "src string, v double",
    )
    rows = winsorize(df, ["src"], "v", 0.0, 1.0).collect()
    vals = {(r.src, r.v): r.v_winsorized for r in rows}
    assert vals[("a", None)] is None
    assert vals[("n", None)] is None  # all-NULL group: NULL bounds
    assert vals[("a", 2.0)] == 2.0


def test_cdf_normalize_ties(spark):
    from aligned_spark.operators.quality import cdf_normalize

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 4.0)],
        "src string, v double",
    )
    out = cdf_normalize(df, ["src"], "v").collect()
    by_v = {}
    for r in out:
        by_v.setdefault(r.v, set()).add(r.cdf)
    assert by_v[1.0] == {0.0}
    assert by_v[2.0] == {1.0 / 3.0}  # tied rows share the rank
    assert by_v[4.0] == {1.0}


def test_strip_markup_chain(spark):
    from aligned_spark.operators.redact import strip_markup

    html = (
        "<html><head><script>if (a < b) { alert('x'); }</script>"
        "<style>p { margin: 0 }</style></head>"
        "<body><!-- secret comment --><h1>Title</h1>"
        "<p>Hello &amp; welcome to <b>the</b> page.</p>"
        "<div>Second&nbsp;block &lt;tag&gt; &quot;q&quot; &#39;s&#39;</div>"
        "</body></html>"
    )
    df = spark.createDataFrame([(0, html)], "id long, text string")
    out = df.select(strip_markup(F.col("text")).alias("t")).first().t
    # script/style/comment contents never leak
    assert "alert" not in out and "margin" not in out
    assert "secret" not in out
    # entities decode; inline tags vanish; block tags break lines
    assert "Hello & welcome to the page." in out
    assert 'Second block <tag> "q" \'s\'' in out
    assert "Title" in out
    lines = out.split("\n")
    assert any(line.strip() == "Title" for line in lines)


def test_group_centroids_and_prototypicality(spark):
    from aligned_spark.operators.similarity import (
        group_centroids,
        prototypicality,
    )

    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [0.0, 1.0]),
        (2, 1, [2.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label long, v array<double>")
    cents = {r.label: r.centroid for r in group_centroids(df, "label", "v", 2).collect()}
    assert cents[0] == [0.5, 0.5]
    assert cents[1] == [2.0, 2.0]
    prot = {r.vec_id: r.proto_sim for r in prototypicality(df, "label", "v", 2).collect()}
    # both label-0 vectors are at 45 degrees to the centroid
    import math
    assert abs(prot[0] - math.cos(math.pi / 4)) < 1e-12
    assert abs(prot[1] - math.cos(math.pi / 4)) < 1e-12
    assert abs(prot[2] - 1.0) < 1e-12


def test_readability_counts(spark):
    from aligned_spark.functions.text import readability

    df = spark.createDataFrame(
        [(0, "The cat sat. The dog ran! Did it rain?"), (1, "")],
        "id long, text string",
    )
    out = {r.id: r.r for r in df.select("id", readability(F.col("text")).alias("r")).collect()}
    r0 = out[0]
    assert r0.n_sentences == 3
    assert r0.n_words == 9
    # vowel groups: e,a,a,e,o,a,i,i,ai -> 9
    assert r0.n_syllables == 9
    expected = 206.835 - 1.015 * (9 / 3) - 84.6 * (9 / 9)
    assert abs(r0.flesch - expected) < 1e-9
    r1 = out[1]
    assert r1.n_words == 0 and r1.n_sentences == 0
    assert r1.flesch == 206.835  # guarded denominators


def test_chunk_documents_coverage_and_overlap(spark):
    """Chunks tile the document with the advertised stride: chunk k
    starts at k*step (1-based start col), consecutive chunks share
    exactly `overlap` characters, reassembling the step-prefixes
    restores the document, and empty docs yield no rows."""
    from aligned_spark.operators.sampling import chunk_documents

    text = "abcdefghijklmnopqrstuvwxyz" * 10  # 260 chars
    df = spark.createDataFrame(
        [(0, text), (1, "short"), (2, "")], "doc_id long, text string"
    )
    out = chunk_documents(df, "doc_id", "text", chunk_size=100, overlap=20)
    rows = sorted(
        out.collect(), key=lambda r: (r.doc_id, r.chunk_idx)
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 0: starts at 0,80,160,240 → 4 chunks
    c0 = by_doc[0]
    assert [r.chunk_start for r in c0] == [1, 81, 161, 241]
    assert all(len(r.chunk) == 100 for r in c0[:-1])
    assert len(c0[-1].chunk) == 20  # 260 - 240
    for a, b in zip(c0, c0[1:]):
        assert a.chunk[-20:] == b.chunk[:20]  # the overlap region
    reassembled = "".join(r.chunk[:80] for r in c0[:-1]) + c0[-1].chunk
    assert reassembled == text
    # doc 1 shorter than one chunk → exactly one (short) chunk
    assert len(by_doc[1]) == 1 and by_doc[1][0].chunk == "short"
    # empty doc → no rows
    assert 2 not in by_doc


def test_chunk_documents_validates_args(spark):
    from aligned_spark.operators.sampling import chunk_documents

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_size=0)
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_size=10, overlap=10)


def test_fuzzy_decontaminate_catches_paraphrase(spark):
    """A corpus doc that is a light paraphrase of a benchmark doc
    (most shingles shared → some band must collide) is dropped; an
    unrelated doc survives; keep_contaminated flips the selection."""
    from aligned_spark.operators.dedup import fuzzy_decontaminate

    bench_text = (
        "the quick brown fox jumps over the lazy dog near the old river "
        "bank while the sun sets slowly behind the tall green hills"
    )
    para = bench_text.replace("slowly", "quickly")  # one-word edit
    other = "completely different content about spark query engines " * 3
    corpus = spark.createDataFrame(
        [(0, para), (1, other)], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string"
    )
    clean = fuzzy_decontaminate(
        corpus, bench, "doc_id", "text", "text", num_hashes=32, bands=16
    )
    kept = {r.doc_id for r in clean.collect()}
    assert kept == {1}
    flagged = fuzzy_decontaminate(
        corpus, bench, "doc_id", "text", "text",
        num_hashes=32, bands=16, keep_contaminated=True,
    )
    assert {r.doc_id for r in flagged.collect()} == {0}


def test_mad_outliers_known_values(spark):
    """Hand-checked MAD rule: values [10..14, 100] per one group —
    median 12.5, MAD 1.5 → only 100 exceeds 3·1.4826·MAD."""
    from aligned_spark.operators.quality import mad_outliers

    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 100.0]
    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)],
        "row_id long, grp string, v double",
    )
    out = {r.row_id: r.is_outlier for r in
           mad_outliers(df, ["grp"], "v").collect()}
    assert out == {0: False, 1: False, 2: False, 3: False, 4: False,
                   5: True}


def test_mad_outliers_degenerate_and_null(spark):
    """MAD = 0 (constant group) and NULL values flag nothing."""
    from aligned_spark.operators.quality import mad_outliers

    df = spark.createDataFrame(
        [(0, "c", 5.0), (1, "c", 5.0), (2, "c", 99.0), (3, "c", None)],
        "row_id long, grp string, v double",
    )
    # median 5.0, deviations [0,0,94,null] → MAD 0 → nothing flagged
    out = {r.row_id: r.is_outlier for r in
           mad_outliers(df, ["grp"], "v").collect()}
    assert out == {0: False, 1: False, 2: False, 3: False}


def test_token_entropy_uniform_and_constant(spark):
    """4 distinct tokens → 2 bits; all-same-token → 0; empty doc
    excluded from the output."""
    from aligned_spark.operators.quality import token_entropy

    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "spam spam spam spam"),
         (2, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.token_entropy for r in
           token_entropy(df, ["doc_id"], "text").collect()}
    assert abs(out[0] - 2.0) < 1e-5
    assert out[1] == 0.0
    assert 2 not in out


def test_weighted_reservoir_exact_k_and_bias(spark):
    """Exactly min(k, n) rows per group; across many seeds a row with
    10x the weight is sampled far more often (A-ES property);
    identical seed → identical sample."""
    from aligned_spark.operators.sampling import weighted_reservoir_k

    rows = [(i, "g", 100.0 if i == 0 else 10.0) for i in range(40)]
    rows += [(100 + i, "tiny", 1.0) for i in range(3)]
    df = spark.createDataFrame(rows, "row_id long, grp string, w double")

    out = weighted_reservoir_k(df, "grp", ["row_id"], "w", k=5, seed=1)
    by_grp = {}
    for r in out.collect():
        by_grp.setdefault(r.grp, set()).add(r.row_id)
    assert len(by_grp["g"]) == 5
    assert by_grp["tiny"] == {100, 101, 102}  # n < k -> all rows

    # determinism: same seed twice -> same set
    again = {r.row_id for r in
             weighted_reservoir_k(df, "grp", ["row_id"], "w", k=5,
                                  seed=1).collect() if r.grp == "g"}
    assert again == by_grp["g"]

    # bias: row 0 (10x weight) wins across most seeds
    hits = 0
    for seed in range(30):
        got = {r.row_id for r in
               weighted_reservoir_k(df, "grp", ["row_id"], "w", k=5,
                                    seed=seed).collect()}
        hits += 0 in got
    assert hits >= 20  # P(include) ~ 0.87 analytically; 30 draws


def test_weighted_reservoir_excludes_nonpositive_weights(spark):
    from aligned_spark.operators.sampling import weighted_reservoir_k

    df = spark.createDataFrame(
        [(0, "g", 1.0), (1, "g", 0.0), (2, "g", -3.0), (3, "g", None)],
        "row_id long, grp string, w double",
    )
    out = {r.row_id for r in
           weighted_reservoir_k(df, "grp", ["row_id"], "w", k=10).collect()}
    assert out == {0}


def test_collapse_rare_categories(spark):
    """Values below the threshold fold into the sentinel; frequent
    values and NULLs pass through; out_col leaves the original."""
    from aligned_spark.operators.quality import collapse_rare_categories

    rows = [(i, "common") for i in range(5)] + [
        (10, "rare"), (11, None), (12, "alsorare")
    ]
    df = spark.createDataFrame(rows, "row_id long, cat string")
    out = {r.row_id: r.cat for r in
           collapse_rare_categories(df, "cat", min_count=3).collect()}
    assert all(out[i] == "common" for i in range(5))
    assert out[10] == "OTHER" and out[12] == "OTHER"
    assert out[11] is None
    kept = collapse_rare_categories(
        df, "cat", min_count=3, out_col="cat2"
    )
    r = {x.row_id: x for x in kept.collect()}
    assert r[10].cat == "rare" and r[10].cat2 == "OTHER"


def test_temperature_sample_upweights_small_sources(spark):
    """α<1 flattens the mixture: the small source's share of the
    sample must exceed its share of the corpus; target size is
    approximately met; α validation rejects bad values."""
    import pytest as _pytest

    from aligned_spark.operators.sampling import temperature_sample

    rows = [(i, "big") for i in range(1800)] + [
        (10_000 + i, "small") for i in range(200)
    ]
    df = spark.createDataFrame(rows, "row_id long, src string")
    out = temperature_sample(
        df, "src", ["row_id"], alpha=0.3, target_rows=400, seed=3
    ).collect()
    n = len(out)
    assert 300 <= n <= 500  # hash-Bernoulli ≈ target
    small_share = sum(1 for r in out if r.src == "small") / n
    assert small_share > 0.25  # corpus share is 0.10; α=0.3 lifts it
    with _pytest.raises(ValueError):
        temperature_sample(df, "src", ["row_id"], alpha=0.0,
                           target_rows=10)


def test_population_stability_known_and_identical(spark):
    """Identical distributions → PSI ~0; a clean two-bin shift matches
    the hand formula; empty side raises."""
    import math

    import pytest as _pytest

    from aligned_spark.operators.quality import population_stability

    a = spark.createDataFrame(
        [(float(v),) for v in [1] * 60 + [11] * 40], "v double"
    )
    same = population_stability(a, a, "v", bin_width=10.0).first().psi
    assert abs(same) < 1e-5

    b = spark.createDataFrame(
        [(float(v),) for v in [1] * 30 + [11] * 70], "v double"
    )
    got = population_stability(a, b, "v", bin_width=10.0).first().psi
    expected = (0.3 - 0.6) * math.log(0.3 / 0.6) + (
        0.7 - 0.4
    ) * math.log(0.7 / 0.4)
    assert abs(got - expected) < 1e-4

    empty = spark.createDataFrame([], "v double")
    with _pytest.raises(ValueError):
        population_stability(a, empty, "v", bin_width=10.0)


def test_ks_statistic_known_and_scipy_free(spark):
    """Identical samples → 0; disjoint samples → 1; a hand-computed
    mixed case matches the step-CDF definition."""
    import pytest as _pytest

    from aligned_spark.operators.quality import ks_statistic

    a = spark.createDataFrame([(float(v),) for v in [1, 2, 3, 4]],
                              "v double")
    assert ks_statistic(a, a, "v").first().ks == 0.0

    b = spark.createDataFrame([(float(v),) for v in [10, 11]], "v double")
    assert ks_statistic(a, b, "v").first().ks == 1.0

    # a = {1,2,3,4}, c = {2,4}: F_a(2)=0.5 F_c(2)=0.5; F_a(3)=0.75
    # F_c(3)=0.5 → sup = 0.25
    c = spark.createDataFrame([(2.0,), (4.0,)], "v double")
    assert ks_statistic(a, c, "v").first().ks == 0.25

    empty = spark.createDataFrame([], "v double")
    with _pytest.raises(ValueError):
        ks_statistic(a, empty, "v")


def test_js_divergence_tokens_bounds(spark):
    """Identical corpora → 0; disjoint vocabularies → 1 bit (the JSD
    maximum); a half-overlap case lands strictly between."""
    import pytest as _pytest

    from aligned_spark.operators.quality import js_divergence_tokens

    a = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "doc_id long, text string"
    )
    assert abs(js_divergence_tokens(a, a, "text").first().jsd) < 1e-5

    b = spark.createDataFrame(
        [(1, "epsilon zeta eta theta")], "doc_id long, text string"
    )
    assert abs(js_divergence_tokens(a, b, "text").first().jsd - 1.0) < 1e-4

    c = spark.createDataFrame(
        [(2, "alpha beta epsilon zeta")], "doc_id long, text string"
    )
    mid = js_divergence_tokens(a, c, "text").first().jsd
    assert 0.1 < mid < 0.9

    empty = spark.createDataFrame([(3, "")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        js_divergence_tokens(a, empty, "text")


def test_hashed_classifier_exact_and_bounded(spark):
    """Poly impl matches a hand-computed fold; both impls are pure,
    bounded to [-1, 1], and flag-consistent; empty text scores 0."""
    from aligned_spark.functions.text_poly import word_hashes
    from aligned_spark.operators.quality import (
        _CLF_ADD,
        _CLF_MOD,
        _CLF_MULT,
        _CLF_SCALE,
        hashed_classifier_score,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "spark spark spark"),
        (2, ""),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    B = 1 << 20

    def expected(text):
        hs = word_hashes(text)
        if not hs:
            return 0.0
        s = sum(
            ((h % B) * _CLF_MULT + _CLF_ADD) % _CLF_MOD - _CLF_SCALE
            for h in hs
        )
        return s / (float(_CLF_SCALE) * len(hs))

    for impl in ("poly", "codegen"):
        out = {
            r.doc_id: r
            for r in hashed_classifier_score(
                df, "doc_id", "text", impl=impl
            ).collect()
        }
        assert out[2].logit == 0.0 and out[3].logit == 0.0
        for r in out.values():
            assert -1.0 <= r.logit <= 1.0
            assert r.keep == int(r.logit > 0.0)
    out = {
        r.doc_id: r
        for r in hashed_classifier_score(
            df, "doc_id", "text", impl="poly"
        ).collect()
    }
    for i, (_, text) in enumerate(rows):
        assert out[i].logit == expected(text)

    with pytest.raises(ValueError):
        hashed_classifier_score(df, "doc_id", "text", buckets=1 << 22)


def test_trigram_backoff_all_branches(spark):
    """One scored trigram per backoff branch: seen trigram (p=1),
    bigram backoff (0.4·1), unigram backoff (0.16·c/N), OOV floor
    (0.16/N). Train corpus: 'a b c d' → N=4 tokens."""
    import math

    from aligned_spark.operators.text_rank import (
        trigram_backoff_surprise,
    )

    train = spark.createDataFrame(
        [(100, "a b c d")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [
            (0, "a b c"),    # trigram branch: 1/1
            (1, "x b c"),    # bigram branch: 0.4 * 1/1
            (2, "x y c"),    # unigram branch: 0.16 * 1/4
            (3, "x y z"),    # OOV floor: 0.16 / 4
            (4, "a b"),      # < 3 tokens → absent
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in trigram_backoff_surprise(
            train, score, "doc_id", "text"
        ).collect()
    }
    assert set(out) == {0, 1, 2, 3}

    def r6(x):
        return math.floor(x * 1e6 + 0.5 + 1e-9) / 1e6

    assert out[0].avg_neg_logp3 == r6(r6(-math.log(1.0)))
    assert out[1].avg_neg_logp3 == r6(r6(-math.log(0.4)))
    assert out[2].avg_neg_logp3 == r6(r6(-math.log(0.4 * 0.4 * 1 / 4.0)))
    assert out[3].avg_neg_logp3 == r6(r6(-math.log(0.4 * 0.4 / 4.0)))
    assert all(r.n_trigrams == 1 for r in out.values())


def test_bloom_decontaminate_matches_exact_and_fp_direction(spark):
    """With an uncrowded bitset the Bloom filter equals the exact
    semi-join result; with a tiny bitset it may only over-flag (drop
    clean docs), never under-flag (a contaminated doc always probes
    its own set bits). Also pins the audit flag and the m_bits guard."""
    from aligned_spark.operators.dedup import (
        bloom_decontaminate,
        decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "one two three four five six seven eight nine ten"),
            (2, "totally unrelated words nowhere near the benchmark set"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "one two three four five six seven eight and more")],
        "doc_id long, text string",
    )
    kw = dict(shingle_width=8, impl="poly")
    exact = {
        r.doc_id
        for r in decontaminate(
            corpus, bench, "doc_id", "text", "text", **kw
        ).collect()
    }
    roomy = {
        r.doc_id
        for r in bloom_decontaminate(
            corpus, bench, "doc_id", "text", "text", m_bits=1 << 20, **kw
        ).collect()
    }
    assert exact == {0, 2} and roomy == exact

    # tiny bitset: survivors are a SUBSET of the exact survivors
    # (false positives only over-drop) and doc 1 stays flagged
    tiny = {
        r.doc_id
        for r in bloom_decontaminate(
            corpus, bench, "doc_id", "text", "text", m_bits=32, **kw
        ).collect()
    }
    assert tiny <= exact and 1 not in tiny

    audit = {
        r.doc_id
        for r in bloom_decontaminate(
            corpus, bench, "doc_id", "text", "text",
            m_bits=1 << 20, keep_contaminated=True, **kw
        ).collect()
    }
    assert audit == {1}

    with pytest.raises(ValueError):
        bloom_decontaminate(
            corpus, bench, "doc_id", "text", "text", m_bits=33, **kw
        )


def test_shrunk_means_pull_small_groups_to_global(spark):
    """A 2-row group with extreme mean shrinks almost to the global
    mean; a 1000-row group barely moves; ordering by shrunk mean can
    flip vs raw mean (the point of the statistic)."""
    rows = [("big", 10.0)] * 1000 + [("tiny", 1000.0)] * 2
    df = spark.createDataFrame(rows, "grp string, v double")
    from aligned_spark.operators.quality import shrunk_group_means

    out = {
        r.grp: r
        for r in shrunk_group_means(df, ["grp"], "v", prior_weight=30.0)
        .collect()
    }
    mu = (1000 * 10.0 + 2 * 1000.0) / 1002  # global mean ≈ 11.98
    assert out["big"].raw_mean == 10.0
    assert out["tiny"].raw_mean == 1000.0
    # tiny: (2·1000 + 30·mu)/32 ≈ 73.7 — pulled almost to global
    assert out["tiny"].shrunk_mean < 80.0
    # big: (1000·10 + 30·mu)/1030 ≈ 10.06 — barely moves
    assert abs(out["big"].shrunk_mean - 10.0) < 0.1
    assert out["big"].n == 1000 and out["tiny"].n == 2
    import math

    exp_tiny = (2 * 1000.0 + 30.0 * mu) / (2 + 30.0)
    assert out["tiny"].shrunk_mean == math.floor(
        exp_tiny * 1e6 + 0.5 + 1e-9
    ) / 1e6


def test_audio_window_features_hand_computed(spark):
    """Known byte patterns → known RMS/ZCR: constant 128 bytes give
    silence (rms 0, zcr 0); alternating 0/255 give max energy-ish and
    a crossing per adjacent pair; short docs emit nothing; a custom
    decoder is honored."""
    import math

    import numpy as np

    from aligned_spark.functions.audio import audio_window_features

    silent = bytes([128] * 10)
    alt = bytes([0, 255] * 5)
    short = bytes([1, 2, 3])
    df = spark.createDataFrame(
        [(0, silent), (1, alt), (2, short), (3, None)],
        "doc_id long, blob binary",
    )
    rows = audio_window_features(
        df, "doc_id", "blob", win=4, hop=2
    ).collect()
    by = {}
    for r in rows:
        by.setdefault(r.doc_id, []).append(r)
    # doc 2 (3 bytes < win) and doc 3 (null) emit nothing
    assert set(by) == {0, 1}
    # silent: (10-4)//2+1 = 4 windows, all zero
    assert len(by[0]) == 4
    assert all(r.rms == 0.0 and r.zero_crossings == 0 for r in by[0])
    # alternating: samples -128,127,... → window [-128,127,-128,127]:
    # e = 2·128² + 2·127², 3 sign flips
    e = 2 * 128 * 128 + 2 * 127 * 127
    want = math.sqrt(e / (128 * 128 * 4))
    assert len(by[1]) == 4
    assert all(r.rms == want and r.zero_crossings == 3 for r in by[1])

    # injectable decoder: constant-one samples → rms 1/128·… exact
    ones = audio_window_features(
        df.filter(F.col("doc_id") == 0),
        "doc_id",
        "blob",
        win=4,
        hop=4,
        decoder=lambda b: np.ones(len(b), dtype=np.int64),
    ).collect()
    assert all(r.rms == math.sqrt(4 / (128 * 128 * 4)) for r in ones)
    assert all(r.zero_crossings == 0 for r in ones)

    with pytest.raises(ValueError):
        audio_window_features(df, "doc_id", "blob", win=0)


def test_ewma_matches_pandas_and_truncates(spark):
    """Bit-equal to pandas ewm(alpha, adjust=True) within the
    lookback; the truncation drops exactly the >lookback tail; keys
    don't leak into each other."""
    import pandas as pd

    from aligned_spark.operators.core import ewma_features

    vals = [float(v) for v in [10, 20, 30, 40, 50]]
    rows = [(1, t, v) for t, v in enumerate(vals)] + [(2, 0, 100.0)]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    out = {
        (r.k, r.t): r.ewma
        for r in ewma_features(
            df, ["k"], "t", "v", alpha=0.3, lookback=64
        ).collect()
    }
    expect = pd.Series(vals).ewm(alpha=0.3, adjust=True).mean()
    for t in range(5):
        # pandas evaluates an incremental recurrence (different float
        # association than the explicit fold) → semantic parity to
        # 1e-12; BIT-exactness is pinned against the oracle fold by
        # the events_ewma driver query instead
        assert abs(out[(1, t)] - expect[t]) < 1e-12, (t, out[(1, t)])
    assert out[(2, 0)] == 100.0  # fresh key starts fresh

    # lookback=2: row t uses rows t-2..t only
    out2 = {
        (r.k, r.t): r.ewma
        for r in ewma_features(
            df, ["k"], "t", "v", alpha=0.3, lookback=2
        ).collect()
    }
    w = [0.7 ** 2, 0.7, 1.0]
    expect_t4 = sum(wi * v for wi, v in zip(w, vals[2:])) / sum(w)
    assert abs(out2[(1, 4)] - expect_t4) < 1e-12

    import pytest as _pytest

    with _pytest.raises(ValueError):
        ewma_features(df, ["k"], "t", "v", alpha=1.5)


def test_prefix_jaccard_no_false_negatives(spark):
    """Against brute force on a corpus with planted near-dups: the
    prefix-filtered result equals the exact O(n²) pair set at the
    threshold (completeness is the op's contract), across impls."""
    from itertools import combinations

    from aligned_spark.functions.text_poly import window_hashes
    from aligned_spark.operators.similarity import prefix_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (0, base),
        (1, base + " extra"),                      # near-dup of 0
        (2, base.replace("quick", "slow")),        # near-dup of 0
        (3, "completely different words with no overlap at all here"),
        (4, "completely different words with no overlap at all there"),
        (5, "short text"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def jac(a, b):
        sa = set(window_hashes(a, 3))
        sb = set(window_hashes(b, 3))
        if not sa or not sb:
            return 0.0
        return len(sa & sb) / len(sa | sb)

    t = 0.5
    brute = {
        (i, j)
        for (i, a), (j, b) in combinations(docs, 2)
        if jac(a, b) >= t
    }
    assert brute  # the fixture really contains qualifying pairs
    for impl in ("poly", "arrow"):
        got = {
            (r.doc_id_a, r.doc_id_b)
            for r in prefix_jaccard_pairs(
                df, "doc_id", "text", threshold=t, impl=impl
            ).collect()
        }
        if impl == "poly":
            assert got == brute, (impl, got, brute)
        else:
            # different hash families change tie sets only if two
            # shingles collide — sets must still match here
            assert got == brute, (impl, got, brute)

    with pytest.raises(ValueError):
        prefix_jaccard_pairs(df, "doc_id", "text", threshold=0.0)


def test_triangles_exactly_once_on_known_graphs(spark):
    """K4 has exactly 4 triangles; a star has none; duplicate /
    reversed / self-loop edges don't inflate counts; a skewed hub
    graph (one high-degree node) still enumerates correctly."""
    from aligned_spark.operators.graph import triangles

    def tri_set(edges):
        df = spark.createDataFrame(edges, "a long, b long")
        return {
            (r.node_a, r.node_b, r.node_c)
            for r in triangles(df).collect()
        }

    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    assert tri_set(k4) == {(0, 1, 2), (0, 1, 3), (0, 2, 3), (1, 2, 3)}
    # noise: duplicates, reversals, self-loops — same answer
    noisy = k4 + [(1, 0), (2, 0), (3, 3), (0, 1)]
    assert tri_set(noisy) == tri_set(k4)
    # star graph: no triangles
    star = [(0, i) for i in range(1, 8)]
    assert tri_set(star) == set()
    # hub + one rim edge → exactly the one closed wedge
    hub = star + [(3, 4)]
    assert tri_set(hub) == {(0, 3, 4)}
    # exactly-once: count equals set size even via count()
    df = spark.createDataFrame(noisy, "a long, b long")
    assert triangles(df).count() == 4


def test_retrieval_metrics_hand_computed(spark):
    """Known truth/retrieved lists → known recall@k and MRR,
    including: multi-truth queries, truth missing from retrieval,
    queries with NO retrieved rows (must not drop out), and the
    (score, id) tie-break determining the rank used by MRR."""
    from aligned_spark.operators.similarity import retrieval_metrics

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30)],
        "query_id long, neighbor_id long",
    )
    retrieved = spark.createDataFrame(
        [
            (1, 99, 0.9), (1, 10, 0.8), (1, 11, 0.7),  # hits at rk 2,3
            (2, 21, 0.9), (2, 22, 0.8),                # no hits
            # query 3 retrieved nothing at all
        ],
        "query_id long, neighbor_id long, sim double",
    )
    out = {
        r.query_id: r
        for r in retrieval_metrics(
            truth, retrieved, "query_id", "neighbor_id", "sim", k=5
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1].n_truth == 2 and out[1].n_hits == 2
    assert out[1].recall_at_k == 1.0 and out[1].mrr == 0.5  # first hit rk2
    assert out[2].recall_at_k == 0.0 and out[2].mrr == 0.0
    assert out[3].n_hits == 0 and out[3].mrr == 0.0

    # k truncation: with k=2 only rank-2 survives for query 1
    out2 = {
        r.query_id: r
        for r in retrieval_metrics(
            truth, retrieved, "query_id", "neighbor_id", "sim", k=2
        ).collect()
    }
    assert out2[1].n_hits == 1 and out2[1].recall_at_k == 0.5
    # tie-break: equal scores rank by item id
    tied = spark.createDataFrame(
        [(5, 52, 0.5), (5, 51, 0.5)],
        "query_id long, neighbor_id long, sim double",
    )
    t5 = spark.createDataFrame([(5, 52)], "query_id long, neighbor_id long")
    r5 = retrieval_metrics(
        t5, tied, "query_id", "neighbor_id", "sim", k=5
    ).first()
    assert r5.mrr == 0.5  # 51 outranks 52 on the id tie


def test_wordpiece_known_and_properties(spark):
    """BERT's canonical example tokenizes correctly; reconstruction
    and greediness invariants hold under hypothesis-generated vocab/
    word pairs; the Spark kernel matches the pure function."""
    from hypothesis import given, settings, strategies as st

    from aligned_spark.functions.tokenizer import (
        wordpiece_token_count,
        wordpiece_tokens,
        wordpiece_word,
    )

    vocab = ["un", "##aff", "##able", "runn", "##ing", "run", "the"]
    starts = {p for p in vocab if not p.startswith("##")}
    conts = {p[2:] for p in vocab if p.startswith("##")}

    assert wordpiece_word("unaffable", starts, conts, "[UNK]", 4) == [
        "un", "##aff", "##able",
    ]
    # greedy takes 'runn'+'##ing', not 'run' then dead end
    assert wordpiece_word("running", starts, conts, "[UNK]", 4) == [
        "runn", "##ing",
    ]
    assert wordpiece_word("xyz", starts, conts, "[UNK]", 4) == ["[UNK]"]

    @settings(max_examples=200, deadline=None)
    @given(
        word=st.text(alphabet="ab", min_size=1, max_size=12),
        pieces=st.sets(
            st.text(alphabet="ab", min_size=1, max_size=3),
            min_size=1, max_size=8,
        ),
    )
    def props(word, pieces):
        mp = max(len(p) for p in pieces)
        toks = wordpiece_word(word, pieces, pieces, "[UNK]", mp)
        if toks == ["[UNK]"]:
            return
        # reconstruction
        assert "".join(t.removeprefix("##") for t in toks) == word
        # greediness: each piece is the longest vocab match at its pos
        pos = 0
        for t in toks:
            raw = t.removeprefix("##")
            for longer in range(min(mp, len(word) - pos), len(raw), -1):
                assert word[pos:pos + longer] not in pieces
            pos += len(raw)

    props()

    df = spark.createDataFrame(
        [(0, "The unaffable running"), (1, ""), (2, None)],
        "doc_id long, text string",
    )
    toks = {
        r.doc_id: r.t
        for r in df.select(
            "doc_id", wordpiece_tokens(F.col("text"), vocab).alias("t")
        ).collect()
    }
    assert toks[0] == ["the", "un", "##aff", "##able", "runn", "##ing"]
    assert toks[1] == [] and toks[2] == []

    counts = {
        r.doc_id: (r.n_tokens, r.n_unk)
        for r in wordpiece_token_count(
            df, "doc_id", "text", vocab
        ).collect()
    }
    assert counts[0] == (6, 0) and counts[1] == (0, 0)


def test_review_fixes_metrics_ewma_bloom(spark):
    """Review regressions: duplicate retrieved rows must not corrupt
    retrieval metrics; EWMA over frames containing NULLs yields NULL
    (never silent mis-weighting) and all-null frames don't crash;
    bloom m_bits=0 raises."""
    from aligned_spark.operators.similarity import retrieval_metrics

    truth = spark.createDataFrame(
        [(1, 10)], "query_id long, neighbor_id long"
    )
    dup = spark.createDataFrame(
        [(1, 10, 0.9), (1, 10, 0.8), (1, 11, 0.7)],
        "query_id long, neighbor_id long, sim double",
    )
    r = retrieval_metrics(
        truth, dup, "query_id", "neighbor_id", "sim", k=2
    ).first()
    assert r.n_truth == 1 and r.n_hits == 1
    assert r.recall_at_k == 1.0 and r.mrr == 1.0
    # the duplicate must not burn a top-k slot: with k=2, item 11
    # still ranks (rk 2) — truth on 11 would be a hit
    t11 = spark.createDataFrame(
        [(1, 11)], "query_id long, neighbor_id long"
    )
    r11 = retrieval_metrics(
        t11, dup, "query_id", "neighbor_id", "sim", k=2
    ).first()
    assert r11.n_hits == 1 and r11.mrr == 0.5

    from aligned_spark.operators.core import ewma_features

    df = spark.createDataFrame(
        [(1, 0, 1.0), (1, 1, None), (1, 2, 3.0), (2, 0, None)],
        "k long, t long, v double",
    )
    out = {
        (r.k, r.t): r.ewma
        for r in ewma_features(df, ["k"], "t", "v", lookback=4).collect()
    }
    assert out[(1, 0)] == 1.0          # clean frame
    assert out[(1, 1)] is None         # own value null
    assert out[(1, 2)] is None         # frame contains a null
    assert out[(2, 0)] is None         # all-null frame — no crash

    from aligned_spark.operators.dedup import bloom_decontaminate

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h")], "doc_id long, text string"
    )
    with pytest.raises(ValueError):
        bloom_decontaminate(
            docs, docs, "doc_id", "text", "text", m_bits=0
        )


def test_remove_duplicate_spans_semantics(spark):
    """Planted verbatim span across two docs: exactly the covered
    tokens vanish from both, unique text survives, punctuation and
    case are preserved, and a doc with no duplication round-trips
    (modulo whitespace canonicalization)."""
    from aligned_spark.operators.dedup import remove_duplicate_spans

    shared = "one two three four five six seven eight"  # 8 tokens
    rows = [
        (0, f"Alpha! {shared} beta."),
        (1, f"Gamma {shared} delta?"),
        (2, "totally unique text with punctuation, preserved."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for impl in ("poly", "arrow"):
        out = {
            r.doc_id: r
            for r in remove_duplicate_spans(
                df, "doc_id", "text", width=8, min_docs=2, impl=impl
            ).collect()
        }
        assert out[0].clean_text == "Alpha! beta."
        assert out[1].clean_text == "Gamma delta?"
        assert out[0].n_removed == 8 and out[1].n_removed == 8
        assert out[2].clean_text == rows[2][1]
        assert out[2].n_removed == 0

    # overlapping duplicated windows: a 9-token shared span removes
    # all 9 tokens (two windows, union coverage), not 16
    s9 = shared + " nine"
    df2 = spark.createDataFrame(
        [(0, f"X {s9} Y"), (1, f"Z {s9} W")],
        "doc_id long, text string",
    )
    out2 = {
        r.doc_id: r
        for r in remove_duplicate_spans(
            df2, "doc_id", "text", width=8, min_docs=2, impl="poly"
        ).collect()
    }
    assert out2[0].clean_text == "X Y" and out2[0].n_removed == 9
    with pytest.raises(ValueError):
        remove_duplicate_spans(df, "doc_id", "text", impl="bogus")


def test_feature_cross_properties(spark):
    """Order sensitivity, null-vs-'0' separation, bucket range,
    determinism across partitionings, and the buckets guard."""
    from aligned_spark.operators.core import feature_cross

    df = spark.createDataFrame(
        [(0, "a", "b"), (1, "b", "a"), (2, None, "b"), (3, "0", "b"),
         (4, "a", "b")],
        "i long, x string, y string",
    )
    out = {
        r.i: r.cross_bucket
        for r in feature_cross(df, ["x", "y"], 1 << 20).collect()
    }
    assert out[0] == out[4]            # deterministic
    assert out[0] != out[1]            # order-sensitive
    assert out[2] != out[3]            # NULL ≠ '0'
    assert all(0 <= v < (1 << 20) for v in out.values())
    rep = {
        r.i: r.cross_bucket
        for r in feature_cross(
            df.repartition(7), ["x", "y"], 1 << 20
        ).collect()
    }
    assert rep == out                  # partition-layout independent

    with pytest.raises(ValueError):
        feature_cross(df, ["x"], 0)
