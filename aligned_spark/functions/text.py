"""Text-analysis column functions for training-data pipelines.

Everything here is built from ``pyspark.sql.functions`` primitives —
regex, split, higher-order array functions — so the hot path stays in
whole-stage codegen. These back the corpus operators in
``aligned_spark.operators.dedup`` and
``aligned_spark.operators.similarity``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker lists for the n-gram heuristic.
# Deliberately short: language ID here is a cheap codegen-side
# heuristic, not a model (fasttext & co. are not in this container).
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"],
    "fr": ["le", "la", "les", "et", "est", "que", "des", "une", "dans", "pour"],
    "es": ["el", "la", "los", "que", "de", "es", "en", "un", "una", "por"],
    "it": ["il", "la", "che", "di", "e", "un", "una", "per", "non", "sono"],
    "pt": ["o", "a", "os", "que", "de", "um", "uma", "para", "com", "não"],
    "nl": ["de", "het", "een", "van", "en", "is", "dat", "niet", "met", "zijn"],
}

_EN_STOPWORDS = _LANG_MARKERS["en"] + ["a", "an", "be", "are", "this", "with", "as", "on"]

# BPE-ish token regex: word pieces, numbers, or single non-space symbols —
# approximates a GPT-2-style pre-tokenizer split.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def _words(text: Column) -> Column:
    return F.filter(
        F.split(F.lower(F.coalesce(text, F.lit(""))), r"[^a-zA-ZÀ-ÿ]+"),
        lambda w: F.length(w) > 0,
    )


def language_id(text: Column) -> Column:
    """Heuristic language ID: score = count of language-marker words.

    Returns the best-scoring language code, or 'und' when no marker
    hits. Pure array ops — no UDF, no shuffle.
    """
    words = _words(text)
    scored = []
    for lang, markers in _LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(words, lambda w: F.array_contains(marker_arr, w)))
        scored.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scored))
    return F.when(best.getField("score") > 0, best.getField("lang")).otherwise(
        F.lit("und")
    )


def whitespace_token_count(text: Column) -> Column:
    """Token count by whitespace split."""
    return F.size(
        F.filter(
            F.split(F.coalesce(text, F.lit("")), r"\s+"),
            lambda w: F.length(w) > 0,
        )
    )


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens (Java ``\\s``), case and punctuation kept —
    the words a span-removal pass cuts and reassembles."""
    return F.filter(
        F.split(F.coalesce(text, F.lit("")), r"\s+"),
        lambda w: w != F.lit(""),
    )


def token_count(text: Column) -> Column:
    """BPE-ish token count via a GPT-2-style pre-tokenizer regex."""
    return F.size(
        F.filter(
            # idx=0 → whole-match group; TOKEN_REGEX has no capture group
            F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(TOKEN_REGEX), 0),
            lambda t: F.length(t) > 0,
        )
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] document-quality heuristic.

    Blends: mean-word-length sanity, alpha ratio, punctuation ratio,
    stopword ratio — the C4/Gopher-style cheap filters a training-data
    pipeline applies before expensive model scoring.
    """
    t = F.coalesce(text, F.lit(""))
    n_chars = F.greatest(F.length(t), F.lit(1)).cast("double")
    words = _words(t)
    n_words = F.greatest(F.size(words), F.lit(1)).cast("double")

    alpha_chars = F.length(F.regexp_replace(t, r"[^A-Za-zÀ-ÿ]", ""))
    alpha_ratio = alpha_chars / n_chars

    punct_chars = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()]", ""))
    punct_ratio = punct_chars / n_chars
    punct_component = F.lit(1.0) - F.least(punct_ratio * 5.0, F.lit(1.0))

    mean_word_len = F.aggregate(
        words, F.lit(0.0), lambda acc, w: acc + F.length(w)
    ) / n_words
    # plausible natural-language mean word length: 3..10
    word_len_component = F.when(
        (mean_word_len >= 3.0) & (mean_word_len <= 10.0), F.lit(1.0)
    ).otherwise(F.lit(0.0))

    stop_arr = F.array(*[F.lit(s) for s in _EN_STOPWORDS])
    stop_ratio = (
        F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))) / n_words
    )
    stop_component = F.least(stop_ratio * 4.0, F.lit(1.0))

    return (
        alpha_ratio * 0.3
        + punct_component * 0.2
        + word_len_component * 0.3
        + stop_component * 0.2
    )


def line_dup_ratio(text: Column) -> Column:
    """Fraction of non-empty lines that are duplicates of an earlier
    line — the Gopher-style "repetition removal" signal (boilerplate,
    scraped nav bars, degenerate generations). 0.0 for docs with no
    non-empty lines. Pure codegen: split + distinct-count, exact
    integer arithmetic, so the value is engine-independent."""
    lines = F.filter(
        F.split(F.coalesce(text, F.lit("")), "\n"),
        lambda l: F.length(l) > 0,
    )
    n = F.size(lines)
    d = F.size(F.array_distinct(lines))
    return F.when(
        n > 0, (n - d).cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Array of lowercase character n-grams (for Jaccard / MinHash).

    PERF: the per-position ``substr`` re-evaluates the lowered text
    per element (measured ~93 ms core/doc at 340 chars) — fine for
    expression-level use on small frames; corpus-scale paths should
    use :func:`aligned_spark.functions.text_arrow.ngram_jaccard_arrow`
    (bit-identical Jaccard values)."""
    lowered = F.lower(F.coalesce(text, F.lit("")))
    length = F.length(lowered)
    idx = F.sequence(F.lit(1), F.greatest(length - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: lowered.substr(i, F.lit(n))))


def _sliding_zip(arr: Column, width: int) -> Column:
    """Length-``width`` sliding windows over ``arr`` as an array of
    structs (fields "0".."width-1").

    PERF CONTRACT: never index a closure expression inside a HOF
    lambda (``transform(starts, i -> f(arr[i]))``) — Spark re-evaluates
    the captured expression PER ELEMENT, turning an O(n) scan into
    O(n²) per row. ``arrays_zip`` of shifted slices evaluates ``arr``
    only ``width`` times."""
    n = F.size(arr)
    shifted = [F.slice(arr, k + 1, F.greatest(n, F.lit(1))) for k in range(width)]
    zipped = F.arrays_zip(*shifted)
    return F.slice(zipped, 1, F.greatest(n - (width - 1), F.lit(1)))


def extract_domain(url: Column) -> Column:
    """Registrable host of a URL, lowercased: scheme/userinfo/port/
    path stripped, a leading ``www.`` removed. Pure
    ``regexp_extract`` — codegen, no UDF. Returns '' for strings with
    no recognizable host."""
    host = F.regexp_extract(
        F.lower(F.coalesce(url, F.lit(""))),
        r"^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@\s]+@)?([a-z0-9.-]+)",
        1,
    )
    return F.regexp_replace(host, r"^www\.", "")


def readability(text: Column) -> Column:
    """Flesch reading-ease heuristic as a codegen struct —
    ``(n_sentences, n_words, n_syllables, flesch)``.

    Sentences are ``[.!?]+`` runs, words are the module's token runs,
    syllables are approximated as ASCII vowel-group runs (the
    standard cheap estimator; accented vowels are deliberately not
    counted — a heuristic, stated so the oracle can mirror it).
    ``flesch = 206.835 - 1.015·(words/sentences) -
    84.6·(syllables/words)`` with denominators floored at 1. Pure
    ``regexp_count`` — scan-speed, engine-portable pattern subset."""
    low = F.lower(F.coalesce(text, F.lit("")))
    n_sent = F.regexp_count(low, F.lit("[.!?]+")).cast("long")
    n_words = F.regexp_count(low, F.lit("[a-zà-ÿ]+")).cast("long")
    n_syll = F.regexp_count(low, F.lit("[aeiouy]+")).cast("long")
    sent_d = F.greatest(n_sent, F.lit(1)).cast("double")
    word_d = F.greatest(n_words, F.lit(1)).cast("double")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / sent_d)
        - F.lit(84.6) * (n_syll.cast("double") / word_d)
    )
    return F.struct(
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
        flesch.alias("flesch"),
    )
