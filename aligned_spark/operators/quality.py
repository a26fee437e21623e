"""Corpus-quality signals that need aggregation (not just a column
expression).

Complements the per-document column functions in
:mod:`aligned_spark.functions.text` (quality_score, line_dup_ratio,
language_id): the operators here explode to sub-document granularity
and aggregate back, so they are DataFrame→DataFrame.

Reference capability surface: the aligned reference has no corpus-QC
operators; these extend the engine for LLM training-data pipelines
(BASELINE north-star), following the Gopher (Rae et al. 2021)
repetition-removal rules.

Scale design (100 TB): explode→count→ratio is two shuffles keyed on
(doc, gram) then (doc) — both embarrassingly parallel, partial
(map-side) aggregation applies to each, and no per-doc state ever
exceeds the doc's own n-gram count. No UDFs, no windows, no global
sorts.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from aligned_spark.functions.text import _sliding_zip, _words


def histogram(
    df: DataFrame,
    value_col: str,
    bin_width: float,
    keys: list[str] | None = None,
) -> DataFrame:
    """Fixed-width histogram of ``value_col`` (optionally per ``keys``
    group): rows ``(keys..., bin_lo, bin_count)`` where ``bin_lo`` is
    the inclusive lower edge of the bin containing the value. Nulls
    are excluded.

    The profiling primitive for corpus/dataset QC (token-length
    distributions, score distributions) as one floor-division +
    group-by: map-side partial aggregation means each executor ships
    at most (#groups × #occupied-bins) rows to the shuffle, regardless
    of input size."""
    keys = keys or []
    b = F.lit(float(bin_width))
    bin_lo = (F.floor(F.col(value_col) / b) * b).alias("bin_lo")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, bin_lo)
        .agg(F.count(F.lit(1)).alias("bin_count"))
    )


def population_stability(
    reference: DataFrame,
    current: DataFrame,
    value_col: str,
    bin_width: float,
    floor: float = 1e-6,
    out_col: str = "psi",
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column: ``Σ (p_b − q_b)·ln(p_b/q_b)`` over fixed-width bins (q =
    reference share, p = current share) — the standard drift alarm
    for feature/score distributions (rule of thumb: <0.1 stable,
    >0.25 shifted). The statistical sibling of the schema-drift check
    in ``checks.py``. Returns one row ``(psi)``.

    Bins present on only one side take the ``floor`` share (the
    conventional clip — PSI is infinite at a true zero). Shape: two
    histogram aggregations (map-side partials to #occupied-bins
    rows), a full-outer join on the bin, and an exact sum of
    epsilon-rounded terms — deterministic and SQL-replayable; no full
    shuffles of either snapshot."""
    ha = histogram(reference, value_col, bin_width).select(
        F.col("bin_lo"), F.col("bin_count").alias("__qn")
    )
    qt = reference.filter(F.col(value_col).isNotNull()).count()
    return psi_from_reference_histogram(
        ha, qt, current, value_col, bin_width, floor, out_col
    )


def psi_from_reference_histogram(
    ref_hist: DataFrame,
    ref_total: int,
    current: DataFrame,
    value_col: str,
    bin_width: float,
    floor: float = 1e-6,
    out_col: str = "psi",
) -> DataFrame:
    """:func:`population_stability` against a PRE-AGGREGATED reference
    — ``ref_hist`` is the reference's ``(bin_lo, __qn)`` histogram and
    ``ref_total`` its non-null count, both computed ONCE by the caller
    (the streaming monitor's per-batch path: the reference data is
    never rescanned)."""
    hb = histogram(current, value_col, bin_width).select(
        F.col("bin_lo"), F.col("bin_count").alias("__pn")
    )
    qt = ref_total
    pt = current.filter(F.col(value_col).isNotNull()).count()
    if not qt or not pt:
        raise ValueError("population_stability needs non-empty sides")
    j = ref_hist.join(hb, on="bin_lo", how="full_outer")
    q = F.greatest(
        F.coalesce(F.col("__qn"), F.lit(0)).cast("double") / F.lit(float(qt)),
        F.lit(float(floor)),
    )
    p = F.greatest(
        F.coalesce(F.col("__pn"), F.lit(0)).cast("double") / F.lit(float(pt)),
        F.lit(float(floor)),
    )
    term = (p - q) * F.log(p / q)
    term_r6 = (
        F.floor(term * F.lit(1e6) + F.lit(0.5) + F.lit(1e-9)).cast("double")
        / F.lit(1e6)
    )
    return j.agg(
        (
            F.sum(F.floor(term_r6 * F.lit(1e6) + F.lit(0.5)).cast("long"))
            .cast("double")
            / F.lit(1e6)
        ).alias(out_col)
    )


def ks_statistic(
    reference: DataFrame,
    current: DataFrame,
    value_col: str,
    out_col: str = "ks",
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic:
    ``sup_x |F_ref(x) − F_cur(x)|`` — the bin-free companion to
    :func:`population_stability` (PSI needs a bin width; KS compares
    the full empirical CDFs and is attained at a data point, so no
    tuning). Returns one row ``(ks)``.

    Shape: one combined value census (map-side-partial counts per
    distinct value with per-side tallies), cumulative sums over the
    census — a window over #distinct values, not rows, same contract
    as the counting-percentile census — and a max-abs-diff aggregate.
    NULLs excluded; either side empty raises."""
    qv = reference.select(F.col(value_col).alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    pv = current.select(F.col(value_col).alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    u = qv.withColumn("__q", F.lit(1)).withColumn("__p", F.lit(0)).unionByName(
        pv.withColumn("__q", F.lit(0)).withColumn("__p", F.lit(1))
    )
    census = u.groupBy("__v").agg(
        F.sum("__q").alias("__qn"), F.sum("__p").alias("__pn")
    )
    tot = census.agg(
        F.sum("__qn").alias("qt"), F.sum("__pn").alias("pt")
    ).first()
    qt, pt = tot["qt"], tot["pt"]
    if not qt or not pt:
        raise ValueError("ks_statistic needs non-empty sides")
    w = W.orderBy("__v").rowsBetween(W.unboundedPreceding, W.currentRow)
    fa = F.sum("__qn").over(w).cast("double") / F.lit(float(qt))
    fb = F.sum("__pn").over(w).cast("double") / F.lit(float(pt))
    return census.select(F.abs(fa - fb).alias("__d")).agg(
        F.max("__d").alias(out_col)
    )


def js_divergence_tokens(
    a: DataFrame,
    b: DataFrame,
    text_col: str,
    out_col: str = "jsd",
) -> DataFrame:
    """Jensen–Shannon divergence (bits) between the word-unigram
    distributions of two document sets — the text-domain member of the
    drift family (:func:`population_stability` / :func:`ks_statistic`
    cover numeric columns): symmetric, bounded [0, 1], defined even
    when vocabularies don't overlap (where KL is infinite). The
    standard corpus-shift measure between slices/snapshots of a
    training mixture.

    Shape: one token census per side (map-side partials keyed by
    token), a full-outer join on the token, per-token contributions
    ``½·p·log2(p/m) + ½·q·log2(q/m)`` (``m = (p+q)/2``; absent side
    contributes 0) epsilon-rounded and summed exactly. No state
    beyond the vocabulary census."""
    def census(df, n):
        return (
            df.select(F.explode(_words(F.col(text_col))).alias("__w"))
            .groupBy("__w")
            .agg(F.count(F.lit(1)).alias(n))
        )

    ca = census(a, "__an")
    cb = census(b, "__bn")
    ta = ca.agg(F.sum("__an")).first()[0]
    tb = cb.agg(F.sum("__bn")).first()[0]
    if not ta or not tb:
        raise ValueError("js_divergence_tokens needs tokens on both sides")
    j = ca.join(cb, on="__w", how="full_outer")
    p = F.coalesce(F.col("__an"), F.lit(0)).cast("double") / F.lit(float(ta))
    q = F.coalesce(F.col("__bn"), F.lit(0)).cast("double") / F.lit(float(tb))
    m = (p + q) / F.lit(2.0)
    term = (
        F.when(p > 0, p * F.log2(p / m) / F.lit(2.0)).otherwise(F.lit(0.0))
        + F.when(q > 0, q * F.log2(q / m) / F.lit(2.0)).otherwise(F.lit(0.0))
    )
    term_r6 = (
        F.floor(term * F.lit(1e6) + F.lit(0.5) + F.lit(1e-9)).cast("double")
        / F.lit(1e6)
    )
    return j.agg(
        (
            F.sum(F.floor(term_r6 * F.lit(1e6) + F.lit(0.5)).cast("long"))
            .cast("double")
            / F.lit(1e6)
        ).alias(out_col)
    )


def top_ngram_fraction(
    df: DataFrame,
    id_cols: list[str],
    text_col: str,
    n: int = 2,
) -> DataFrame:
    """Gopher repetition rule: per document, the fraction of all word
    ``n``-gram occurrences taken by the single most frequent one
    (Rae et al. 2021 drop docs with top-2-gram fraction > 0.2).

    Documents with fewer than ``n`` words have no ``n``-grams and are
    excluded from the output (no signal ≠ signal 0). Counts are NOT
    distinct-ed: repetition is exactly what we're measuring, so the
    distinct shingle hashes of the dedup hash families do not apply
    here."""
    words = _words(F.col(text_col))
    windows = _sliding_zip(words, n)
    grams = F.transform(
        windows,
        lambda s: F.concat_ws(" ", *[s.getField(str(k)) for k in range(n)]),
    )
    ex = df.filter(F.size(words) >= n).select(
        *id_cols, F.explode(grams).alias("__g")
    )
    cnt = ex.groupBy(*id_cols, "__g").agg(F.count(F.lit(1)).alias("__c"))
    return cnt.groupBy(*id_cols).agg(
        (F.max("__c").cast("double") / F.sum("__c")).alias("top_ngram_frac")
    )


def dup_ngram_char_fraction(
    df: DataFrame,
    id_cols: list[str],
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Gopher's second repetition family (Rae et al. 2021 drop docs
    where characters in duplicated 5..10-grams exceed 10-15%): the
    fraction of the document's characters covered by word ``n``-grams
    that occur more than once.

    Uses the common sum-based approximation (Dolma/RedPajama style):
    ``sum(len(gram) · count  for grams with count > 1) / len(text)``
    — overlapping occurrences are not de-overlapped (the exact rule
    needs a sequential per-doc sweep; the sum form is the one
    production pipelines ship and is SQL-replayable). Documents with
    fewer than ``n`` words report 0.0.
    """
    words = _words(F.col(text_col))
    windows = _sliding_zip(words, n)
    grams = F.transform(
        windows,
        lambda s: F.concat_ws(" ", *[s.getField(str(k)) for k in range(n)]),
    )
    ex = df.select(
        *id_cols,
        F.length(F.col(text_col)).alias("__len"),
        F.explode_outer(grams).alias("__g"),
    )
    cnt = ex.groupBy(*id_cols, "__len", "__g").agg(
        F.count(F.lit(1)).alias("__c")
    )
    dup_chars = F.sum(
        F.when(
            (F.col("__c") > 1) & F.col("__g").isNotNull(),
            F.length("__g") * F.col("__c"),
        ).otherwise(F.lit(0))
    )
    agged = cnt.groupBy(*id_cols, "__len").agg(
        dup_chars.alias("__d")
    )
    return agged.select(
        *id_cols,
        F.when(F.col("__len") > 0,
               F.col("__d").cast("double") / F.col("__len"))
        .otherwise(F.lit(0.0))
        .alias("dup_ngram_char_frac"),
    )


def normalize_scores(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    out_col: str = "z",
) -> DataFrame:
    """Per-group z-score normalization of a numeric column (population
    moments): ``z = (v - mean) / stddev``, 0.0 in degenerate groups
    (single value / zero variance).

    The normalization every mixture pipeline needs before comparing
    quality/reward scores ACROSS sources whose scorers have different
    scales. One map-side-combinable aggregate to one row per group,
    broadcast back — no window over the data, no global sort.

    Moments accumulate in DECIMAL (exact, order-independent) and the
    final arithmetic is fixed-order IEEE, so results are reproducible
    across partitionings and engines; ``sqrt`` is correctly rounded
    per IEEE-754 and therefore deterministic too.
    """
    v = F.col(value_col).cast("double")
    # __n counts non-null values (F.count(v), not count(*)) so the moments
    # match the null-skipping sums; null-key rows are excluded from both
    # the stats and the output (documented: the inner join drops them).
    stats = df.groupBy(*keys).agg(
        F.count(v).alias("__n"),
        F.sum(v.cast("decimal(27,6)")).cast("double").alias("__s"),
        F.sum((v * v).cast("decimal(27,6)")).cast("double").alias("__s2"),
    )
    mean = F.col("__s") / F.col("__n")
    var = F.col("__s2") / F.col("__n") - mean * mean
    stats = stats.withColumn("__mean", mean).withColumn(
        "__std", F.sqrt(F.when(var > 0.0, var).otherwise(F.lit(0.0)))
    )
    out = df.join(F.broadcast(stats), keys)
    z = F.when(
        F.col("__std") > 0.0, (v - F.col("__mean")) / F.col("__std")
    ).otherwise(F.lit(0.0))
    r6 = (
        F.floor(z * F.lit(1e6) + F.lit(0.5) + F.lit(1e-9)).cast("double")
        / F.lit(1e6)
    )
    return out.withColumn(out_col, r6).drop(
        "__n", "__s", "__s2", "__mean", "__std"
    )


def winsorize(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    lower: float = 0.05,
    upper: float = 0.95,
    out_col: str | None = None,
    approx: bool = False,
) -> DataFrame:
    """Per-group percentile clipping (winsorization) of a numeric
    column — the outlier guard quality-score pipelines apply before
    mixing or thresholding.

    Same shape as :func:`normalize_scores`: one aggregate to one row
    per group, broadcast back, clip codegen-side. Exact
    ``percentile`` buffers each group's values in the aggregation
    state — fine for low-cardinality grouping keys (sources,
    languages); at extreme group sizes pass ``approx=True`` for the
    t-digest sketch (``percentile_approx``, bounded state, rank
    error ~1e-4) — same plan, different aggregate.

    NULL values are ignored by the percentile and pass through
    unclipped; groups whose every value is NULL get NULL bounds and
    also pass through."""
    v = F.col(value_col).cast("double")
    if approx:
        lo_agg = F.percentile_approx(v, lower, 10000)
        hi_agg = F.percentile_approx(v, upper, 10000)
    else:
        lo_agg = F.percentile(v, F.lit(lower))
        hi_agg = F.percentile(v, F.lit(upper))
    bounds = df.groupBy(*keys).agg(
        lo_agg.alias("__lo"), hi_agg.alias("__hi")
    )
    out = df.join(F.broadcast(bounds), keys)
    clipped = F.when(
        v.isNull() | F.col("__lo").isNull(), v
    ).otherwise(F.least(F.greatest(v, F.col("__lo")), F.col("__hi")))
    return out.withColumn(
        out_col or f"{value_col}_winsorized", clipped
    ).drop("__lo", "__hi")


def mad_outliers(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k: float = 3.0,
    scale: float = 1.4826,
    flag_col: str = "is_outlier",
) -> DataFrame:
    """Robust per-group outlier flagging via median absolute deviation:
    ``|v − median| > k · scale · MAD`` (scale 1.4826 makes MAD a
    consistent σ estimator under normality). The mean/stddev z-score
    (:func:`normalize_scores`) is itself dragged by the outliers it is
    supposed to find; MAD has a 50% breakdown point, which is why
    corpus QC (doc-length, score distributions) thresholds on it.

    Shape: two exact-``percentile`` aggregations to one row per group
    (median, then MAD of the broadcast-joined deviations), broadcast
    back, flag codegen-side. Same scale contract as :func:`winsorize`:
    exact percentile buffers each group's values — grouping keys are
    low-cardinality categories. Degenerate groups (MAD = 0) and NULL
    values flag nothing."""
    v = F.col(value_col).cast("double")
    med = df.groupBy(*keys).agg(
        F.percentile(v, F.lit(0.5)).alias("__med")
    )
    j = df.join(F.broadcast(med), keys)
    dev = F.abs(v - F.col("__med"))
    mad = (
        j.select(*keys, dev.alias("__dev"))
        .groupBy(*keys)
        .agg(F.percentile(F.col("__dev"), F.lit(0.5)).alias("__mad"))
    )
    out = j.join(F.broadcast(mad), keys)
    flag = F.when(
        v.isNull() | (F.col("__mad") <= 0.0), F.lit(False)
    ).otherwise(dev > F.lit(float(k)) * F.lit(float(scale)) * F.col("__mad"))
    return out.withColumn(flag_col, flag).drop("__med", "__mad")


def token_entropy(
    df: DataFrame,
    id_cols: list[str],
    text_col: str,
    out_col: str = "token_entropy",
) -> DataFrame:
    """Per-document Shannon entropy of the word-unigram distribution
    (bits): ``−Σ p·log2(p)`` over token frequencies — the classic
    gibberish/boilerplate signal (repetitive spam scores near 0,
    natural prose 6–9 bits; used alongside the Gopher repetition
    rules). Documents with no tokens are excluded (no signal ≠ 0).

    Computed as ``log2(n) − (Σ c·log2(c)) / n`` — algebraically equal
    to the definition but needing only TWO chained aggregations keyed
    (doc, token) then (doc), with no totals join and no second pass
    over the tokenize branch. Determinism: float summation order is
    partition-dependent, so each ``c·log2(c)`` term is
    epsilon-floor-rounded to 6 decimals FIRST and the rounded terms
    are summed in DECIMAL (exact, order-independent); the SQL oracle
    replays the identical formula. No windows, no UDFs; aggregation
    state is bounded by each doc's vocabulary."""
    words = _words(F.col(text_col))
    ex = df.select(*id_cols, F.explode(words).alias("__w"))
    cnt = ex.groupBy(*id_cols, "__w").agg(F.count(F.lit(1)).alias("__c"))
    c = F.col("__c").cast("double")
    term = c * F.log2(c)
    term_r6 = (
        F.floor(term * F.lit(1e6) + F.lit(0.5) + F.lit(1e-9)).cast("double")
        / F.lit(1e6)
    )
    agg = cnt.groupBy(*id_cols).agg(
        F.sum("__c").alias("__n"),
        (
            F.sum(F.floor(term_r6 * F.lit(1e6) + F.lit(0.5)).cast("long"))
            .cast("double")
            / F.lit(1e6)
        ).alias("__s"),
    )
    n = F.col("__n").cast("double")
    ent = F.log2(n) - F.col("__s") / n
    ent_r6 = (
        F.floor(ent * F.lit(1e6) + F.lit(0.5) + F.lit(1e-9)).cast("double")
        / F.lit(1e6)
    )
    return agg.select(
        *id_cols, F.greatest(F.lit(0.0), ent_r6).alias(out_col)
    )


def quantile_bins(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n_bins: int,
    tie_cols: list[str] | None = None,
    out_col: str = "bin",
) -> DataFrame:
    """Per-group equal-count discretization: ``ntile(n_bins)`` over the
    value order — the feature-engineering binning primitive (decile
    features, stratification buckets for sampling/negatives). Pass
    ``tie_cols`` (a unique key) so equal values bin deterministically;
    SQL ntile semantics (earlier buckets absorb the remainder) match
    every engine. Parallelism = #groups — key on low-cardinality
    categories, same contract as :func:`cdf_normalize`."""
    order = [F.col(value_col).asc()] + [
        F.col(c).asc() for c in (tie_cols or [])
    ]
    w = W.partitionBy(*keys).orderBy(*order)
    return df.withColumn(out_col, F.ntile(n_bins).over(w))


def collapse_rare_categories(
    df: DataFrame,
    col: str,
    min_count: int,
    other: str = "OTHER",
    out_col: str | None = None,
) -> DataFrame:
    """Replace category values occurring fewer than ``min_count``
    times with a sentinel — the long-tail guard before one-hot /
    ordinal encoding (a raw domain column one-hot-encodes into
    millions of columns; collapsed, the tail becomes one). NULL stays
    NULL (missing ≠ rare).

    Shape: one map-side-partial count to (#distinct values) rows,
    broadcast the KEEP set (frequent values only — the broadcast is
    bounded by the head of the distribution, not the tail), and a
    left-semi-style membership flag codegen-side. At 100 TB the keep
    set for any encodable cardinality fits a broadcast by
    construction."""
    keep = (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select(F.col(col).alias("__keep"))
    )
    out = df.join(
        F.broadcast(keep), F.col(col) == F.col("__keep"), "left"
    )
    collapsed = F.when(F.col(col).isNull(), F.lit(None).cast("string")) \
        .when(F.col("__keep").isNotNull(), F.col(col).cast("string")) \
        .otherwise(F.lit(other))
    return out.withColumn(out_col or col, collapsed).drop("__keep")


def cdf_normalize(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    out_col: str = "cdf",
) -> DataFrame:
    """Per-group empirical-CDF normalization: ``percent_rank`` of the
    value within its group — maps any score distribution onto [0, 1]
    so thresholds ("keep the top 30%") mean the same thing across
    sources with differently-shaped scorers. Ties share a rank
    (deterministic); parallelism = #groups, so keys must be
    low-cardinality categories (they are: sources, languages)."""
    w = W.partitionBy(*keys).orderBy(F.col(value_col).asc())
    return df.withColumn(out_col, F.percent_rank().over(w))


def profile_table(
    df: DataFrame, columns: list[str] | None = None
) -> DataFrame:
    """ANALYZE-style column profile: one output row per column with
    null count, exact distinct count, and min/max (rendered as
    strings so heterogeneous columns stack into one frame).

    One aggregation pass computes every column's statistics
    simultaneously (a single map-side-combinable job over the data —
    NOT one job per column), then the 1×(4·k) result row is unpivoted
    driver-side into k rows. Exact ``count_distinct`` over many
    columns is the expensive honest version; swap
    ``approx_count_distinct`` in via ``exact=False`` downstream if a
    sketch suffices at 100 TB.
    """
    cols = columns or df.columns
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            # coalesce: SUM over zero rows is NULL, but "no rows" means
            # zero nulls, not unknown
            F.coalesce(
                F.sum(col.isNull().cast("long")), F.lit(0)
            ).alias(f"__n_{c}"),
            F.count_distinct(col).alias(f"__d_{c}"),
            F.min(col).cast("string").alias(f"__mn_{c}"),
            F.max(col).cast("string").alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"__n_{c}").alias("n_nulls"),
                        F.col(f"__d_{c}").alias("n_distinct"),
                        F.col(f"__mn_{c}").alias("min_value"),
                        F.col(f"__mx_{c}").alias("max_value"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*")


def filter_by_domain(
    df: DataFrame,
    url_col: str,
    blocklist: DataFrame,
    blocklist_col: str = "domain",
    keep: bool = False,
    exact: bool = False,
) -> DataFrame:
    """C4-style provenance filter: drop (or with ``keep=True``,
    retain only) rows whose URL's host is, or is a subdomain of, a
    blocklist/allowlist entry — a list entry ``example.com`` blocks
    ``forum.example.com`` too (registrable-domain blocking). Pass
    ``exact=True`` for strict host equality instead.

    The domain extraction is codegen (``functions.text.
    extract_domain``). Suffix matching is a broadcast left-semi/anti
    join on ``host == d OR host LIKE '%.'||d`` — a broadcast
    nested-loop probe, O(|list|) string compares per row, the right
    trade for curated blocklists (10³–10⁵ entries). ``exact=True``
    keeps the O(1) broadcast hash join; for web-scale lists,
    pre-normalize URLs to registrable domains and use that path."""
    from aligned_spark.functions.text import extract_domain

    tagged = df.withColumn("__domain", extract_domain(F.col(url_col)))
    bl = blocklist.select(
        F.lower(F.col(blocklist_col)).alias("__bl")
    ).distinct()
    how = "leftsemi" if keep else "left_anti"
    if exact:
        cond = F.col("__domain") == F.col("__bl")
    else:
        cond = (F.col("__domain") == F.col("__bl")) | F.col(
            "__domain"
        ).endswith(F.concat(F.lit("."), F.col("__bl")))
    return tagged.join(F.broadcast(bl), on=cond, how=how).drop("__domain")


# -- hashed linear classifier ----------------------------------------------

_CLF_MULT = 2654435761  # Knuth multiplicative-hash constant
_CLF_ADD = 40503
_CLF_MOD = 2_000_001  # integer weights land in [-1_000_000, 1_000_000]
_CLF_SCALE = 1_000_000


def hashed_classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    buckets: int = 1 << 20,
    threshold: float = 0.0,
    impl: str = "codegen",
) -> DataFrame:
    """fastText-style hashed linear text classifier, applied at scale.

    The model-based quality filter of CCNet/FineWeb-class pipelines:
    tokenize, feature-hash each token into ``buckets``, sum the bucket
    weights, and emit a per-document ``logit`` plus a ``keep`` flag
    (``logit > threshold``). The weight table here is a deterministic
    pseudo-random function of the bucket id

        w(b) = ((b * 2654435761 + 40503) mod 2000001 - 10^6) * 10^-6

    standing in for trained weights; swapping in a real model is a
    broadcast join against a ``(bucket, weight)`` table of ≤``buckets``
    rows — the scoring plan is otherwise unchanged.

    Exactness: weights stay *integer-scaled* through the per-document
    sum (a primitive-long fold — no float accumulation order issues),
    with ONE double multiply+divide at the end; both are single
    IEEE-754 operations on identical operands in any engine, so the
    logit is bit-identical to the DuckDB oracle replay with no
    rounding tolerance.

    Scale design (100 TB): ``impl="codegen"`` is a pure projection —
    tokenize → hash → fold, zero shuffle, zero Python, whole-stage
    codegen end to end; scoring throughput is scan-bound.
    ``impl="poly"`` swaps the token hash for the SQL-replayable
    polynomial family (:mod:`aligned_spark.functions.text_poly`) — the
    oracle-verified correctness twin (Arrow kernel).

    Reference capability: none (extends the training-data surface,
    like the rest of this module).
    """
    if buckets > (1 << 21):
        # (buckets-1) * MULT must stay < 2^63 in plain long arithmetic
        # on both engines (no HUGEINT in the hot path)
        raise ValueError("buckets must be <= 2^21")
    text = F.col(text_col)
    if impl == "poly":
        from aligned_spark.functions.text_poly import (
            poly_window_hashes_arrow,
        )

        word_h = poly_window_hashes_arrow(text, 1)
    elif impl == "codegen":
        word_h = F.transform(_words(text), lambda w: F.xxhash64(w))
    else:
        raise ValueError(f"unknown impl: {impl!r}")
    b = F.lit(int(buckets))

    def _w(h):
        return (
            F.pmod(h, b) * F.lit(_CLF_MULT) + F.lit(_CLF_ADD)
        ) % F.lit(_CLF_MOD) - F.lit(_CLF_SCALE)

    projected = df.select(
        F.col(id_col), word_h.alias("__wh")
    )
    n = F.size("__wh")
    wsum = F.aggregate(
        "__wh", F.lit(0).cast("long"), lambda acc, h: acc + _w(h)
    )
    logit = F.when(
        n > 0, wsum.cast("double") / (F.lit(float(_CLF_SCALE)) * n)
    ).otherwise(F.lit(0.0))
    # three projections so the weight fold evaluates ONCE: Spark does
    # not CSE the aggregate() subtree between `logit` and `keep`
    scored = projected.select(id_col, logit.alias("logit"))
    return scored.select(
        id_col,
        "logit",
        (F.col("logit") > F.lit(float(threshold))).cast("int").alias("keep"),
    )


def shrunk_group_means(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    prior_weight: float = 30.0,
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-group mean scores toward the
    global mean:

        shrunk_g = (n_g · x̄_g + m · μ) / (n_g + m)

    (m = ``prior_weight``, the prior's pseudo-count). THE standard fix
    for ranking/filtering groups of wildly different sizes — a domain
    with 3 documents and a perfect average no longer outranks a
    10⁵-document domain with a merely good one. Output: one row per
    group — (keys..., n, raw_mean, shrunk_mean).

    Scale shape: one map-side-combinable aggregate to (#groups) rows,
    then the single-row global moment broadcast back — no window, no
    second pass over the data. Sums accumulate in DECIMAL (exact,
    order-independent); the final mean/shrink arithmetic is
    fixed-order IEEE on exact inputs, r6-rounded, so the SQL replay
    matches bit-for-bit.
    """
    v = F.col(value_col).cast("double")
    stats = df.groupBy(*keys).agg(
        F.count(v).alias("n"),
        F.sum(v.cast("decimal(27,6)")).alias("__s"),
    )
    glob = stats.select(
        F.sum("n").alias("__gn"), F.sum("__s").alias("__gs")
    )
    m = F.lit(float(prior_weight))
    raw = F.col("__s").cast("double") / F.col("n")
    mu = F.col("__gs").cast("double") / F.col("__gn")
    shrunk = (F.col("n") * raw + m * mu) / (F.col("n") + m)
    r6 = lambda c: (  # noqa: E731
        F.floor(c * F.lit(1e6) + F.lit(0.5) + F.lit(1e-9)).cast("double")
        / F.lit(1e6)
    )
    return (
        stats.crossJoin(F.broadcast(glob))
        .select(
            *keys,
            "n",
            r6(raw).alias("raw_mean"),
            r6(shrunk).alias("shrunk_mean"),
        )
    )


def k_anonymity(
    df: DataFrame,
    quasi_identifiers: list[str],
    k: int,
    mode: str = "groups",
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination — the
    privacy gate a training-data release pipeline runs before
    publishing user-derived records (Sweeney 2002): a dataset is
    k-anonymous iff every quasi-identifier equivalence class holds at
    least ``k`` rows.

    ``mode``:

    - ``"groups"`` — one row per equivalence class:
      ``(quasi_identifiers..., n_rows, violates)``;
    - ``"violations"`` — only the classes with ``n_rows < k`` (the
      re-identifiable ones to suppress/generalize);
    - ``"suppress"`` — the INPUT rows whose class passes (the
      k-anonymous release: violating rows suppressed).

    NULL-class semantics: ``groupBy`` treats NULL as a regular class
    value (all-NULL quasi-identifiers form one equivalence class), so
    the suppress semi-join matches with ``eqNullSafe`` (``<=>``) per
    column — a NULL class that the audit reports as ``n_rows >= k``
    is RELEASED, and one below ``k`` is suppressed, exactly as the
    groups/violations modes count it. (Plain ``=`` would silently
    suppress every NULL-valued row regardless of its class size.)

    Scale shape: one map-side-combinable count per class; "suppress"
    adds a semi-join of the input against the passing classes on the
    same keys, so the Exchange is reused. No driver transfer.
    Reference capability: none (beyond-reference surface).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    counts = df.groupBy(*quasi_identifiers).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    if mode == "groups":
        return counts.select(
            *quasi_identifiers,
            "n_rows",
            (F.col("n_rows") < k).alias("violates"),
        )
    if mode == "violations":
        return counts.filter(F.col("n_rows") < k)
    if mode == "suppress":
        ok = counts.filter(F.col("n_rows") >= k).select(
            *[
                F.col(c).alias(f"__qi_{i}")
                for i, c in enumerate(quasi_identifiers)
            ]
        )
        cond = reduce(
            lambda a, b: a & b,
            [
                df[c].eqNullSafe(ok[f"__qi_{i}"])
                for i, c in enumerate(quasi_identifiers)
            ],
        )
        return df.join(ok, cond, "left_semi")
    raise ValueError(f"unknown mode: {mode!r}")


def _calibration_agg(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int,
) -> DataFrame:
    """Shared single-pass aggregation behind :func:`calibration_bins`
    and :func:`ece_frame`: ``(bin, n, __ss, __pos)`` with the score
    sum as a SCALED LONG (order-independent)."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    s = F.col(score_col).cast("double")
    b = F.least(
        F.floor(s * F.lit(float(n_bins))).cast("long"),
        F.lit(n_bins - 1),
    )
    scaled = F.floor(s * F.lit(1e6) + F.lit(0.5)).cast("long")
    lab = F.col(label_col).cast("long")
    return (
        df.filter(s.isNotNull() & (s >= 0) & (s <= 1))
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(scaled).alias("__ss"),
            F.sum(lab).alias("__pos"),
        )
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram for a probabilistic classifier: scores in
    [0, 1] are cut into ``n_bins`` equal-width bins; each bin reports
    its count, mean confidence, and empirical accuracy — the per-bin
    decomposition from which ECE/MCE derive (see :func:`ece`).

    Determinism: the bin mean is a ratio of a SCALED-LONG sum
    (``floor(score*1e6+0.5)`` per row, summed as a primitive long —
    order-independent) over the count, divided once at the end; the
    accuracy is an integer ratio. Both replay bit-for-bit in SQL.

    Output: ``(bin, n, mean_score, accuracy)``, bin in [0, n_bins).
    One map-side-combinable aggregation; no shuffle beyond it.
    """
    agged = _calibration_agg(df, score_col, label_col, n_bins)
    return agged.select(
        "bin",
        "n",
        (
            F.col("__ss").cast("double") / F.col("n") / F.lit(1e6)
        ).alias("mean_score"),
        (F.col("__pos").cast("double") / F.col("n")).alias("accuracy"),
    )


def ece_frame(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Expected calibration error as a 1-row DATAFLOW (no driver
    collect): ``(n_total, ece)``.

    Exactness: per bin, ``n_b·|acc_b − conf_b| = |pos_b·1e6 − ss_b|
    / 1e6`` — an INTEGER numerator, so the cross-bin sum is
    order-independent and the whole statistic reduces to one integer
    sum divided twice (fixed order) at the end. The float version
    (Σ n_b/N·|…| with per-bin division first) would drift by summation
    order. Two shuffle-free stages over the same single aggregation
    as :func:`calibration_bins`."""
    agged = _calibration_agg(df, score_col, label_col, n_bins)
    return agged.agg(
        F.sum("n").alias("n_total"),
        (
            F.sum(
                F.abs(
                    F.col("__pos") * F.lit(1000000) - F.col("__ss")
                )
            ).cast("double")
            / F.lit(1e6)
            / F.sum("n")
        ).alias("ece"),
    )


def ece(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> float:
    """Expected calibration error as a driver-side float — collects
    :func:`ece_frame`'s single row (the heavy pass is the one
    aggregation inside it)."""
    row = ece_frame(df, score_col, label_col, n_bins).collect()[0]
    return float(row.ece) if row.ece is not None else 0.0
