"""Deduplication operators for training-data pipelines.

Reference capability surface: the aligned reference has no dedup
operator beyond entity-distinct (``DropDuplicateEntities``,
``aligned/retrieval_job.py:2110-2129``); these operators extend the
engine for LLM-corpus workloads (BASELINE north-star).

The text operators take their hashes from the
:class:`~aligned_spark.functions.hash_family.HashFamily` that their
``impl`` names, resolved before any plan is built.

Scale design (100 TB):

- ``exact_dedup`` shuffles once on the dedup key columns. Spark hashes
  the key for the exchange, so wide text keys cost network for the
  payload, not the routing; with AQE skew-join splitting a hot key
  (e.g. the empty document) cannot pin a single task.
- MinHash-LSH is the classic sub-quadratic near-dup: per-row signature
  (one Arrow-batched kernel pass), explode to ``bands`` rows, shuffle
  on the (band, band-hash) bucket, and only verify candidates that
  collide in ≥1 band. Candidate count ≈ O(n·dup_rate), never O(n²).
- ``minhash_dedup`` drops any doc with a near-dup of smaller id
  (greedy keep-min). That is one connected-components *round*, the
  standard single-pass choice at corpus scale (full transitive
  closure needs iterative joins; documented trade-off).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aligned_spark.functions.hash_family import hash_family
from aligned_spark.functions.text import ws_tokens


def exact_dedup(
    df: DataFrame, columns: list[str], order_col: str | None = None
) -> DataFrame:
    """Keep one row per distinct ``columns`` tuple.

    With ``order_col`` the kept row is deterministic (smallest value
    wins); without it this degrades to ``dropDuplicates`` (arbitrary
    but cheaper — no sort)."""
    if order_col is None:
        return df.dropDuplicates(columns)
    w = W.partitionBy(*columns).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def fingerprint_dedup(
    df: DataFrame,
    text_col: str,
    order_col: str,
    width: int = 8,
    impl: str = "arrow",
) -> DataFrame:
    """Near-exact dedup on the winnowing-style content fingerprint
    (the minimum ``width``-word window hash): documents sharing their
    fingerprint collapse to one row (smallest ``order_col`` wins).
    ``impl`` names the hash family: "arrow" (default) or "poly"."""
    family = hash_family(impl)
    out = df.withColumn("__fp", family.fingerprint(F.col(text_col), width))
    w = W.partitionBy("__fp").orderBy(F.col(order_col).asc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        # docs too short to fingerprint (null __fp) are never merged —
        # they'd otherwise all collapse into the null group
        .filter((F.col("__rn") == 1) | F.col("__fp").isNull())
        .drop("__rn", "__fp")
    )


def _band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_width: int,
    impl: str = "arrow",
) -> DataFrame:
    """(id, band_id, band_hash) rows — one per band per doc, from the
    ``impl`` family's band hashes; banding semantics are the same for
    every family.

    Documents with no shingle are excluded: their identical
    signatures would all collide into ONE bucket — quadratic pair
    blowup at corpus scale. Route empty-doc dedup through
    exact_dedup instead."""
    family = hash_family(impl)
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    return family.band_hashes(
        df, id_col, text_col, num_hashes, bands, shingle_width
    ).select(id_col, F.posexplode("__bh").alias("band_id", "band_hash"))


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_width: int = 3,
    jaccard_threshold: float | None = None,
    impl: str = "arrow",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Pairs (``{id}_a`` < ``{id}_b``) colliding in at least one band.
    With ``jaccard_threshold`` each candidate is verified with the
    exact shingle-set Jaccard (only candidates pay this — the
    verification join carries shingle arrays for the candidate set,
    not the full corpus).

    The banded frame is persisted (MEMORY_AND_DISK): both sides of
    the self-join read it, and without persistence Spark would run
    the tokenize+hash pass once per side. At corpus scale the banded
    frame is tiny relative to the corpus (id + 2 longs × bands).
    Persisting does not stop a second evaluation INSIDE the cached
    plan: the ``size > 0`` filters on the band hashes are pushed below
    the kernel's projection with the UDF copied in, unless the kernel
    is nondeterministic, as
    :func:`~aligned_spark.functions.arrow_udf.kernel_udf` makes it.
    The verification's shingle kernel is not persisted: it runs once
    per side of the verification join."""
    from pyspark.storagelevel import StorageLevel

    family = hash_family(impl)
    banded = _band_rows(
        df, id_col, text_col, num_hashes, bands, shingle_width, impl
    )
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    a = banded.select(
        F.col(id_col).alias(f"{id_col}_a"), "band_id", "band_hash"
    )
    b = banded.select(
        F.col(id_col).alias(f"{id_col}_b"), "band_id", "band_hash"
    )
    pairs = (
        a.join(b, on=["band_id", "band_hash"])
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .select(f"{id_col}_a", f"{id_col}_b")
        .distinct()
    )
    if jaccard_threshold is None:
        return pairs
    shingled = df.select(
        F.col(id_col),
        # jaccard over shingle-hash sets == jaccard over shingle sets
        # (collisions negligible at 64 bits), at a fraction of the cost
        family.shingle_hashes(F.col(text_col), shingle_width).alias("__sh"),
    )
    pairs = (
        pairs.join(
            shingled.select(
                F.col(id_col).alias(f"{id_col}_a"), F.col("__sh").alias("__sh_a")
            ),
            on=f"{id_col}_a",
        )
        .join(
            shingled.select(
                F.col(id_col).alias(f"{id_col}_b"), F.col("__sh").alias("__sh_b")
            ),
            on=f"{id_col}_b",
        )
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
    union = F.size(F.array_union("__sh_a", "__sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(f"{id_col}_a", f"{id_col}_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_width: int = 3,
    jaccard_threshold: float | None = 0.8,
    impl: str = "arrow",
    transitive: bool = False,
) -> DataFrame:
    """Drop near-duplicates. Default: any doc with a near-dup of
    smaller id is removed (greedy keep-min — one round). With
    ``transitive=True`` full connected components run first, so
    chained duplicates (A~B, B~C without an A~C collision) collapse
    to ONE survivor per component instead of two."""
    pairs = minhash_near_dup_pairs(
        df,
        id_col,
        text_col,
        num_hashes,
        bands,
        shingle_width,
        jaccard_threshold,
        impl,
    )
    if transitive:
        comps = connected_components(pairs, f"{id_col}_a", f"{id_col}_b")
        losers = (
            comps.filter(F.col("node") != F.col("label"))
            .select(F.col("node").alias(id_col))
            .distinct()
        )
    else:
        losers = pairs.select(F.col(f"{id_col}_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 25,
    driver_threshold: int = 5_000_000,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    Returns ``(node, label)`` where ``label`` is the smallest node id
    in the component. Converges in O(graph diameter) rounds — each
    round one shuffle join + group-min; ``localCheckpoint`` cuts the
    exploding iterative lineage (without it round N's plan contains
    all prior rounds). This is the transitive-closure step a greedy
    pair dedup misses: A~B, B~C ⇒ {A,B,C} one group even when A~C
    never collided.

    Near-dup graphs are sparse with tiny diameters (dup clusters are
    near-cliques), so rounds ≈ 2-4 in practice; ``max_iter`` bounds
    pathological chains.

    Adaptive execution: a near-dup pair graph is orders of magnitude
    smaller than the corpus that produced it (it holds only colliding
    ids, not documents), so when the materialized edge count is at
    most ``driver_threshold`` the closure runs as a driver-side
    union-find over just the id pairs — O(E·α) with ONE job instead
    of ~4 jobs × diameter rounds. Bigger graphs take the distributed
    min-label loop. Both paths return the identical (node, min-id
    label) frame; ``driver_threshold=0`` forces the distributed path.
    """
    # evaluate the (possibly expensive) edge pipeline exactly once —
    # nodes, sym, and every iteration all read this checkpoint instead
    # of re-running whatever produced the pairs (e.g. an LSH verify)
    fwd = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .localCheckpoint(eager=True)
    )
    if fwd.count() <= driver_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in fwd.collect():
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # smaller id stays root → roots are component minima
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        node_t = fwd.schema["a"].dataType
        out_schema = T.StructType(
            [
                T.StructField("node", node_t, False),
                T.StructField("label", node_t, False),
            ]
        )
        return edges.sparkSession.createDataFrame(
            [(n, find(n)) for n in parent], out_schema
        )
    labels = (
        fwd.select(F.col("a").alias("node"))
        .unionByName(fwd.select(F.col("b").alias("node")))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    sym = (
        fwd.unionByName(
            fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("node").alias("b"), F.col("label").alias("nl")
                ),
                on="b",
            )
            .groupBy("a")
            .agg(F.min("nl").alias("mn"))
            .select(F.col("a").alias("node"), "mn")
        )
        # carry the previous label through the checkpoint so the
        # convergence check is a scan of this tiny frame, not an
        # extra per-round shuffle join against the old labels
        new_labels = (
            labels.join(nbr_min, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("mn"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("__old"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(
            F.col("label") != F.col("__old")
        ).count()
        labels = new_labels.drop("__old")
        if changed == 0:
            break
    return labels


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
) -> DataFrame:
    """Cross-corpus line-level exact dedup (the C4 recipe: a line that
    occurs anywhere else in the corpus survives only at its first
    occurrence): posexplode lines, keep the occurrence with the
    smallest ``(id, position)`` per distinct line, reassemble each
    document from its surviving lines in original order.

    Boilerplate killers like nav bars / cookie banners / license
    headers disappear from every doc but the first one that used them;
    empty lines are dropped. Documents whose every line was a dup
    survive with empty text (so the row set is stable for joins).

    One shuffle keyed on the line text (skew note: a corpus-dominating
    boilerplate line is one hot key — AQE skew handling applies), one
    shuffle back on the id to reassemble. ``collect_list`` state per
    doc is bounded by the doc's own line count."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), sep)).alias(
            "__pos", "__line"
        ),
    ).filter(F.length("__line") > 0)
    w = W.partitionBy("__line").orderBy(id_col, "__pos")
    kept = (
        lines.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s.getField("__line"),
            ),
        ).alias(text_col)
    )
    return df.select(id_col).join(rebuilt, on=id_col, how="left").select(
        id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vector_col: str,
    dim: int,
    threshold: float,
    num_planes: int = 16,
    num_tables: int = 4,
    seed: int = 42,
    max_iter: int = 25,
    impl: str = "arrow",
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    drop every document whose embedding is cosine-similar (≥
    ``threshold``) — directly or transitively — to a lower-id document.

    Three stages, each the scale-safe shape:

    1. candidate pairs via random-hyperplane LSH buckets
       (:func:`~aligned_spark.operators.similarity.lsh_bucketed_pairs`)
       — shuffles (id, bucket) rows, verifies exact cosine only within
       buckets, never a cross product. ``num_planes=0`` degrades to
       exact all-pairs (useful for tests / small frames).
    2. connected components over the sparse near-dup graph
       (:func:`connected_components`) — full transitive closure, so
       A~B, B~C collapses {A,B,C} even when A~C never collided.
    3. anti-join the non-representative ids back out. The drop list is
       ~dup_rate × corpus, typically small → broadcast anti-join.

    The SemDeDup recipe (Abbas et al. 2023) clusters with k-means;
    hyperplane buckets serve the same role here but are deterministic
    given ``seed``, which keeps the whole operator replayable."""
    from aligned_spark.operators.similarity import lsh_bucketed_pairs

    pairs = lsh_bucketed_pairs(
        df,
        id_col,
        vector_col,
        dim=dim,
        threshold=threshold,
        num_planes=num_planes,
        num_tables=num_tables,
        seed=seed,
        impl=impl,
    )
    comps = connected_components(
        pairs, f"{id_col}_a", f"{id_col}_b", max_iter=max_iter
    )
    drop = comps.filter(F.col("label") != F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_width: int = 3,
    impl: str = "arrow",
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance (the
    classic Google-crawl dedup shape).

    Pigeonhole banding: the family's simhash (64 bits for arrow, 61
    for poly) splits into ``max_hamming + 1`` chunks — two signatures
    within ``max_hamming`` bits MUST agree exactly on at least one
    chunk, so the self-join runs on (chunk_id, chunk_value) buckets,
    never the corpus cross product. Candidates verify with
    ``bit_count(xor) <= max_hamming`` — all codegen. Output:
    ``{id}_a < {id}_b, hamming``.

    Banding guarantees 100% recall at ``max_hamming`` (pigeonhole is
    exact, not probabilistic like MinHash-LSH)."""
    from pyspark.storagelevel import StorageLevel

    family = hash_family(impl)
    n_chunks = max_hamming + 1
    # chunk boundaries must PARTITION all sig bits (pigeonhole breaks
    # if any bit is uncovered); distribute the remainder
    base, rem = divmod(family.simhash_bits, n_chunks)
    widths = [base + 1] * rem + [base] * (n_chunks - rem)
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    # sig==0 ⇒ un-shingleable doc: excluded (they'd form one
    # quadratic bucket; route through exact_dedup)
    sigs = (
        df.select(
            F.col(id_col),
            family.simhash(F.col(text_col), shingle_width).alias("__sig"),
        )
        .filter(F.col("__sig") != 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    chunks = [
        F.struct(
            F.lit(c).alias("chunk_id"),
            F.shiftrightunsigned(F.col("__sig"), offsets[c])
            .bitwiseAND(F.lit((1 << widths[c]) - 1))
            .alias("chunk_val"),
        )
        for c in range(n_chunks)
    ]
    banded = sigs.select(
        id_col, "__sig", F.explode(F.array(*chunks)).alias("__c")
    ).select(
        id_col,
        "__sig",
        F.col("__c.chunk_id").alias("chunk_id"),
        F.col("__c.chunk_val").alias("chunk_val"),
    )
    a = banded.select(
        F.col(id_col).alias(f"{id_col}_a"),
        F.col("__sig").alias("__sig_a"),
        "chunk_id",
        "chunk_val",
    )
    b = banded.select(
        F.col(id_col).alias(f"{id_col}_b"),
        F.col("__sig").alias("__sig_b"),
        "chunk_id",
        "chunk_val",
    )
    ham = F.bit_count(
        F.col("__sig_a").bitwiseXOR(F.col("__sig_b"))
    ).alias("hamming")
    return (
        a.join(b, on=["chunk_id", "chunk_val"])
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .select(f"{id_col}_a", f"{id_col}_b", ham)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates([f"{id_col}_a", f"{id_col}_b"])
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    corpus_text: str,
    benchmark_text: str,
    shingle_width: int = 8,
    impl: str = "arrow",
    keep_contaminated: bool = False,
) -> DataFrame:
    """Train-set decontamination: drop corpus docs sharing ANY
    ``shingle_width``-word shingle with the benchmark set (the
    standard n-gram-overlap contamination rule for LLM training-data
    hygiene; ``keep_contaminated=True`` returns the flagged docs for
    audit instead).

    Spark shape: shingle-hash both sides, explode the corpus side to
    (id, shingle) pairs, semi-join against the DISTINCT benchmark
    shingle set to get contaminated ids, anti-join the corpus on id.
    The benchmark side is tiny relative to the corpus (eval suites
    are MBs against TBs), so it broadcasts and the corpus-side scan
    stays embarrassingly parallel at 100 TB — the only shuffle is the
    id-distinct on the (small) contaminated set. ``impl``: "arrow"
    (SipHash kernel, production) or "poly" (SQL-mirrorable — the
    oracle-verified path)."""
    family = hash_family(impl)
    bench_shingles = benchmark.select(
        F.explode(
            family.shingle_hashes(F.col(benchmark_text), shingle_width)
        ).alias("__sh")
    ).distinct()
    pairs = corpus.select(
        F.col(id_col),
        F.explode(
            family.shingle_hashes(F.col(corpus_text), shingle_width)
        ).alias("__sh"),
    )
    hit_ids = (
        pairs.join(F.broadcast(bench_shingles), on="__sh", how="left_semi")
        .select(id_col)
        .distinct()
    )
    how = "left_semi" if keep_contaminated else "left_anti"
    return corpus.join(hit_ids, on=id_col, how=how)


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    corpus_text: str,
    benchmark_text: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_width: int = 3,
    impl: str = "arrow",
    keep_contaminated: bool = False,
) -> DataFrame:
    """NEAR-duplicate decontamination: drop corpus docs whose MinHash
    signature collides with ANY benchmark doc in at least one LSH band
    — the fuzzy complement of :func:`decontaminate` (exact n-gram
    overlap misses lightly-paraphrased benchmark leakage; banded
    MinHash catches documents above ~the band Jaccard threshold
    without comparing every corpus×benchmark pair).

    Spark shape: band both sides with the SAME seeded signature
    pipeline as :func:`minhash_near_dup_pairs`, broadcast the
    benchmark band set (eval suites are MBs against TBs), semi-join
    corpus bands on ``(band_id, band_hash)``, distinct the hit ids,
    anti-join the corpus. The corpus side never shuffles more than
    (id, band, hash) rows and the only wide exchange is the
    id-distinct over the (small) hit set — the same 100 TB contour as
    the exact path. ``keep_contaminated=True`` returns flagged docs
    for audit."""
    bench_bands = _band_rows(
        benchmark, id_col, benchmark_text, num_hashes, bands,
        shingle_width, impl,
    ).select("band_id", "band_hash").distinct()
    corpus_bands = _band_rows(
        corpus, id_col, corpus_text, num_hashes, bands, shingle_width, impl
    )
    hit_ids = (
        corpus_bands.join(
            F.broadcast(bench_bands), on=["band_id", "band_hash"],
            how="left_semi",
        )
        .select(id_col)
        .distinct()
    )
    how = "left_semi" if keep_contaminated else "left_anti"
    return corpus.join(hit_ids, on=id_col, how=how)


def ngram_jaccard(a: Column, b: Column, n: int = 3) -> Column:
    """Exact character-n-gram Jaccard similarity of two text columns."""
    from aligned_spark.functions.text import char_ngrams

    ga, gb = char_ngrams(a, n), char_ngrams(b, n)
    inter = F.size(F.array_intersect(ga, gb)).cast("double")
    union = F.size(F.array_union(ga, gb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(1.0))


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 8,
    min_docs: int = 2,
    impl: str = "arrow",
) -> DataFrame:
    """Per-document duplicated-substring statistics — the distributed
    stand-in for suffix-array exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").

    A ``width``-token rolling-hash window plays the role of a suffix:
    a window hash appearing in >= ``min_docs`` DISTINCT documents
    marks a ``width``-token span shared verbatim across documents,
    and a run of ``k`` consecutive duplicated windows marks a shared
    span of ``k + width - 1`` tokens. Output per input row:

    - ``total_windows`` — number of ``width``-token windows
    - ``dup_windows``   — windows shared with >= min_docs-1 other docs
    - ``max_dup_run``   — longest consecutive duplicated-window run
      (longest cross-document verbatim span, in windows)
    - ``dup_fraction``  — dup_windows / total_windows (0.0 when the
      doc is shorter than ``width`` tokens)

    Scale design (100 TB): the exploded (id, pos, hash) frame is the
    suffix-array workload and is persisted (MEMORY_AND_DISK) because
    it feeds both the cross-document hash census and the join back.
    The census aggregates with map-side partials on the hash, the
    semi-join is hash-partitioned on the same key (the Exchange is
    reused), and the run detection needs exactly one further shuffle
    on the document id (window + final aggregate share it). Nothing
    is collected on the driver; no O(n^2) pair set is ever formed —
    spans are detected through the hash census, not pairwise compare.

    ``impl``: "arrow" (SipHash kernel, corpus-scale default) or
    "poly" (SQL-mirrorable family — the oracle-verified correctness
    path; see :mod:`aligned_spark.functions.text_poly`)."""
    from pyspark.storagelevel import StorageLevel

    # positional windows only: the distinct-set shingle hashes used
    # by MinHash would destroy run contiguity (and drop repeats)
    wh = hash_family(impl).window_hashes(F.col(text_col), width)
    win = (
        df.select(F.col(id_col), wh.alias("__wh"))
        .select(id_col, F.posexplode("__wh").alias("__pos", "__h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # cross-document census: hashes seen in >= min_docs distinct docs
    shared = (
        win.groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h")
    )
    dup = win.join(shared, on="__h")
    # gaps-and-islands: consecutive positions share (pos - row_number)
    w_doc = W.partitionBy(id_col).orderBy(F.col("__pos").asc())
    runs = dup.withColumn(
        "__island", F.col("__pos") - F.row_number().over(w_doc)
    )
    run_stats = (
        runs.groupBy(id_col, "__island")
        .agg(F.count(F.lit(1)).alias("__run"))
        .groupBy(id_col)
        .agg(
            F.sum("__run").alias("dup_windows"),
            F.max("__run").alias("max_dup_run"),
        )
    )
    totals = win.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("total_windows")
    )
    out = (
        df.select(id_col)
        .join(totals, on=id_col, how="left")
        .join(run_stats, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("total_windows", F.lit(0))
            .cast("long")
            .alias("total_windows"),
            F.coalesce("dup_windows", F.lit(0))
            .cast("long")
            .alias("dup_windows"),
            F.coalesce("max_dup_run", F.lit(0))
            .cast("long")
            .alias("max_dup_run"),
        )
        .withColumn(
            "dup_fraction",
            F.when(F.col("total_windows") == 0, F.lit(0.0)).otherwise(
                F.col("dup_windows").cast("double")
                / F.col("total_windows").cast("double")
            ),
        )
    )
    return out


_BLOOM_M30 = 1_073_741_824  # 2^30 — hash_coordinate's modulus
_BLOOM_A = 2_654_435_761  # Knuth multiplier
_BLOOM_STEP = 7_919  # per-hash-function seed offset


def _bloom_pos(h: Column, j: int, m_bits: int) -> Column:
    """Bit position of shingle-hash ``h`` under hash function ``j`` —
    exact int64 arithmetic, replayable verbatim in SQL."""
    return (
        F.pmod(
            F.pmod(h + F.lit(j * _BLOOM_STEP), F.lit(_BLOOM_M30))
            * F.lit(_BLOOM_A),
            F.lit(_BLOOM_M30),
        )
        % F.lit(m_bits)
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    corpus_text: str,
    benchmark_text: str,
    shingle_width: int = 8,
    m_bits: int = 1 << 16,
    k: int = 2,
    impl: str = "arrow",
    keep_contaminated: bool = False,
) -> DataFrame:
    """:func:`decontaminate`'s broadcast-bitset scale path: instead of
    a shingle semi-join, the benchmark's shingles are folded into an
    ``m_bits`` Bloom filter ONCE (driver-side — eval suites are MBs
    against TBs, so the collect is bounded by design) and every corpus
    shingle probes the bitset with ``k`` hash functions inside a
    codegen ``exists`` — ZERO joins, zero shuffle on the corpus side;
    the only data movement is the bitset riding the task closure.

    One-sided error: a clean doc may be flagged (Bloom false
    positive, rate ≈ (1−e^(−k·n/m))^k), a contaminated doc is never
    missed — the right direction for hygiene filtering. The bit
    positions use exact int64 arithmetic (2^30-modulus multiplicative
    hashing, 32-bit packed words, power-of-two exact divisions), so an
    oracle can replay the EXACT bitset — including which false
    positives fire — in portable SQL.

    ``impl`` selects the shingle-hash family, as in
    :func:`decontaminate`.
    """
    family = hash_family(impl)
    if m_bits <= 0 or m_bits % 32 or m_bits > (1 << 22):
        raise ValueError(
            "m_bits must be a positive multiple of 32, <= 2^22"
        )

    import numpy as np

    bench_hashes = (
        benchmark.select(
            F.explode(
                family.shingle_hashes(F.col(benchmark_text), shingle_width)
            ).alias("__sh")
        )
        .distinct()
        .toPandas()["__sh"]
        .to_numpy(dtype=np.int64)
    )
    # vectorized bitset fold (r13): the per-hash Python loop cost
    # seconds at millions of benchmark shingles. Arithmetic is
    # identical in int64: reducing h mod 2^30 FIRST keeps every
    # intermediate < 2^62 (h%M30 < 2^30, A < 2^32), so the numpy fold
    # reproduces the Python build bit-for-bit — including which false
    # positives fire.
    words_np = np.zeros(m_bits // 32, dtype=np.int64)
    if len(bench_hashes):
        hm = bench_hashes % np.int64(_BLOOM_M30)
        for j in range(k):
            pos = (
                (hm + np.int64(j * _BLOOM_STEP))
                % np.int64(_BLOOM_M30)
                * np.int64(_BLOOM_A)
                % np.int64(_BLOOM_M30)
            ) % np.int64(m_bits)
            np.bitwise_or.at(
                words_np,
                pos // np.int64(32),
                np.int64(1) << (pos % np.int64(32)),
            )
    words = [int(w) for w in words_np]
    bits = F.lit(words)  # array<bigint> literal, 32 bits used per word
    pow2 = F.lit([1 << i for i in range(32)])

    def _bit_set(pos: Column) -> Column:
        word = F.element_at(bits, (pos / F.lit(32)).cast("int") + 1)
        p2 = F.element_at(pow2, F.pmod(pos, F.lit(32)).cast("int") + 1)
        # word < 2^32 and p2 a power of two → the double division is
        # exact and floor recovers the exact shifted value (both
        # engines IEEE); % 2 extracts the bit
        return (
            F.floor(word.cast("double") / p2.cast("double")).cast("long")
            % 2
            == 1
        )

    def _probe(h: Column) -> Column:
        cond = F.lit(True)
        for j in range(k):
            cond = cond & _bit_set(_bloom_pos(h, j, m_bits))
        return cond

    flagged = F.exists(
        family.shingle_hashes(F.col(corpus_text), shingle_width), _probe
    )
    keep = flagged if keep_contaminated else ~flagged
    return corpus.filter(keep)


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 8,
    min_docs: int = 2,
    impl: str = "arrow",
) -> DataFrame:
    """:func:`duplicate_spans`' production counterpart: REMOVE the
    cross-document verbatim spans instead of just measuring them —
    the actual transformation of suffix-array dedup (Lee et al.
    2022): every whitespace token covered by a ``width``-token window
    whose hash appears in ≥ ``min_docs`` distinct documents is cut,
    and the survivors reassemble in order (single-space joined —
    whitespace is canonicalized by construction). Output per input
    row: ``(id, clean_text, n_removed)``.

    Tokenization is WHITESPACE words (case and punctuation
    preserved), not the lowercase-alpha dedup tokens — removal must
    map 1:1 onto reassemblable words.

    Scale shape: same census skeleton as :func:`duplicate_spans` —
    the (id, pos, hash) explode feeds a map-side-combinable distinct-
    doc census on the hash key and a semi-join back; span → token
    coverage explodes ``width`` rows per duplicated window (bounded
    by width × dup_windows, not text length); reassembly is one
    shuffle on the id with an order-struct sort inside each group.
    Nothing collects on the driver; no pairwise compare.

    ``impl``: "arrow" hashes the whitespace tokens with xxhash64;
    "poly" is the SQL-replayable oracle path.
    """
    from pyspark.storagelevel import StorageLevel

    wh = hash_family(impl).ws_window_hashes(F.col(text_col), width)
    base = df.select(
        F.col(id_col),
        ws_tokens(F.col(text_col)).alias("__toks"),
        wh.alias("__wh"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    windows = base.select(
        id_col, F.posexplode("__wh").alias("__pos", "__h")
    )
    census = (
        windows.groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
    )
    dup_windows = windows.join(census, "__h", "left_semi")
    covered = (
        dup_windows.select(
            id_col,
            F.explode(
                F.sequence(
                    F.col("__pos"), F.col("__pos") + F.lit(width - 1)
                )
            ).alias("__widx"),
        )
        .distinct()
    )
    toks = base.select(
        id_col, F.posexplode("__toks").alias("__widx", "__w")
    )
    kept = toks.join(covered, [id_col, "__widx"], "left_anti")
    reassembled = (
        kept.groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("__widx", "__w"))
            ).alias("__o")
        )
        .select(
            id_col,
            F.array_join(
                F.transform("__o", lambda x: x.getField("__w")), " "
            ).alias("clean_text"),
        )
    )
    removed = covered.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    return (
        df.select(id_col)
        .join(reassembled, id_col, "left")
        .join(removed, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias(
                "n_removed"
            ),
        )
    )
