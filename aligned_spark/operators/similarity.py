"""Similarity search over embedding columns.

Reference capability: ``VectorIndex.nearest_n_to``
(``aligned/sources/vector_index.py:5-11``; LanceDB impl row-loops an
ANN index, ``aligned/sources/lancedb.py:158-212``). Spark-first
re-expression: brute-force cosine top-k as the exact baseline
(broadcast the query side, scan the corpus — no driver loop), and a
random-hyperplane LSH bucketing as the sub-quadratic scale path.

Determinism: all vector math casts to ``array<double>`` and folds in
array order with ``F.aggregate`` — bit-identical to a left-fold in
any other engine, so results hash-match a DuckDB oracle exactly.
Ties in similarity break on the neighbor id.

Scale notes (100 TB corpus):

- ``top_k_similar`` broadcasts the *query* side (typically ≤ a few
  thousand rows) against the partitioned corpus: no shuffle of the
  corpus at all; the per-partition top-k then combines in one small
  exchange of ``n_queries × k`` rows (Spark's window does this via
  partial ranking under AQE).
- ``lsh_bucketed_pairs`` shuffles once on the 16-bit hyperplane
  bucket; candidates are verified with exact cosine inside the
  bucket. Recall is tunable via ``num_planes``/``num_tables``.
"""

from __future__ import annotations

import random

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from aligned_spark.functions.arrow_udf import kernel_udf
from aligned_spark.functions.hash_family import hash_family


def dot_double(a: Column, b: Column) -> Column:
    """Left-fold dot product in double precision (order-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_double(a: Column, b: Column) -> Column:
    return dot_double(a, b) / (
        F.sqrt(dot_double(a, a)) * F.sqrt(dot_double(b, b))
    )


def top_k_similar(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vector_col: str,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: for each query row, the ``k`` most similar
    corpus rows. Output: ``query_id, neighbor_id, sim``."""
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vector_col).cast("array<double>").alias("__qv"),
    )
    cs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vector_col).cast("array<double>").alias("__cv"),
    )
    joined = cs.crossJoin(F.broadcast(qs))
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        # vectorized per-pair cosine, bit-identical to the
        # interpreted cosine_double fold (norms re-derive per pair
        # from the same per-dimension IEEE sequence, so the doubles
        # — and oracle hashes — are unchanged)
        _pair_cosine_arrow(joined, "__qv", "__cv").alias("sim"),
    )
    return _topk_per_query(scored, k)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Exact top-k per ``query_id`` in two stages.

    A single ranking window would shuffle the WHOLE scored frame
    (|corpus| × |queries| rows) onto ``query_id`` partitions — the
    scale killer of the naive formulation. (A groupBy +
    ``collect_list`` "partial top-k" does NOT fix it: collect_list's
    partial state carries every row through the shuffle anyway.)

    1. narrow pre-reduction: ``mapInPandas`` keeps each Arrow batch's
       top-k per query — no shuffle, vectorized sort, emits at most
       ``k × #queries`` rows per batch;
    2. global ranking window over the tiny survivor set.

    A batch's discarded row can never be in the global top-k (the
    batch kept ``k`` rows that beat it), so results — and oracle
    hashes — are identical to the one-window formulation. Ties break
    (sim desc, neighbor_id asc) in both stages. (Only NaN sims order
    differently: pandas sorts them last where a Spark desc window
    sorts them first — unreachable unless a vector has zero norm.)"""
    schema = scored.schema

    def _partial(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(
                        ["sim", "neighbor_id"], ascending=[False, True]
                    )
                    .groupby("query_id", sort=False)
                    .head(k)
                )

    partial = scored.mapInPandas(_partial, schema=schema)
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def top_k_similar_matmul(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vector_col: str,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Matmul-vectorized exact cosine top-k — the throughput path.

    :func:`top_k_similar` scores each pair with an interpreted HOF
    fold (~0.1 ms/pair at dim 64 — measured); this variant broadcasts
    the normalized query matrix and scores whole Arrow batches with
    one BLAS matmul (corpus_batch × queriesᵀ), then keeps the per-batch
    top-k per query and merges through the same tiny global window.
    ~100× per-pair throughput; sims can differ from the fold path in
    the last float bits (pairwise vs left-fold summation), which is
    why the fold path remains the oracle-pinned default.

    Corpus never shuffles; driver holds only the query matrix
    (n_queries × dim — the same data `broadcast()` would ship)."""
    import numpy as np

    q_rows = queries.select(id_col, vector_col).collect()
    if not q_rows:
        return top_k_similar(
            queries, corpus, id_col, vector_col, k, exclude_self
        )
    q_ids = np.array([r[0] for r in q_rows])
    qm = np.array([r[1] for r in q_rows], dtype=np.float64)
    qn = np.sqrt((qm * qm).sum(axis=1))
    qn[qn == 0] = 1.0
    qmn = qm / qn[:, None]
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, qmn))

    out_schema = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
        )
        .schema.add("query_id", queries.schema[id_col].dataType)
        .add("sim", "double")
    )

    def _score(batches):
        import pandas as pd

        ids_b, qmat = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.array(pdf[vector_col].tolist(), dtype=np.float64)
            cn = np.sqrt((cm * cm).sum(axis=1))
            cn[cn == 0] = 1.0
            sims = (cm / cn[:, None]) @ qmat.T  # (batch × n_queries)
            nids = pdf[id_col].to_numpy()
            if exclude_self:
                eq = nids[:, None] == ids_b[None, :]
                sims = np.where(eq, -np.inf, sims)
            kk = min(k, sims.shape[0])
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk × n_q)
            rows = {
                "neighbor_id": nids[top.ravel(order="F")],
                "query_id": np.repeat(ids_b, kk),
                "sim": np.take_along_axis(sims, top, axis=0).ravel(
                    order="F"
                ),
            }
            out = pd.DataFrame(rows)
            yield out[out["sim"] > -np.inf]

    partial = corpus.select(id_col, vector_col).mapInPandas(
        _score, schema=out_schema
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
        .select("query_id", "neighbor_id", "sim")
    )


def similar_pairs(
    df: DataFrame,
    id_col: str,
    vector_col: str,
    threshold: float,
) -> DataFrame:
    """All pairs (a < b) with cosine similarity ≥ ``threshold`` —
    exact O(n²) formulation for modest n; use
    :func:`lsh_bucketed_pairs` at corpus scale."""
    a = df.select(
        F.col(id_col).alias(f"{id_col}_a"),
        F.col(vector_col).cast("array<double>").alias("__va"),
    )
    b = df.select(
        F.col(id_col).alias(f"{id_col}_b"),
        F.col(vector_col).cast("array<double>").alias("__vb"),
    )
    pairs = a.crossJoin(b).filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
    scored = pairs.select(
        f"{id_col}_a",
        f"{id_col}_b",
        cosine_double(F.col("__va"), F.col("__vb")).alias("sim"),
    )
    return scored.filter(F.col("sim") >= threshold)


def ivf_assign(
    corpus: DataFrame,
    vector_col: str,
    num_centroids: int = 64,
    seed: int = 42,
    max_iter: int = 10,
) -> "tuple[DataFrame, list[list[float]]]":
    """IVF coarse quantizer: KMeans centroids + per-row cluster
    assignment.

    Returns (corpus with an ``__ivf_cluster`` column, centroid list).
    At scale the assigned corpus is what you materialize (partitioned
    by cluster); the centroid table is tiny and lives wherever the
    query planner runs. Spark ML's distributed KMeans does the
    training pass — no vectors ever collect to the driver except the
    ``num_centroids`` centers themselves."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.withColumn(
        "__fv", array_to_vector(F.col(vector_col).cast("array<double>"))
    )
    km = KMeans(
        k=num_centroids,
        seed=seed,
        maxIter=max_iter,
        featuresCol="__fv",
        predictionCol="__ivf_cluster",
    )
    model = km.fit(feat)
    assigned = model.transform(feat).drop("__fv")
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centers


def ivf_assign_to(
    df: DataFrame, vector_col: str, centers: "list[list[float]]"
) -> DataFrame:
    """Assign rows to the nearest of FIXED centroids (no training) —
    the incremental-ingest path: new vectors join an existing IVF
    index without re-running KMeans (FAISS ``add()`` semantics).
    Pure projection, no join or shuffle.

    The squared distances run in ONE Arrow kernel, BIT-IDENTICAL to
    the former per-centroid interpreted HOF folds (each accumulator
    advances ``acc + (x_d − c_d)²`` in ascending dimension order —
    measured ~0.06 ms/row at 64×64, seconds per 100k rows, all
    interpreted lambda dispatch); ties and all-NaN rows pick the
    FIRST index exactly like ``array_position(array_min)`` under
    Spark's NaN-equality. Rows whose vector is NULL, has a NULL
    element or the wrong length yield NULL, as the null-padded
    ``zip_with`` fold did."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centers, dtype=np.float64)  # (k, dim)
    dim = C.shape[1] if C.ndim == 2 else 0

    # no type hints: pandas_udf hint-inference rejects them here
    def _nearest(col):
        rows = len(col)
        if rows == 0:
            return pd.Series([], dtype="float64")
        arrs = col.to_numpy()
        ok = np.fromiter(
            (a is not None and len(a) == dim for a in arrs),
            dtype=bool,
            count=rows,
        )
        out = np.full(rows, np.nan)
        if ok.any():
            x = np.stack(arrs[ok]).astype(np.float64, copy=False)
            acc = np.zeros((len(x), len(C)))
            for d in range(dim):
                t = x[:, d][:, None] - C[None, :, d]
                acc = acc + t * t
            out[ok] = np.argmin(acc, axis=1).astype(np.float64)
        return pd.Series(out)

    fn = kernel_udf(_nearest, "double")
    v = F.col(vector_col).cast("array<double>")
    # NULL-element vectors lose the null/NaN distinction crossing
    # Arrow — guard in SQL so they stay NULL (the kernel's value for
    # them is discarded unevaluated semantics-wise)
    guard = (F.size(v) == F.lit(dim)) & ~F.exists(
        v, lambda x: x.isNull()
    )
    return df.withColumn(
        "__ivf_cluster",
        F.when(guard, fn(v).cast("int")).otherwise(
            F.lit(None).cast("int")
        ),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vector_col: str,
    k: int = 10,
    num_centroids: int = 64,
    nprobe: int = 8,
    seed: int = 42,
    exclude_self: bool = True,
    assigned: DataFrame | None = None,
    centers: "list[list[float]] | None" = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest centroids
    per query, exact cosine only within probed clusters.

    With ``nprobe == num_centroids`` this degrades to exact brute
    force (every cluster probed) — which is how the driver oracle
    pins the machinery. Scale shape: the probe table is
    ``n_queries × nprobe`` small rows broadcast against the corpus
    pre-partitioned by ``__ivf_cluster``; only probed partitions are
    scanned (cluster-key join prunes under AQE), so cost is
    ``nprobe / num_centroids`` of the brute-force scan.

    Pass ``assigned``/``centers`` (from :func:`ivf_assign`) to reuse a
    materialized index across queries."""
    if assigned is None or centers is None:
        assigned, centers = ivf_assign(
            corpus, vector_col, num_centroids, seed
        )
    spark = queries.sparkSession
    centers_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)],
        "__ivf_cluster int, __cent array<double>",
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vector_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", F.sqrt(dot_double(F.col("__qv"), F.col("__qv"))))
    # nprobe nearest centroids per query — centroid table is tiny,
    # broadcast; ranking window partitions by query
    probe_scored = qs.crossJoin(F.broadcast(centers_df)).select(
        "query_id",
        "__qv",
        "__qn",
        "__ivf_cluster",
        cosine_double(F.col("__qv"), F.col("__cent")).alias("__csim"),
    )
    pw = W.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col("__ivf_cluster").asc()
    )
    probes = (
        probe_scored.withColumn("__pk", F.row_number().over(pw))
        .filter(F.col("__pk") <= nprobe)
        .select("query_id", "__qv", "__qn", "__ivf_cluster")
    )
    cs = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vector_col).cast("array<double>").alias("__cv"),
        "__ivf_cluster",
    ).withColumn("__cn", F.sqrt(dot_double(F.col("__cv"), F.col("__cv"))))
    joined = cs.join(F.broadcast(probes), on="__ivf_cluster")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        (
            dot_double(F.col("__qv"), F.col("__cv"))
            / (F.col("__qn") * F.col("__cn"))
        ).alias("sim"),
    )
    return _topk_per_query(scored, k)


def _pair_cosine_arrow(df: DataFrame, va: str, vb: str) -> Column:
    """Vectorized pair cosine, BIT-IDENTICAL to :func:`cosine_double`:
    accumulates ``acc + a[d]*b[d]`` per dimension in array order
    across the whole Arrow batch, so every pair sees the exact
    left-fold sequence of IEEE double ops the codegen fold performs —
    same dot, same norms, same quotient, same bits. ~100× faster per
    pair than the interpreted HOF fold (measured: the fold evaluates
    ~0.1 ms/pair at dim 64; this path is a handful of numpy passes
    per batch)."""
    import numpy as np
    import pandas as pd

    # no type hints: pandas_udf hint-inference rejects them here; the
    # explicit returnType below is authoritative
    def _cos(a, b):
        n = len(a)
        if n == 0:
            return pd.Series([], dtype="float64")
        aa = a.to_numpy()
        bb = b.to_numpy()
        # mask rows np.stack would choke on (NULL vector, pair-length
        # mismatch) instead of crashing the executor — the codegen
        # fold returned NULL sim for them. Valid rows group by length
        # and run the exact per-dimension IEEE sequence as before
        # (one group in practice), so valid sims stay bit-identical.
        ok = np.fromiter(
            (
                x is not None and y is not None and len(x) == len(y)
                for x, y in zip(aa, bb)
            ),
            dtype=bool,
            count=n,
        )
        out = np.full(n, np.nan)
        idx = np.flatnonzero(ok)
        if idx.size:
            lens = np.fromiter(
                (len(aa[i]) for i in idx),
                dtype=np.int64,
                count=idx.size,
            )
            for ln in np.unique(lens):
                g = idx[lens == ln]
                va_ = np.stack(aa[g]).astype(np.float64, copy=False)
                vb_ = np.stack(bb[g]).astype(np.float64, copy=False)
                m = len(g)
                dot = np.zeros(m)
                na = np.zeros(m)
                nb = np.zeros(m)
                for d in range(int(ln)):
                    dot = dot + va_[:, d] * vb_[:, d]
                    na = na + va_[:, d] * va_[:, d]
                    nb = nb + vb_[:, d] * vb_[:, d]
                out[g] = dot / (np.sqrt(na) * np.sqrt(nb))
        return pd.Series(out)

    fn = kernel_udf(_cos, "double")
    a = F.col(va).cast("array<double>")
    b = F.col(vb).cast("array<double>")
    # NULL-element vectors lose the null/NaN distinction crossing
    # Arrow — guard in SQL so they yield NULL exactly like the
    # codegen fold (same pattern as ivf_assign_to); the kernel's
    # value for guarded rows is discarded unevaluated semantics-wise
    guard = (
        a.isNotNull()
        & b.isNotNull()
        & (F.size(a) == F.size(b))
        & ~F.exists(a, lambda x: x.isNull())
        & ~F.exists(b, lambda x: x.isNull())
    )
    return F.when(guard, fn(a, b)).otherwise(
        F.lit(None).cast("double")
    )


def _lsh_buckets_arrow(
    vector_col: str, dim: int, num_planes: int, num_tables: int, seed: int
) -> Column:
    """Every table's bucket id in ONE Arrow pass — bit-identical to
    :func:`lsh_bucket` (the per-dimension accumulation runs in array
    order, replaying the codegen fold's exact IEEE sequence, so the
    SQL oracles that embed the plane literals still match). The
    interpreted HOF fold costs ~0.4 ms per dot; this is numpy passes
    over the whole batch (~1000× per-row), and doing all tables in
    one kernel means ONE Python stage instead of ``num_tables``."""
    import numpy as np
    import pandas as pd

    all_planes = [
        _hyperplanes(dim, num_planes, seed + t) for t in range(num_tables)
    ]

    def _bk(col):
        n = len(col)
        if n == 0:
            return pd.Series([], dtype=object)
        arrs = col.to_numpy()
        # mask rows np.stack would choke on (NULL vector, wrong
        # length) instead of crashing the executor — the per-table
        # codegen fold gave NULL buckets for them. Valid rows run the
        # exact per-dimension IEEE sequence as before.
        ok = np.fromiter(
            (a is not None and len(a) == dim for a in arrs),
            dtype=bool,
            count=n,
        )
        res = [None] * n
        idx = np.flatnonzero(ok)
        if idx.size:
            x = np.stack(arrs[idx]).astype(np.float64, copy=False)
            m = idx.size
            out = np.zeros((m, num_tables), dtype=np.int64)
            for t, planes in enumerate(all_planes):
                for i, plane in enumerate(planes):
                    dot = np.zeros(m)
                    for d in range(dim):
                        dot = dot + x[:, d] * plane[d]
                    out[:, t] |= (dot >= 0).astype(np.int64) << i
            for j, k in enumerate(idx):
                res[k] = out[j]
        return pd.Series(res, dtype=object)

    fn = F.pandas_udf(_bk, "array<long>")
    v = F.col(vector_col).cast("array<double>")
    # NULL-element vectors lose the null/NaN distinction crossing
    # Arrow — guard in SQL so every table's bucket is NULL exactly
    # like the codegen fold (element_at on the NULL array yields the
    # NULL per-table bucket the old per-table columns carried)
    guard = (F.size(v) == F.lit(dim)) & ~F.exists(
        v, lambda x: x.isNull()
    )
    return F.when(guard, fn(v)).otherwise(
        F.lit(None).cast("array<long>")
    )


def _hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]


def lsh_bucket(
    vector: Column, dim: int, num_planes: int = 16, seed: int = 42
) -> Column:
    """Random-hyperplane LSH bucket id: one sign bit per plane.

    Cosine-similar vectors land in the same bucket with probability
    ``(1 - θ/π)^num_planes``. Codegen-only (literal plane arrays)."""
    v = vector.cast("array<double>")
    planes = _hyperplanes(dim, num_planes, seed)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = (dot_double(v, p) >= 0).cast("long")
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return bucket


def lsh_bucketed_pairs(
    df: DataFrame,
    id_col: str,
    vector_col: str,
    dim: int,
    threshold: float,
    num_planes: int = 16,
    num_tables: int = 4,
    seed: int = 42,
    impl: str = "arrow",
) -> DataFrame:
    """Sub-quadratic similar-pairs: bucket by random hyperplanes in
    ``num_tables`` independent tables, self-join within buckets, then
    verify candidates with exact cosine. Shuffles on the bucket id —
    never materializes the full cross product.

    ``impl``: candidate verification kernel. ``"arrow"`` (default) is
    the vectorized batch cosine — bit-identical to the fold (see
    :func:`_pair_cosine_arrow`) at ~100× the throughput, which matters
    because candidates ≈ Σ bucket² can be orders of magnitude larger
    than the true pair set. ``"codegen"`` is the JVM-side fold, kept
    as the reference the Arrow kernel is tested bit-identical against.

    Plan shape: a low-partition input (one parquet file) would pin
    the bucket computation to one core, so small inputs are spread to
    the default parallelism first; the banded frame is persisted so
    the self-join's two sides don't each recompute the bucket ids
    (a self-join re-evaluates its subtree per side)."""
    spread = df
    if df.rdd.getNumPartitions() < (
        par := df.sparkSession.sparkContext.defaultParallelism
    ):
        spread = df.repartition(par)
    if impl == "arrow":
        bks = _lsh_buckets_arrow(
            vector_col, dim, num_planes, num_tables, seed
        )
        all_buckets = spread.select(
            F.col(id_col),
            F.col(vector_col).alias("__v"),
            F.posexplode(bks).alias("__table", "__bucket"),
        )
    else:
        tables = []
        for t in range(num_tables):
            b = spread.select(
                F.col(id_col),
                F.col(vector_col).alias("__v"),
                lsh_bucket(
                    F.col(vector_col), dim, num_planes, seed + t
                ).alias("__bucket"),
                F.lit(t).alias("__table"),
            )
            tables.append(b)
        all_buckets = tables[0]
        for b in tables[1:]:
            all_buckets = all_buckets.unionByName(b)
    all_buckets = all_buckets.persist(StorageLevel.MEMORY_AND_DISK)

    a = all_buckets.select(
        F.col(id_col).alias(f"{id_col}_a"),
        F.col("__v").alias("__va"),
        "__bucket",
        "__table",
    )
    b = all_buckets.select(
        F.col(id_col).alias(f"{id_col}_b"),
        F.col("__v").alias("__vb"),
        "__bucket",
        "__table",
    )
    cand = (
        a.join(b, on=["__table", "__bucket"])
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .select(f"{id_col}_a", f"{id_col}_b", "__va", "__vb")
        .dropDuplicates([f"{id_col}_a", f"{id_col}_b"])
    )
    if impl == "arrow":
        sim = _pair_cosine_arrow(cand, "__va", "__vb")
    else:
        sim = cosine_double(
            F.col("__va").cast("array<double>"),
            F.col("__vb").cast("array<double>"),
        )
    scored = cand.select(f"{id_col}_a", f"{id_col}_b", sim.alias("sim"))
    return scored.filter(F.col("sim") >= threshold)


def group_centroids(
    df: DataFrame, group_col: str, vec_col: str, dim: int
) -> DataFrame:
    """Per-group mean vector (class prototype; the E-step of k-means;
    the cluster summary SemDeDup-style curation scores against).

    All ``dim`` dimension sums run in ONE aggregate node — map-side
    partials, one Exchange carrying a single row per group. Sums
    accumulate in DECIMAL (exact, order-independent) and the final
    division is fixed-order IEEE, so centroids are bit-reproducible
    across partitionings and replayable by an independent engine."""
    v = F.col(vec_col)
    sums = [
        F.sum(v[i].cast("decimal(27,18)")).cast("double").alias(f"__s{i}")
        for i in range(dim)
    ]
    agg = df.groupBy(group_col).agg(
        *sums, F.count(F.lit(1)).alias("__n")
    )
    centroid = F.array(
        *[F.col(f"__s{i}") / F.col("__n") for i in range(dim)]
    )
    return agg.select(group_col, centroid.alias("centroid"))


def prototypicality(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    dim: int,
    out_col: str = "proto_sim",
) -> DataFrame:
    """Cosine similarity of each vector to its group centroid — the
    prototype-distance curation signal (SemDeDup keeps/drops by
    distance to the cluster centroid; low scorers are outliers or
    mislabeled examples).

    The centroid frame is one row per group — broadcast; the scoring
    itself is a codegen fold per row. No shuffle beyond the centroid
    aggregate's own."""
    cents = group_centroids(df, group_col, vec_col, dim)
    out = df.join(F.broadcast(cents), on=group_col)
    return out.withColumn(
        out_col, cosine_double(F.col(vec_col), F.col("centroid"))
    ).drop("centroid")


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_width: int = 3,
    impl: str = "arrow",
) -> DataFrame:
    """EXACT all-pairs set-similarity join via prefix filtering
    (PPJoin family — Xiao et al. 2008, "Efficient Similarity Joins
    for Near Duplicate Detection"): every document pair whose shingle
    sets have Jaccard ≥ ``threshold``, with NO false negatives — the
    exact complement to MinHash-LSH banding (which trades recall for
    speed) when dedup must be provably complete.

    Prefix-filter principle: order every set by ascending global
    token frequency (rarest first, ties by value); a set of size s
    keeps a prefix of its first ``s − ⌈t·s⌉ + 1`` tokens. Two sets
    with Jaccard ≥ t MUST share at least one prefix token, so
    candidates are pairs meeting on a prefix-token key — the join
    runs over rare tokens (a token's candidate contribution is
    quadratic in its prefix df, and frequent tokens fall out of
    prefixes), not over the full posting lists. Candidates then
    verify by exact intersection.

    Scale shape: one df-count aggregate, one per-doc sort of its own
    tokens (no global sort), a prefix-token hash self-join, and a
    verification join fetching the two sets per surviving candidate.
    Where LSH shuffles (id, band) rows, this shuffles (id,
    prefix-token) rows — more selective at high thresholds. Hot
    prefix tokens fall under AQE skew splitting. Jaccard is one exact
    integer division — bit-identical everywhere, no rounding.

    The candidate join applies PPJoin's LENGTH filter (inside the
    join: ``min(|a|,|b|) ≥ t·max(|a|,|b|)``) and POSITIONAL filter
    (after the per-pair min-position aggregate: the first shared
    prefix token bounds the reachable overlap by
    ``1 + min(|a|−pa, |b|−pb)``, which must reach
    ``t/(1+t)·(|a|+|b|)``). Both are conservative (1e-9 slack, no
    false negatives) and matter most on DENSE corpora — small token
    universes where prefix selectivity alone collapses toward the
    quadratic posting product.

    ``impl`` names the hash family: "arrow" (SipHash shingle kernel,
    production) or "poly" (SQL-replayable family — the oracle path).
    """
    family = hash_family(impl)
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = family.shingle_hashes(F.col(text_col), shingle_width)
    sets = (
        df.select(F.col(id_col), F.array_distinct(sh).alias("__set"))
        .filter(F.size("__set") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    toks = sets.select(id_col, F.explode("__set").alias("__tok"))
    dfc = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    ordered = (
        toks.join(dfc, "__tok")
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("__df", "__tok"))
            ).alias("__o")
        )
        .select(
            id_col,
            F.transform("__o", lambda x: x.getField("__tok")).alias(
                "__o"
            ),
        )
    )
    s = F.size("__o")
    plen = s - F.ceil(F.lit(float(threshold)) * s) + 1
    # positions (1-based, df-order) and set sizes ride the prefix
    # rows: they power the LENGTH and POSITIONAL filters below, which
    # keep candidate generation sub-quadratic even on dense corpora
    # (small token universes — prefix selectivity alone collapses
    # there; measured 107M -> ~40M candidate rows on a 10x sweep)
    prefixes = ordered.select(
        id_col,
        s.alias("__n"),
        F.posexplode(F.slice("__o", F.lit(1), plen)).alias(
            "__p", "__tok"
        ),
    )
    a = prefixes.select(
        F.col(id_col).alias("__ida"),
        F.col("__n").alias("__na"),
        (F.col("__p") + 1).alias("__pa"),
        "__tok",
    )
    b = prefixes.select(
        F.col(id_col).alias("__idb"),
        F.col("__n").alias("__nb"),
        (F.col("__p") + 1).alias("__pb"),
        "__tok",
    )
    t = float(threshold)
    eps = 1e-9  # conservative: never prune a boundary-exact pair
    # length filter: Jaccard >= t forces min(|a|,|b|) >= t*max(|a|,|b|)
    len_ok = F.least("__na", "__nb").cast("double") >= F.lit(t) * (
        F.greatest("__na", "__nb").cast("double")
    ) - F.lit(eps)
    raw = (
        a.join(b, "__tok")
        .filter((F.col("__ida") < F.col("__idb")) & len_ok)
        .groupBy("__ida", "__idb")
        .agg(
            # both arrays share the one global (df, token) sort, so
            # the first shared token in a IS the first shared in b:
            # min positions pair up and bound the total overlap
            F.min("__pa").alias("__pa0"),
            F.min("__pb").alias("__pb0"),
            F.first("__na").alias("__na"),
            F.first("__nb").alias("__nb"),
        )
    )
    # positional filter: overlap <= 1 + min(|a|-pa0, |b|-pb0); a true
    # pair needs overlap >= t/(1+t) * (|a|+|b|)
    alpha = (
        F.lit(t / (1.0 + t))
        * (F.col("__na") + F.col("__nb")).cast("double")
    )
    ubound = 1 + F.least(
        F.col("__na") - F.col("__pa0"), F.col("__nb") - F.col("__pb0")
    )
    cand = raw.filter(
        ubound.cast("double") >= alpha - F.lit(eps)
    ).select("__ida", "__idb")
    sa = sets.select(
        F.col(id_col).alias("__ida"), F.col("__set").alias("__sa")
    )
    sb = sets.select(
        F.col(id_col).alias("__idb"), F.col("__set").alias("__sb")
    )
    # materialize the intersection size in its own projection — the
    # jaccard expression reads it twice and Spark does not CSE an
    # array_intersect subtree shared across output expressions
    paired = (
        cand.join(sa, "__ida")
        .join(sb, "__idb")
        .select(
            "__ida",
            "__idb",
            F.size(F.array_intersect("__sa", "__sb")).alias("__i"),
            F.size("__sa").alias("__na"),
            F.size("__sb").alias("__nb"),
        )
    )
    jac = F.col("__i").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__i")
    )
    return paired.select(
        F.col("__ida").alias(f"{id_col}_a"),
        F.col("__idb").alias(f"{id_col}_b"),
        jac.alias("jaccard"),
    ).filter(F.col("jaccard") >= float(threshold))


def retrieval_metrics(
    truth: DataFrame,
    retrieved: DataFrame,
    query_col: str,
    item_col: str,
    score_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-query retrieval quality — the evaluation harness for the
    ANN paths (IVF probes, LSH buckets) against exact ground truth:
    given ``truth`` (query, relevant item) pairs and a scored
    ``retrieved`` list, emit per query

        (query, n_truth, n_hits, recall_at_k, mrr)

    where hits are truth items appearing in the top ``k`` by
    (score DESC, item id) and MRR uses the first (best-ranked) hit.
    Queries with truth but NO retrieved rows still appear (zero
    recall) — silent query dropout is the classic eval bug.

    Scale shape: one ranking window partitioned by query (top-k
    pre-truncation keeps the join small), one left join on
    (query, item), one per-query aggregate. Metrics are exact integer
    ratios — single IEEE divisions, engine-independent."""
    # duplicate (query, item) retrieved rows (e.g. the same neighbor
    # surfacing from several LSH tables) would burn top-k slots AND
    # fan out the truth join, corrupting every denominator — dedupe
    # to each item's best score BEFORE ranking, and distinct the
    # truth side before counting it
    best = retrieved.groupBy(query_col, item_col).agg(
        F.max(score_col).alias("__score")
    )
    w = W.partitionBy(query_col).orderBy(
        F.col("__score").desc(), F.col(item_col)
    )
    ranked = (
        best.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(query_col, item_col, "__rk")
    )
    j = truth.select(query_col, item_col).distinct().join(
        ranked, [query_col, item_col], "left"
    )
    agg = j.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.count("__rk").alias("n_hits"),
        F.min("__rk").alias("__first"),
    )
    return agg.select(
        query_col,
        "n_truth",
        "n_hits",
        (F.col("n_hits").cast("double") / F.col("n_truth")).alias(
            "recall_at_k"
        ),
        F.when(
            F.col("__first").isNotNull(),
            F.lit(1.0) / F.col("__first"),
        )
        .otherwise(F.lit(0.0))
        .alias("mrr"),
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) — the compression stage of IVF-PQ, the
# standard web-scale ANN posture (Jégou et al., "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011; reference's LanceDB backend
# exposes the same index family). Vectors are L2-normalized, split
# into M subspaces, and each subspace is vector-quantized against its
# own K-entry codebook — a D-dim float vector becomes M small codes
# (64 floats -> 8 bytes at M=8), so the scan reads ~3% of the bytes
# and scoring is M table lookups instead of D multiplies.
# ---------------------------------------------------------------------------


def _pq_normalize(v):
    import numpy as np

    n = np.linalg.norm(v, axis=-1, keepdims=True)
    n[n == 0] = 1.0
    return v / n


def pq_train(
    corpus: DataFrame,
    vector_col: str,
    m: int = 8,
    k: int = 256,
    sample: int = 50_000,
    seed: int = 42,
    iters: int = 15,
    normalize: bool = True,
):
    """Train M sub-quantizer codebooks -> float64 array (m, k, d/m).

    Codebooks train on a BOUNDED, deterministic sample (ordered
    column-1 hash, ``limit sample``) with seeded Lloyd iterations —
    the standard practice at any corpus size: quantizer quality
    saturates long before the sample does, so training cost is
    independent of the 100 TB corpus; only ENCODING touches every
    row. Empty clusters re-seed deterministically from the farthest
    points."""
    import numpy as np

    rows = (
        corpus.select(F.col(vector_col).alias("v"))
        .orderBy(F.xxhash64(F.col("v").cast("array<double>").cast("string"), F.lit(seed)))
        .limit(sample)
        .collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    if normalize:
        x = _pq_normalize(x)
    n, d = x.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    k = min(k, n)
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, dsub))
    for mi in range(m):
        sub = x[:, mi * dsub : (mi + 1) * dsub]
        cent = sub[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for ci in range(k):
                mask = assign == ci
                if mask.any():
                    cent[ci] = sub[mask].mean(0)
                else:  # re-seed an empty cluster from the worst fit
                    cent[ci] = sub[d2.min(1).argmax()]
        books[mi] = cent
    return books


def pq_encode(
    corpus: DataFrame,
    id_col: str,
    vector_col: str,
    codebooks,
    normalize: bool = True,
) -> DataFrame:
    """Distributed encoding: each row's normalized vector becomes an
    M-code array (the only full-corpus pass PQ ever makes). Arrow-
    batched; the (m, k, dsub) codebook broadcasts in the closure."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    books = np.asarray(codebooks)
    m, _, dsub = books.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def _codes(vs):
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        if normalize:
            x = _pq_normalize(x)
        out = np.empty((len(x), m), dtype=np.int32)
        for mi in range(m):
            sub = x[:, mi * dsub : (mi + 1) * dsub]
            d2 = ((sub[:, None, :] - books[mi][None, :, :]) ** 2).sum(-1)
            out[:, mi] = d2.argmin(1)
        return pd.Series(list(out))

    return corpus.select(
        F.col(id_col).alias("id"), _codes(F.col(vector_col)).alias("__pq_code")
    )


def pq_topk_int(
    queries: DataFrame,
    codes: DataFrame,
    id_col: str,
    vector_col: str,
    codebooks,
    k: int = 10,
    scale: float = 1e9,
) -> DataFrame:
    """Pure-ADC top-k with ORDER-INDEPENDENT integer accumulation —
    the exactly-replayable twin of :func:`pq_topk` (no refine).

    :func:`pq_topk` sums float LUT entries in numpy axis order, so an
    independent replayer (the DuckDB oracle) summing the same entries
    in a different order can drift by ulps and flip near-tied ranks.
    Here every LUT entry quantizes to ``floor(sd * scale)`` as int64
    FIRST (the repo's scaled-integer-accumulation discipline — same
    trick as dHash/EWMA/PCA replay), and the per-row distance is a
    SUM of 16 int64s — exact and order-free, so any engine computing
    the same doubles reproduces the identical ranking. The doubles
    themselves are deterministic: query normalization and each
    sub-distance accumulate in explicit left-fold array order
    (driver-side python over the bounded query set — C doubles,
    bit-identical to DuckDB's ``list_reduce`` left fold, the
    established oracle-parity pattern of :func:`cosine_double`).

    Scoring keeps :func:`pq_topk`'s scale shape: each Arrow batch
    emits only its LOCAL top-k per query (total-ordered by
    ``(pq_dist, id)`` — with integer distances ties are COMMON, so
    the batch pre-reduction must honor the id tie-break, unlike the
    float path where argpartition's arbitrary tie handling is
    harmless), then a global window ranks the tiny survivor set.
    Returns ``(query_id, id, pq_dist, rank)`` with ``pq_dist`` the
    scaled integer distance, rank 1..k by (pq_dist asc, id asc).

    Rank parity with :func:`pq_topk` holds wherever two candidates'
    true distances differ by more than 1/scale — at the default 1e9
    the quantization error is ~1e-9 on O(1) normalized distances,
    far below codebook geometry; rows with IDENTICAL codes tie
    exactly and break by id in both."""
    import math

    import numpy as np
    import pandas as pd

    books = [
        [[float(x) for x in cw] for cw in book] for book in codebooks
    ]
    m = len(books)
    kc = len(books[0])
    dsub = len(books[0][0])
    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vector_col).alias("qv")
    ).collect()  # bounded query set — same convention as pq_topk
    # id dtypes follow the input frames (string/decimal ids work the
    # same as the float twin's) instead of a hardcoded `long`
    corpus_id_dt = codes.schema["id"].dataType.simpleString()
    query_id_dt = queries.schema[id_col].dataType.simpleString()
    qids = [r["qid"] for r in qrows]
    nq = len(qids)
    tables = np.zeros((nq, m, kc), dtype=np.int64)
    for qi, r in enumerate(qrows):
        raw = [float(v) for v in r["qv"]]
        acc = 0.0
        for v in raw:  # left fold, array order
            acc += v * v
        n = math.sqrt(acc)
        if n == 0.0:
            n = 1.0
        qv = [v / n for v in raw]
        for mi in range(m):
            sub = qv[mi * dsub : (mi + 1) * dsub]
            for j in range(kc):
                cent = books[mi][j]
                sd = 0.0
                for d in range(dsub):  # left fold, array order
                    diff = sub[d] - cent[d]
                    sd += diff * diff
                tables[qi, mi, j] = int(math.floor(sd * scale))

    spark = queries.sparkSession
    out_schema = f"qix int, id {corpus_id_dt}, pq_dist long"

    def _scan(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            c = np.asarray(list(pdf["__pq_code"]), dtype=np.int64)
            dist = np.zeros((nq, len(ids)), dtype=np.int64)
            for mi in range(m):
                dist += tables[:, mi, :][:, c[:, mi]]
            kk = min(k, len(ids))
            # total order (dist, id): a discarded row is STRICTLY
            # worse than every kept row, so the global rank can
            # never need it — even through integer ties
            res_q, res_i, res_d = [], [], []
            for qi in range(nq):
                o = np.lexsort((ids, dist[qi]))[:kk]
                res_q.extend([qi] * len(o))
                res_i.extend(ids[o])
                res_d.extend(dist[qi][o])
            yield pd.DataFrame(
                {"qix": res_q, "id": res_i, "pq_dist": res_d}
            )

    cand = codes.mapInPandas(_scan, out_schema)
    qmap = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qids)],
        f"qix int, query_id {query_id_dt}",
    )
    w = W.partitionBy("qix").orderBy(
        F.col("pq_dist").asc(), F.col("id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(F.broadcast(qmap), "qix")
        .select("query_id", "id", "pq_dist", "rank")
    )


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    id_col: str,
    vector_col: str,
    codebooks,
    k: int = 10,
    refine: int = 0,
    corpus_vectors: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: per query a tiny (m, kc)
    lookup table of sub-distances to every codebook entry is built
    once and broadcast; scoring a corpus row is M table lookups.
    Each Arrow batch emits only its LOCAL top-k per query, so the
    shuffle carries partitions x queries x k candidate rows, never
    the corpus — the per-partition-top-k-then-global pattern.
    Returns (query_id, id, pq_dist, rank) with rank 1..k by
    ascending quantized L2 on normalized vectors (= cosine order).

    ``refine > 0`` adds the standard exact re-rank stage: ADC
    shortlists ``k*refine`` candidates, then ``corpus_vectors``
    (``id_col``/``vector_col``) are point-looked-up for ONLY those
    ids (broadcast semi-join) and ranked by true cosine — recall
    approaches exact while the full-corpus pass still reads only
    codes."""
    import numpy as np
    import pandas as pd

    books = np.asarray(codebooks)
    m, kc, dsub = books.shape
    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vector_col).alias("qv")
    ).collect()  # bounded query set — same convention as eval_ann_recall
    qids = [r["qid"] for r in qrows]
    qx = _pq_normalize(
        np.asarray([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    )
    nq = len(qids)
    tables = np.empty((nq, m, kc))
    for mi in range(m):
        qsub = qx[:, mi * dsub : (mi + 1) * dsub]
        tables[:, mi, :] = (
            (qsub[:, None, :] - books[mi][None, :, :]) ** 2
        ).sum(-1)

    spark = queries.sparkSession
    out_schema = "qix int, id long, pq_dist double"
    cand_k = k * refine if refine else k

    def _scan(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            c = np.asarray(list(pdf["__pq_code"]), dtype=np.int64)
            # dist[q, row] = sum_m tables[q, m, c[row, m]]
            dist = np.zeros((nq, len(ids)))
            for mi in range(m):
                dist += tables[:, mi, :][:, c[:, mi]]
            kk = min(cand_k, len(ids))
            top = np.argpartition(dist, kk - 1, axis=1)[:, :kk]
            res = {
                "qix": np.repeat(np.arange(nq), kk),
                "id": ids[top].ravel(),
                "pq_dist": np.take_along_axis(dist, top, 1).ravel(),
            }
            yield pd.DataFrame(res)

    cand = codes.mapInPandas(_scan, out_schema)
    qmap = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qids)], "qix int, query_id long"
    )
    w = W.partitionBy("qix").orderBy(F.col("pq_dist").asc(), F.col("id").asc())
    shortlist = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= cand_k)
        .join(F.broadcast(qmap), "qix")
    )
    if not refine:
        return shortlist.select("query_id", "id", "pq_dist", "rank")
    if corpus_vectors is None:
        raise ValueError("refine > 0 needs corpus_vectors")
    qvec = spark.createDataFrame(
        [(i, [float(v) for v in qx[i]]) for i in range(nq)],
        "qix int, __qv array<double>",
    )
    cands = shortlist.select("qix", "query_id", "id")
    vecs = corpus_vectors.select(
        F.col(id_col).alias("id"),
        F.col(vector_col).cast("array<double>").alias("__cv"),
    ).join(
        cands.select("id").distinct(), "id", "left_semi"
    )  # point lookups: only shortlisted ids leave the corpus scan
    scored = (
        cands.join(vecs, "id")
        .join(F.broadcast(qvec), "qix")
        .select(
            "query_id",
            "id",
            cosine_double(F.col("__qv"), F.col("__cv")).alias("sim"),
        )
    )
    rw = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "sim", "rank")
    )
