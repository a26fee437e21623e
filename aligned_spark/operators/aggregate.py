"""Aggregation operators: plain group-by, rolling event-time windows,
hopping windows, and PIT-windowed aggregation over fact timestamps.

Reference surface (SURVEY.md §2.5): Sum/Mean/Min/Max/Count/
CountDistinct/Std/Variance/Median/Percentile/ConcatString aggregation
expressions (``aligned/schemas/transformation.py:2353-2630``) driven by
``AggregateOver`` (``derivied_feature.py:92-108``) in three regimes
(``aligned/local/job.py:78-166, 366-402``).

Scale notes:
- plain group-by → one shuffle with map-side partial aggregation
  (free from Catalyst for all the sum/avg/count family).
- rolling windows → ``Window.rangeBetween`` over the event-time long
  value: one shuffle on the entity keys, one sort; state is bounded
  by the window, Spark streams the frame.
- hopping windows → ``F.window(ts, period, every)`` group-by — this is
  the same shuffle as plain group-by, NOT a per-row window.
- exact median/percentile use ``F.percentile`` (Spark 3.4+);
  ``approx=True`` switches to ``percentile_approx`` which at 100 TB is
  the right default for dashboards (single-pass sketch).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Literal

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from aligned_spark.expr import Expr
from aligned_spark.operators.joins import _widened_key_casts, pit_union_pass

AggKind = Literal[
    "sum",
    "mean",
    "min",
    "max",
    "count",
    "count_distinct",
    "std",
    "variance",
    "median",
    "percentile",
    "concat_string",
    "first",
    "last",
    "collect_list",
    "collect_set",
]


@dataclass
class AggSpec:
    """One aggregated output column.

    ``approx=True`` opts THIS spec into the sketch form of its kind
    — HLL++ ``approx_count_distinct`` (tunable ``rsd``, Spark default
    0.05) or ``percentile_approx`` (tunable ``accuracy``, default
    10000) — so a single aggregation can mix exact sums with sketched
    distincts. Exact stays the default; the per-call ``approx``
    argument on the regime functions force-sketches every spec (the
    100 TB dashboard mode)."""

    name: str
    kind: AggKind
    column: str | Expr | Column | None = None  # None only for count
    percentile: float | None = None
    separator: str = ""
    approx: bool = False
    rsd: float | None = None       # approx_count_distinct max rel. std dev
    accuracy: int | None = None    # percentile_approx accuracy knob
    # exact median/percentile WITHOUT the per-group value buffer, via
    # the distributed counting census (exact_percentiles_counting) —
    # requires grid-valued columns (exact at 1/counting_scale) and
    # grouping keys; ignored for other kinds / approx specs
    counting: bool = False
    counting_scale: float = 1e4

    def _source(self) -> Column:
        if self.column is None:
            return F.lit(1)
        if isinstance(self.column, Column):
            return self.column
        if isinstance(self.column, Expr):
            return self.column.to_spark()
        return F.col(self.column)

    def is_approx(self, approx: bool = False) -> bool:
        return approx or self.approx

    def to_agg_column(self, approx: bool = False) -> Column:
        return self.to_raw_agg(approx).alias(self.name)

    def to_raw_agg(self, approx: bool = False) -> Column:
        """The aggregate expression WITHOUT the output alias — usable
        both as a groupBy agg (then ``.alias``) and as a window
        function (``.over(w)``; Spark rejects ``.over`` on an aliased
        column)."""
        c = self._source()
        ap = self.is_approx(approx)
        match self.kind:
            case "sum":
                out = F.sum(c)
            case "mean":
                out = F.avg(c)
            case "min":
                out = F.min(c)
            case "max":
                out = F.max(c)
            case "count":
                out = F.count(F.lit(1)) if self.column is None else F.count(c)
            case "count_distinct":
                if ap:
                    out = (
                        F.approx_count_distinct(c, self.rsd)
                        if self.rsd is not None
                        else F.approx_count_distinct(c)
                    )
                else:
                    out = F.countDistinct(c)
            case "std":
                out = F.stddev(c)
            case "variance":
                out = F.variance(c)
            case "median":
                out = (
                    self._pct_approx(c, 0.5)
                    if ap
                    else F.percentile(c, F.lit(0.5))
                )
            case "percentile":
                q = self.percentile if self.percentile is not None else 0.5
                out = (
                    self._pct_approx(c, q)
                    if ap
                    else F.percentile(c, F.lit(q))
                )
            case "concat_string":
                out = F.concat_ws(self.separator, F.collect_list(c.cast("string")))
            case "first":
                out = F.first(c, ignorenulls=True)
            case "last":
                out = F.last(c, ignorenulls=True)
            case "collect_list":
                out = F.collect_list(c)
            case "collect_set":
                out = F.collect_set(c)
            case _:
                raise ValueError(f"unknown aggregation kind {self.kind!r}")
        return out

    def _pct_approx(self, c: Column, q: float) -> Column:
        if self.accuracy is not None:
            return F.percentile_approx(c, q, self.accuracy)
        return F.percentile_approx(c, q)


def top_frequent(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k: int,
) -> DataFrame:
    """Exact per-key top-``k`` most frequent values — the batch twin
    of the streaming Misra-Gries summary
    (:func:`aligned_spark.streaming.stateful.heavy_hitters`): same
    question ("which values dominate each key?"), exact answer when
    the data is at rest.

    Plan: count per (keys, value) — ONE shuffle with map-side
    partials, state bounded by distinct values — then a
    ``row_number`` window partitioned BY THE KEYS over the
    group-cardinality-sized count frame (not the raw data).
    Deterministic tiebreak: (count desc, value asc). Output:
    ``keys…, value, n_occurrences, rank``."""
    counted = df.groupBy(*keys, F.col(value_col).alias("value")).agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    w = W.partitionBy(*keys).orderBy(
        F.col("n_occurrences").desc(), F.col("value").asc()
    )
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def exact_percentiles_counting(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    percentiles: list[float],
    scale: float = 1e4,
    prefix: str = "p",
) -> DataFrame:
    """EXACT linear-interpolated percentiles per group WITHOUT the
    per-group value buffer of ``F.percentile`` — the 100 TB shape for
    exact quantiles over grid-valued columns (prices, counts, scores
    rounded to a fixed precision).

    ``F.percentile`` collects every value of a group into one
    aggregation state: with 3 groups over a corpus, 3 tasks hold and
    sort everything. Here the heavy pass is a fully distributed
    count keyed (group, scaled value) with map-side partials; only
    the (value, count) census — bounded by the value grid, not the
    row count — feeds a per-group cumulative rank, and the k-th /
    (k+1)-th bracketing values interpolate exactly like
    ``quantile_cont``. NULLs are excluded (SQL semantics); empty
    groups produce no row.

    Contract: values must lie exactly on the ``1/scale`` grid (e.g.
    4-decimal money at the default 1e4) — ``floor(v·scale + 0.5)``
    then ``/scale`` round-trips such doubles bit-exactly. Output
    columns ``{prefix}{p}`` with '.' → '_' (e.g. ``p0_9``)."""
    v = F.col(value_col).cast("double")
    sv = F.floor(v * F.lit(scale) + F.lit(0.5)).cast("long")
    cnt = (
        df.filter(v.isNotNull())
        .groupBy(*keys, sv.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = (
        W.partitionBy(*keys)
        .orderBy("__v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot_w = W.partitionBy(*keys)
    cum = cnt.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__n", F.sum("__c").over(tot_w)
    )
    aggs = []
    names = []
    for p in percentiles:
        name = f"{prefix}{p}".replace(".", "_")
        names.append(name)
        k = (F.col("__n") - F.lit(1)) * F.lit(float(p))
        kf = F.floor(k)
        g = k - kf
        lo = F.min(F.when(F.col("__cum") >= kf + 1, F.col("__v")))
        hi = F.min(F.when(F.col("__cum") >= kf + 2, F.col("__v")))
        aggs.append(lo.alias(f"__lo_{name}"))
        aggs.append(hi.alias(f"__hi_{name}"))
        aggs.append(F.max(g).alias(f"__g_{name}"))
    out = cum.groupBy(*keys).agg(*aggs)
    cols = list(keys)
    for name in names:
        lo = F.col(f"__lo_{name}").cast("double") / F.lit(scale)
        hi = (
            F.coalesce(F.col(f"__hi_{name}"), F.col(f"__lo_{name}")).cast(
                "double"
            )
            / F.lit(scale)
        )
        g = F.col(f"__g_{name}")
        # (1-g)·lo + g·hi, NOT lo + (hi-lo)·g: matches quantile_cont /
        # F.percentile bit-for-bit (the forms differ in the last ulp)
        cols.append(((F.lit(1.0) - g) * lo + g * hi).alias(name))
    return out.select(*cols)


def custom_aggregate(
    df: DataFrame,
    keys: list[str],
    fn,
    output_schema,
) -> DataFrame:
    """Custom aggregation escape hatch
    (``polars_aggregation_using_features``,
    ``aligned/compiler/feature_factory.py:731-757``): ``fn`` receives
    each group as a pandas DataFrame and returns a (usually 1-row)
    pandas DataFrame matching ``output_schema``.

    ``applyInPandas``: one shuffle on the keys, Arrow-batched group
    delivery. The whole group must fit in executor memory — for
    unbounded groups prefer composing built-in aggregates."""
    return df.groupBy(*keys).applyInPandas(fn, schema=output_schema)


def _percentile_fused(
    specs: list[AggSpec],
) -> tuple[dict[int, Column], list[list[AggSpec]]]:
    """Fuse exact median/percentile specs sharing a source column into
    ONE ``percentile(c, array(q1, q2, …))`` call (one sort buffer per
    group instead of one per spec), unpacked with ``element_at``."""
    by_src: dict[str, list[tuple[int, AggSpec, float]]] = {}
    for i, a in enumerate(specs):
        if a.kind in ("median", "percentile") and not a.approx:
            col_key = a.column if isinstance(a.column, str) else f"#{i}"
            p = 0.5 if a.kind == "median" else (a.percentile or 0.5)
            by_src.setdefault(col_key, []).append((i, a, p))
    out: dict[int, Column] = {}
    groups: list[list[AggSpec]] = []
    for members in by_src.values():
        if len(members) < 2:
            continue
        qs = F.array(*[F.lit(p) for _, _, p in members])
        fused = F.percentile(members[0][1]._source(), qs)
        for j, (i, a, _) in enumerate(members):
            out[i] = F.element_at(fused, j + 1).alias(a.name)
        groups.append([a for _, a, _ in members])
    return out, groups


def group_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: list[AggSpec],
    approx: bool = False,
) -> DataFrame:
    """Plain entity group-by (``aligned/local/job.py:78-95``).

    Plan hygiene for mixed spec lists:

    - Exact ``count_distinct`` alongside sort-buffered aggregates
      (median/percentile/collect) is planned by Spark's
      distinct-rewrite with the FIRST partial stage keyed on
      ``(keys…, distinct_col)`` — one percentile buffer PER DISTINCT
      VALUE (measured 4-5× slower on 600k rows; unbounded memory at
      scale). We run the distinct specs as a separate aggregation and
      join back on the keys — a group-cardinality-sized, null-safe
      join, negligible next to the scan.
    - Several exact percentiles of the same column fuse into one
      ``percentile(c, array(…))`` buffer (measured ~1.6× on two).
    """
    counting_idx = [
        i
        for i, a in enumerate(aggs)
        if a.kind in ("median", "percentile")
        and a.counting
        and not a.is_approx(approx)
    ]
    if counting_idx and keys:
        rest_specs = [a for i, a in enumerate(aggs) if i not in counting_idx]
        out = (
            group_aggregate(df, keys, rest_specs, approx)
            if rest_specs
            else df.select(*keys).distinct()
        )
        # one census per distinct source column; specs sharing a
        # column share its counting pass
        by_col: dict[str, list[AggSpec]] = {}
        col_frames = []
        seen: dict[str, str] = {}
        work = df
        for i in counting_idx:
            key = str(aggs[i]._source())
            if key not in seen:
                seen[key] = f"__cnt_src_{len(seen)}"
                work = work.withColumn(seen[key], aggs[i]._source())
            by_col.setdefault(seen[key], []).append(aggs[i])
        for src_col, specs in by_col.items():
            ps = [
                (s.percentile if s.kind == "percentile" and
                 s.percentile is not None else 0.5)
                for s in specs
            ]
            uniq = sorted(set(ps))
            cf = exact_percentiles_counting(
                work, keys, src_col, uniq,
                scale=specs[0].counting_scale, prefix="__q",
            )
            renames = [F.col(k).alias(f"__k_{k}") for k in keys]
            vals = [
                F.col(f"__q{p}".replace(".", "_")).alias(s.name)
                for p, s in zip(ps, specs)
            ]
            col_frames.append(cf.select(*renames, *vals))
        for cf in col_frames:
            cond = None
            for k in keys:
                c = F.col(k).eqNullSafe(F.col(f"__k_{k}"))
                cond = c if cond is None else cond & c
            out = out.join(cf, cond, "left").drop(
                *[f"__k_{k}" for k in keys]
            )
        return out.select(*keys, *[a.name for a in aggs])

    fused, _ = {}, None
    if not approx:
        fused, _ = _percentile_fused(aggs)

    def col_for(i: int, a: AggSpec) -> Column:
        return fused.get(i, a.to_agg_column(approx))

    distinct_idx = [
        i
        for i, a in enumerate(aggs)
        if a.kind == "count_distinct" and not a.is_approx(approx)
    ]
    buffered = any(
        a.kind in ("collect_list", "collect_set", "concat_string")
        or (
            a.kind in ("median", "percentile") and not a.is_approx(approx)
        )
        for a in aggs
    )
    if keys and distinct_idx and buffered and len(distinct_idx) < len(aggs):
        rest = [
            col_for(i, a) for i, a in enumerate(aggs) if i not in distinct_idx
        ]
        dist = [aggs[i].to_agg_column(approx) for i in distinct_idx]
        left = df.groupBy(*keys).agg(*rest)
        # rename the right side's keys: both branches descend from the
        # same scan, so joining on the shared attribute would resolve
        # to a trivially-true self-comparison
        right = df.groupBy(*keys).agg(*dist).select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            *[aggs[i].name for i in distinct_idx],
        )
        cond = None
        for k in keys:
            c = F.col(k).eqNullSafe(F.col(f"__k_{k}"))
            cond = c if cond is None else cond & c
        joined = left.join(right, cond, "inner").drop(
            *[f"__k_{k}" for k in keys]
        )
        return joined.select(*keys, *[a.name for a in aggs])
    cols = [col_for(i, a) for i, a in enumerate(aggs)]
    if keys:
        return df.groupBy(*keys).agg(*cols)
    return df.agg(*cols)


def rolling_aggregate(
    df: DataFrame,
    keys: list[str],
    ts: str,
    window_seconds: float,
    aggs: list[AggSpec],
    approx: bool = False,
) -> DataFrame:
    """Per-row trailing window ``[ts - w, ts]`` within entity
    (``local/job.py:97-120`` — Polars ``rolling``).

    ``Window.rangeBetween`` over unix micros. ``count_distinct``,
    ``median``/``percentile`` (exact) are not supported by Spark over
    a moving frame; exact forms raise, approx percentile works.
    """
    # materialize the order key ONCE: identical window specs fuse into
    # a single Window operator with ONE sort; a fresh unix_micros(...)
    # per agg would plan one Sort+Window pair per aggregation
    out = df.withColumn("__ord", F.unix_micros(F.col(ts)))
    w = (
        W.partitionBy(*keys)
        .orderBy(F.col("__ord"))
        .rangeBetween(-int(window_seconds * 1_000_000), 0)
    )
    for a in aggs:
        if a.kind == "count_distinct" and not a.is_approx(approx):
            # exact distinct over a moving frame: collect_set size
            out = out.withColumn(a.name, F.size(F.array_distinct(F.collect_list(a._source()).over(w))))
            continue
        out = out.withColumn(a.name, a.to_raw_agg(approx=approx).over(w))
    return out.drop("__ord")


def hopping_aggregate(
    df: DataFrame,
    keys: list[str],
    ts: str,
    every_seconds: float,
    period_seconds: float,
    aggs: list[AggSpec],
    offset_seconds: float = 0.0,
    approx: bool = False,
    stamp: Literal["end", "start"] = "end",
) -> DataFrame:
    """Discrete hopping windows stamped at window end
    (``group_by_dynamic`` port, ``local/job.py:121-144``;
    ``offset_interval`` shifts the stamp ``:143-144``)."""
    win = F.window(
        F.col(ts),
        windowDuration=f"{period_seconds} seconds",
        slideDuration=f"{every_seconds} seconds",
    )
    grouped = df.groupBy(*keys, win.alias("__w")).agg(
        *[a.to_agg_column(approx) for a in aggs]
    )
    stamp_col = F.col("__w.end") if stamp == "end" else F.col("__w.start")
    if offset_seconds:
        stamp_col = F.timestamp_micros(
            F.unix_micros(stamp_col) + int(offset_seconds * 1_000_000)
        )
    return grouped.withColumn(ts, stamp_col).drop("__w")


#: kinds a trailing RANGE frame computes exactly (mean through Spark's
#: sum+count ``avg``); the others need the join formulation
STREAM_KINDS = frozenset({"sum", "mean", "min", "max", "count"})


def pit_window_aggregate(
    facts: DataFrame,
    features: DataFrame,
    entities: list[str],
    fact_ts: str,
    feature_ts: str,
    window_seconds: float | None,
    aggs: list[AggSpec],
    approx: bool = False,
) -> DataFrame:
    """Windowed aggregation *as of each fact row*
    (``aggregate_over``, ``local/job.py:366-402``): for every fact row
    aggregate feature rows in ``[fact_ts - w, fact_ts]`` per entity.

    Streamable kinds (``STREAM_KINDS``) run in the shared point-in-time
    pass (:func:`~aligned_spark.operators.joins.pit_union_pass`): union
    facts+features per entity, order by time, and evaluate a trailing
    range window AT the fact rows — one shuffle, one sort, one Window,
    no join explosion (the join+filter+groupBy formulation would
    materialize every (fact, feature-in-window) pair). Keys widen to a
    common type, as in ``pit_join``. ``ContractStore.features_for``
    computes a view's as-of columns in the same pass.

    Other kinds fall back to the join formulation, exact for every
    kind. Output: the fact columns, then one column per spec.
    """
    if not all(a.kind in STREAM_KINDS for a in aggs):
        return _pit_window_aggregate_join(
            facts, features, entities, fact_ts, feature_ts, window_seconds, aggs, approx
        )
    return pit_union_pass(
        facts,
        features,
        entities,
        fact_ts,
        feature_ts,
        payload_cols=[],
        windowed=[(a, window_seconds) for a in aggs],
    )


def _pit_window_aggregate_join(
    facts: DataFrame,
    features: DataFrame,
    entities: list[str],
    fact_ts: str,
    feature_ts: str,
    window_seconds: float | None,
    aggs: list[AggSpec],
    approx: bool,
) -> DataFrame:
    """Join formulation: join features in-window per fact row, then
    groupBy row_id — exact for every agg kind, candidate-set bounded
    by the window length. Keys compare at their widened common type,
    as on the as-of and streamed paths."""
    fact_casts, features = _widened_key_casts(facts, features, entities)
    fact_cols = facts.columns
    f = facts.select(
        F.monotonically_increasing_id().alias("__row_id"),
        *[F.col(c).alias(f"__f_{c}") for c in fact_cols],
    )
    feat = features.select(
        *[F.col(k).alias(f"__k_{k}") for k in entities],
        F.col(feature_ts).alias("__feat_ts"),
        *[
            F.col(c)
            for c in features.columns
            if c not in set(entities) | {feature_ts}
        ],
    )
    cond = None
    for k in entities:
        fk = F.col(f"__f_{k}")
        if k in fact_casts:
            fk = fk.cast(fact_casts[k])
        c = fk == F.col(f"__k_{k}")
        cond = c if cond is None else cond & c
    ts_ok = F.col("__feat_ts") <= F.col(f"__f_{fact_ts}")
    if window_seconds is not None:
        ts_ok = ts_ok & (
            F.unix_micros(F.col(f"__f_{fact_ts}")) - F.unix_micros(F.col("__feat_ts"))
            <= int(window_seconds * 1_000_000)
        )
    joined = f.join(feat, cond & ts_ok, "left")

    def agg_col(a: AggSpec) -> Column:
        if a.kind == "count" and a.column is None:
            # count matched feature rows only: a no-match left-join row
            # has NULL __feat_ts and must count as zero
            return F.count(F.col("__feat_ts")).alias(a.name)
        return a.to_agg_column(approx)

    agged = joined.groupBy("__row_id").agg(
        *[F.first(F.col(f"__f_{c}")).alias(c) for c in fact_cols],
        *[agg_col(a) for a in aggs],
    )
    return agged.drop("__row_id")


def hash_sampled_distinct(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    log2_inv_p: int = 4,
) -> DataFrame:
    """Approximate per-group distinct count via DETERMINISTIC
    hash-threshold sampling — the bottom-p theta-sketch idea
    (Flajolet's adaptive-sampling family): a value is retained iff
    ``hash(value) < t`` where ``t = P//2^log2_inv_p``, so every
    worker keeps the SAME p-fraction of the value space with no
    coordination, retained sets are trivially mergeable (set union),
    and ``distinct_retained / p`` estimates the true cardinality.

    Returns ``(keys..., n_sampled, est_distinct)``.

    Scale design (100 TB): the threshold filter runs BEFORE the
    distinct shuffle, so the exchange carries only the p-fraction of
    (keys, value) pairs — a 2^log2_inv_p-fold shuffle reduction over
    exact count-distinct — and the distinct itself map-side-combines.
    State per group is bounded by p x cardinality, never by row
    count. Unlike HLL (``approx_count_distinct``), the estimate is a
    pure deterministic dataflow: the hash is a Mersenne-31 affine
    fold, so an independent SQL engine replays it bit-for-bit.

    ``value_col`` must be a non-negative integral column (ids); the
    affine hash ``((x % P) * A + B) % P`` stays inside signed-64
    arithmetic, JVM-codegen on the Spark side. Reference capability:
    none (beyond-reference surface; the reference has no sketches).
    """
    if not 1 <= log2_inv_p <= 24:
        raise ValueError(
            f"log2_inv_p must be in [1, 24], got {log2_inv_p}"
        )
    P = (1 << 31) - 1  # Mersenne prime, products fit signed-64
    A, B = 1_103_515_245, 12_345
    t = P >> log2_inv_p
    h = F.pmod(
        F.pmod(F.col(value_col).cast("long"), F.lit(P)) * F.lit(A)
        + F.lit(B),
        F.lit(P),
    )
    kept = df.filter(h < F.lit(t)).select(*keys, F.col(value_col))
    agged = kept.groupBy(*keys).agg(
        F.count_distinct(F.col(value_col)).alias("n_sampled")
    )
    est = (
        F.col("n_sampled").cast("double") * F.lit(float(P))
    ) / F.lit(float(t))
    return agged.select(*keys, "n_sampled", est.alias("est_distinct"))


def time_weighted_avg(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    tie_cols: list[str] | None = None,
    scale: float = 1e4,
) -> DataFrame:
    """Per-key TIME-weighted average of a step signal — the TWAP
    shape: each observation holds its value until the next one, so
    the mean is ``Σ v_i·(t_{i+1}−t_i) / Σ (t_{i+1}−t_i)`` over the
    observed span (the last observation bounds the integral and
    carries no weight). The arithmetic mean over-weights bursts of
    rapid updates; the time-weighted one is what "average position /
    price / level over the day" actually means.

    Determinism (bit-exact across engines): values are scaled to
    longs (``floor(v·scale+0.5)``), gaps are exact long
    microseconds, and both the value·gap products and their sums run
    in DECIMAL(38,0) — order-independent integer arithmetic with no
    double association anywhere; ONE double division at the end.

    Scale shape: one hash shuffle on ``keys`` feeding a window lead
    + the final aggregate (same partitioning, Exchange reused); no
    driver transfer. ``tie_cols`` breaks equal-timestamp ordering
    deterministically (pass the event id).

    Output: ``(keys…, n_points, span_seconds, twa)``; ``twa`` is
    NULL for keys with a single observation (zero-length span).
    Reference capability: none (beyond-reference surface).
    """
    tie = [F.col(c).asc() for c in (tie_cols or [])]
    w = W.partitionBy(*keys).orderBy(F.col(ts_col).asc(), *tie)
    mic = F.unix_micros(F.col(ts_col))
    gap = (F.unix_micros(F.lead(ts_col).over(w)) - mic).cast(
        "decimal(19,0)"
    )
    v_scaled = F.floor(
        F.col(value_col).cast("double") * F.lit(float(scale)) + F.lit(0.5)
    ).cast("decimal(19,0)")
    stepped = df.select(
        *keys,
        (v_scaled * gap).alias("__vw"),
        gap.alias("__w"),
    )
    agged = stepped.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("__vw").alias("__svw"),
        F.sum("__w").alias("__sw"),
    )
    twa = (
        F.col("__svw").cast("double") / F.col("__sw").cast("double")
    ) / F.lit(float(scale))
    return agged.select(
        *keys,
        "n_points",
        (F.col("__sw").cast("double") / F.lit(1e6)).alias("span_seconds"),
        F.when(F.col("__sw") > 0, twa).alias("twa"),
    )
