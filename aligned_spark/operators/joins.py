"""Join operators: equi, as-of (backward), and point-in-time facts join.

The point-in-time join is the reference's raison d'être
(``FileFactualJob.file_transformations``, ``aligned/local/job.py:406-608``):
for each *fact* row (entity keys + optional event timestamp), fetch
each feature's value as of that timestamp, honoring an optional TTL.

Spark has no native as-of join, so two strategies are provided:

``strategy="union"`` (default — the 100 TB path)
    Union facts and features on the entity key, sort by
    ``(entity, ts, side)`` within a single shuffle, and propagate the
    most recent feature row forward with
    ``last(struct, ignorenulls=True)`` over a rows-window. Cost is one
    shuffle + one sort, O(n log n), with NO join explosion no matter
    how many fact and feature rows share an entity — the classic
    sorted-merge formulation of as-of. :func:`pit_union_pass` builds
    it once; trailing-window aggregates over the same union
    (``pit_window_aggregate``) ride the same sort.

``strategy="join"``
    Left join on entities with the ``feature_ts <= fact_ts`` range
    predicate, then ``row_number() over (partition by row_id order by
    feature_ts desc) = 1``. Matches the reference's own Spark sketch
    (``local/job.py:678-699``). Broadcast-friendly when the fact frame
    is small, but O(facts_per_entity × features_per_entity) in the
    worst case — use only with bounded lookback (TTL) or small facts.

Feature-row atomicity: all feature columns travel in ONE struct, so
the propagated values always come from the same physical row (naive
per-column ``last(ignorenulls)`` would mix rows when some columns are
null).
"""

from __future__ import annotations

from dataclasses import replace
from typing import TYPE_CHECKING, Literal, Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from aligned_spark.operators.aggregate import AggSpec

_NUM_ORDER = ["tinyint", "smallint", "int", "bigint", "float", "double"]


def _common_key_type(ltype, rtype) -> str | None:
    """Common join-key type (reference coercion semantics,
    ``aligned/retrieval_job.py:1896-1918``, with lossless widening):
    numeric pairs widen to the wider side, and an integral × float
    pair promotes to DOUBLE — float's 24-bit mantissa collapses int
    keys >= 2^24 (16777217 == 16777216.0f) and fabricates matches.
    Returns the target ``simpleString``, or None for non-numeric
    pairs (caller casts right to left, as the reference does)."""
    ls, rs = ltype.simpleString(), rtype.simpleString()
    if ls not in _NUM_ORDER or rs not in _NUM_ORDER:
        return None
    wide = _NUM_ORDER[max(_NUM_ORDER.index(ls), _NUM_ORDER.index(rs))]
    integral = _NUM_ORDER[:4]
    if wide == "float" and (ls in integral or rs in integral):
        wide = "double"
    return wide


def _widened_key_casts(
    facts: DataFrame, features: DataFrame, by: list[str]
) -> tuple[dict[str, str], DataFrame]:
    """Key coercion for the as-of/PIT paths: returns ``(fact_casts,
    features)`` where ``fact_casts`` maps fact key columns to the
    common widened type (applied at select time so the fact OUTPUT
    columns keep their original types) and ``features`` has its keys
    cast to the same type. Narrowing the feature side to the fact
    type — the pre-round-4 behavior — silently truncated bigint
    feature keys against int/float fact keys and fabricated
    matches, the same defect ``equi_join`` fixed in round 3."""
    fact_casts: dict[str, str] = {}
    feat = features
    for k in by:
        ltype = facts.schema[k].dataType
        rtype = feat.schema[k].dataType
        if ltype == rtype:
            continue
        wide = _common_key_type(ltype, rtype)
        if wide is None:
            feat = feat.withColumn(k, F.col(k).cast(ltype))
            continue
        if ltype.simpleString() != wide:
            fact_casts[k] = wide
        if rtype.simpleString() != wide:
            feat = feat.withColumn(k, F.col(k).cast(wide))
    return fact_casts, feat


def equi_join(
    left: DataFrame,
    right: DataFrame,
    left_on: list[str],
    right_on: list[str] | None = None,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi join with key-dtype coercion (``JoinJobs``,
    ``retrieval_job.py:1862-1948``; dtype coercion ``:1896-1918``).

    Keys are cast to a common type before joining (the reference casts
    both sides to the declared dtype). Numeric keys widen to the wider
    side — casting an int64 key down to the other side's int32 would
    silently truncate and fabricate matches.
    """
    right_on = right_on or left_on
    if len(left_on) != len(right_on):
        raise ValueError("left_on and right_on must have equal length")
    for lk, rk in zip(left_on, right_on):
        ltype = left.schema[lk].dataType
        rtype = right.schema[rk].dataType
        if ltype == rtype:
            continue
        wide = _common_key_type(ltype, rtype)
        if wide is None:
            right = right.withColumn(rk, F.col(rk).cast(ltype))
            continue
        if ltype.simpleString() != wide:
            left = left.withColumn(lk, F.col(lk).cast(wide))
        if rtype.simpleString() != wide:
            right = right.withColumn(rk, F.col(rk).cast(wide))
    if broadcast_right:
        right = F.broadcast(right)
    if left_on == right_on:
        return left.join(right, on=left_on, how=how)
    cond = None
    for lk, rk in zip(left_on, right_on):
        c = left[lk] == right[rk]
        cond = c if cond is None else (cond & c)
    return left.join(right, on=cond, how=how)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
    on: list[str] | None = None,
) -> DataFrame:
    """Inner point-in-interval join (``lo <= point <= hi``, plus
    optional equality keys) rewritten as an equi-join on bin ids.

    Spark plans a bare inequality join as a broadcast nested loop (or
    an equality join with a post-filter that still materializes every
    same-key pair) — O(|points| × |intervals|) at the limit. The
    standard fix, which Catalyst does not do itself: bucket the number
    line into ``bin_width``-wide bins, tag each point with its single
    bin, explode each interval into every bin it covers, hash-join on
    (keys, bin), and re-check the exact predicate. Each matching pair
    meets in exactly one bin (the point's), so no dedup is needed.

    Cost: one hash shuffle on (keys, bin) + |interval| ×
    (span/bin_width) exploded rows. Pick ``bin_width`` near the median
    interval span: much smaller explodes the interval side; much
    larger degrades toward per-bin cross products. Skewed bins (a hot
    region of the number line) fall under AQE skew handling like any
    hot hash key."""
    on = on or []
    b = F.lit(float(bin_width))
    pts = points.withColumn(
        "__bin", F.floor(F.col(point_col) / b).cast("long")
    )
    ivs = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / b).cast("long"),
                F.floor(F.col(hi_col) / b).cast("long"),
            )
        ),
    )
    joined = pts.join(ivs, on=on + ["__bin"], how="inner").filter(
        F.col(point_col).between(F.col(lo_col), F.col(hi_col))
    )
    return joined.drop("__bin")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant equi join: spread each hot left key over
    ``salt`` shuffle partitions.

    The left side gets a uniform random salt in ``[0, salt)``; the
    right side is replicated ``salt`` times (one row per salt value)
    so every (key, salt) bucket still finds its match. Results are
    identical to a plain join; shuffle pressure for a hot key drops
    by ``salt×`` at the cost of a ``salt×`` blow-up of the RIGHT side
    — use when the right side is the smaller (dimension) input but
    too big to broadcast outright, and AQE's skew handling (enabled
    in our session defaults) hasn't already solved it.

    Supported ``how``: inner / left / left_outer (the replicated side
    must be the lookup side — a right/full join would duplicate
    unmatched right rows per salt)."""
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    lsalt = left.withColumn(
        "__salt", (F.rand(seed=0) * salt).cast("int")
    )
    rrep = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = lsalt.join(rrep, on=on + ["__salt"], how=how)
    return out.drop("__salt")


_ROW_ID = "__row_id"
_SIDE = "__side"
_PAYLOAD = "__feature_row"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str],
    right_on: str | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "",
    strategy: Literal["union", "join"] = "union",
    bucket_seconds: float | None = None,
    direction: Literal["backward", "forward", "nearest"] = "backward",
) -> DataFrame:
    """Backward as-of join (``JoinAsofJob``, ``retrieval_job.py:1795-1859``;
    ``JoinAsofDataSource``, ``batch_data_source.py:1017``).

    For each left row: the latest right row with ``right.ts <=
    left.ts`` matching ``by`` keys, optionally within
    ``tolerance_seconds`` lookback. Right's non-key payload columns are
    appended (with ``suffix`` on collisions).
    """
    right_on = right_on or on
    payload_cols = [c for c in right.columns if c not in set(by) | {right_on}]
    collision_suffix = suffix or "_right"
    out_names = {
        c: (c + collision_suffix if c in left.columns else c) for c in payload_cols
    }
    result = _asof_propagate(
        facts=left,
        features=right,
        by=by,
        fact_ts=on,
        feature_ts=right_on,
        payload_cols=payload_cols,
        ttl_seconds=tolerance_seconds,
        strategy=strategy,
        bucket_seconds=bucket_seconds,
        direction=direction,
    )
    for src, dst in out_names.items():
        result = result.withColumnRenamed(f"__p_{src}", dst)
    return result


def pit_join(
    facts: DataFrame,
    features: DataFrame,
    entities: list[str],
    feature_ts: str | None,
    fact_ts: str | None = None,
    ttl_seconds: float | None = None,
    feature_columns: list[str] | None = None,
    strategy: Literal["union", "join"] = "union",
    bucket_seconds: float | None = None,
) -> DataFrame:
    """Point-in-time facts join (``FileFactualJob``,
    ``aligned/local/job.py:406-608``).

    For every fact row, append each requested feature column's value
    from the latest feature row with ``feature_ts <= fact_ts`` (and
    ``feature_ts >= fact_ts - ttl`` when a TTL is declared,
    ``local/job.py:567-582``). Feature rows with a NULL timestamp are
    valid fallbacks but lose to any timestamped match
    (``local/job.py:576-581``). Without ``fact_ts`` (entity-only
    facts) or without ``feature_ts`` the semantics degrade to
    latest-row-per-entity / plain left join — same as the reference.

    The default ``strategy="union"`` is :func:`pit_union_pass` with the
    payload only: one shuffle, one sort, one Window.
    ``ContractStore.features_for`` calls that pass directly, so a
    view's windowed aggregates ride the same sort as its as-of columns.
    """
    feature_columns = feature_columns or [
        c for c in features.columns if c not in set(entities) | {feature_ts}
    ]

    if feature_ts is None or fact_ts is None:
        feat = features
        if feature_ts is not None:
            # latest feature row per entity, deterministically
            w = W.partitionBy(*entities).orderBy(
                F.col(feature_ts).desc_nulls_last()
            )
            feat = (
                feat.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        feat = feat.select(*entities, *feature_columns)
        out = equi_join(facts, feat, entities, how="left")
        return out

    result = _asof_propagate(
        facts=facts,
        features=features,
        by=entities,
        fact_ts=fact_ts,
        feature_ts=feature_ts,
        payload_cols=feature_columns,
        ttl_seconds=ttl_seconds,
        strategy=strategy,
        bucket_seconds=bucket_seconds,
    )
    for c in feature_columns:
        result = result.withColumnRenamed(f"__p_{c}", c)
    return result


def _asof_propagate(
    facts: DataFrame,
    features: DataFrame,
    by: list[str],
    fact_ts: str,
    feature_ts: str,
    payload_cols: list[str],
    ttl_seconds: float | None,
    strategy: str,
    bucket_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Shared engine for as-of/PIT. Output = all fact columns +
    ``__p_<payload>`` columns for the matched feature row."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown as-of direction {direction!r}")
    if strategy == "join":
        if bucket_seconds is not None:
            raise ValueError(
                "bucket_seconds applies to strategy='union' only"
            )
        if direction != "backward":
            raise ValueError(
                "forward/nearest as-of need strategy='union'"
            )
        return _asof_via_join(
            facts, features, by, fact_ts, feature_ts, payload_cols, ttl_seconds
        )
    return pit_union_pass(
        facts, features, by, fact_ts, feature_ts, payload_cols, ttl_seconds,
        bucket_seconds=bucket_seconds,
        direction=direction,
    )


def pit_union_pass(
    facts: DataFrame,
    features: DataFrame,
    by: list[str],
    fact_ts: str,
    feature_ts: str,
    payload_cols: list[str],
    ttl_seconds: float | None = None,
    windowed: Sequence[tuple[AggSpec, float | None]] = (),
    bucket_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """The one entity-partitioned, time-ordered pass behind every
    point-in-time column: the as-of payload (``pit_join``/``asof_join``)
    and trailing-window aggregates (``pit_window_aggregate``) of the
    same feature frame share ONE union, ONE shuffle on ``by`` and ONE
    sort on ``(by, __ord, __side)``.

    ``windowed``: ``(AggSpec, window_seconds)`` pairs of streamable
    kinds (sum/mean/min/max/count), each evaluated over the RANGE frame
    ``[fact_ts - window, fact_ts]`` (``None`` = unbounded). Frames order
    by ``__ord`` alone, a prefix of the as-of sort, so they add one
    Window per distinct frame and no Sort. A feature row with a NULL
    timestamp falls in no window, and a fact with a NULL timestamp has
    an empty one. ``ttl_seconds`` gates the as-of payload only.

    Output: every fact column (declared types kept), then
    ``__p_<c>`` per payload column, then one column per windowed spec
    named ``spec.name``."""
    fact_cols = facts.columns

    # coerce entity key types to a common WIDENED type so the union
    # lines up losslessly; fact output columns (__f_) keep originals
    fact_casts, feat = _widened_key_casts(facts, features, by)

    def fact_key(k: str) -> Column:
        c = F.col(k)
        return c.cast(fact_casts[k]) if k in fact_casts else c

    # carry the feature row as one struct (row atomicity) incl. its ts;
    # each windowed spec's source is materialized as __v_<name> (for
    # count-with-no-column, lit(1) marks "a feature row exists"), NULL
    # on fact rows, which every streamable aggregate skips. A NULL-ts
    # feature row gets NULL too: it falls in no window (a RANGE frame
    # would put it in every NULL-ts fact's frame and in every unbounded
    # one), as in the join formulation's `feature_ts <= fact_ts`
    has_ts = F.col(feature_ts).isNotNull()
    values = {f"__v_{a.name}": F.when(has_ts, a._source()) for a, _ in windowed}
    if payload_cols:
        values[_PAYLOAD] = F.struct(
            F.col(feature_ts).alias("__ts"),
            *[F.col(c).alias(c) for c in payload_cols],
        )
    feature_side = feat.select(
        *by,
        F.col(feature_ts).alias("__t"),
        F.lit(0).alias(_SIDE),
        *[v.alias(name) for name, v in values.items()],
        *[F.lit(None).cast(facts.schema[c].dataType).alias(f"__f_{c}") for c in fact_cols],
    )
    fact_side = facts.select(
        *[fact_key(k).alias(k) for k in by],
        F.col(fact_ts).alias("__t"),
        F.lit(1).alias(_SIDE),
        *[F.lit(None).cast(feature_side.schema[c].dataType).alias(c) for c in values],
        *[F.col(c).alias(f"__f_{c}") for c in fact_cols],
    )
    # the order key is materialized once so the as-of ROWS window and
    # every RANGE frame (which takes a single order expression) share
    # the one sort
    propagated = feature_side.unionByName(fact_side).withColumn(
        "__ord", F.unix_micros(F.col("__t"))
    )

    # nulls_first: NULL-ts feature rows become the "earliest" state, so
    # they match facts predating all timestamped rows and lose to any
    # later timestamped row — the reference's null-passes rule.
    order = [F.col("__ord").asc_nulls_first(), F.col(_SIDE).asc()]
    if payload_cols and direction in ("backward", "nearest"):
        if bucket_seconds is None:
            w = (
                W.partitionBy(*by)
                .orderBy(*order)
                .rowsBetween(W.unboundedPreceding, 0)
            )
            propagated = propagated.withColumn(
                "__picked", F.last(_PAYLOAD, ignorenulls=True).over(w)
            )
        else:
            propagated = _bucketed_propagate(
                propagated, by, order, int(bucket_seconds * 1_000_000)
            )
    if payload_cols and direction in ("forward", "nearest"):
        # mirror scan: first feature at or after the fact. Ties put
        # the fact BEFORE same-ts features (side desc) so an
        # exactly-at-ts feature matches; NULL-ts features sort last —
        # the forward fallback when nothing follows.
        if bucket_seconds is None:
            wf = (
                W.partitionBy(*by)
                .orderBy(
                    F.col("__t").asc_nulls_last(), F.col(_SIDE).desc()
                )
                .rowsBetween(W.currentRow, W.unboundedFollowing)
            )
            propagated = propagated.withColumn(
                "__picked_fwd",
                F.first(_PAYLOAD, ignorenulls=True).over(wf),
            )
        else:
            propagated = _bucketed_propagate_fwd(
                propagated, by, int(bucket_seconds * 1_000_000)
            )

    # The RANGE frame includes every tie of the current micros value,
    # which is exactly the `feature_ts <= fact_ts` bound — a feature
    # row stamped at the fact's own timestamp is in-window. Specs that
    # share a frame share one Window operator.
    base = W.partitionBy(*by).orderBy(F.col("__ord"))
    for a, window_seconds in windowed:
        lo = (
            W.unboundedPreceding
            if window_seconds is None
            else -int(window_seconds * 1_000_000)
        )
        # the spec's own aggregate over its materialized source
        agg = replace(a, column=f"__v_{a.name}").to_raw_agg()
        propagated = propagated.withColumn(
            a.name, agg.over(base.rangeBetween(lo, 0))
        )

    out = propagated.filter(F.col(_SIDE) == 1)

    def ttl_gate(col: Column, forward: bool) -> Column:
        if ttl_seconds is None:
            return col
        pts = col.getField("__ts")
        diff = (
            F.unix_micros(pts) - F.unix_micros(F.col("__t"))
            if forward
            else F.unix_micros(F.col("__t")) - F.unix_micros(pts)
        )
        in_ttl = pts.isNull() | (diff <= int(ttl_seconds * 1_000_000))
        return F.when(in_ttl, col)

    if not payload_cols:
        picked = None
    elif direction == "backward":
        picked = ttl_gate(F.col("__picked"), forward=False)
    elif direction == "forward":
        picked = ttl_gate(F.col("__picked_fwd"), forward=True)
    else:
        b = ttl_gate(F.col("__picked"), forward=False)
        f = ttl_gate(F.col("__picked_fwd"), forward=True)
        big = F.lit(1 << 62)
        bd = F.coalesce(
            F.unix_micros(F.col("__t")) - F.unix_micros(b.getField("__ts")),
            big,
        )
        fd = F.coalesce(
            F.unix_micros(f.getField("__ts")) - F.unix_micros(F.col("__t")),
            big,
        )
        # ties (and null-ts fallbacks on both sides) resolve backward
        picked = F.when(b.isNotNull() & f.isNotNull(), F.when(bd <= fd, b).otherwise(f)).otherwise(
            F.coalesce(b, f)
        )
    return out.select(
        *[F.col(f"__f_{c}").alias(c) for c in fact_cols],
        *[picked.getField(c).alias(f"__p_{c}") for c in payload_cols],
        *[F.col(a.name) for a, _ in windowed],
    )


def _bucketed_propagate(
    unioned: DataFrame,
    by: list[str],
    order: list[Column],
    bucket_micros: int,
) -> DataFrame:
    """Skew-safe as-of propagation: a segmented scan over time buckets.

    The plain union path partitions by entity alone — one hot entity
    (a bot user with 10^8 events) lands its entire history in a single
    task's sort. Random salting, the equi-join fix, is unsound here:
    ordered propagation needs every earlier feature row visible.
    The sound decomposition is by TIME:

    1. assign ``__bucket = floor(ts / bucket)`` and run the normal
       last-ignorenulls propagation within ``(entity, bucket)``
       partitions — the hot entity now spreads across
       ``history / bucket_seconds`` tasks;
    2. reduce each ``(entity, bucket)`` to its end-of-bucket state
       (one struct) and running-forward that state over bucket order
       per entity — a second Window over ``#buckets`` rows per
       entity, thousands of times smaller than the row-level frame;
    3. left-join the carry-in state back on ``(entity, bucket)`` —
       co-partitioned with step 1's shuffle — and coalesce:
       within-bucket match wins, else the carry-in.

    NULL-ts rows (the reference's null-passes feature rows, or
    null-ts facts) fall in the NULL bucket, which sorts first — they
    stay the "earliest" state exactly as in the unbucketed path.
    """
    unioned = unioned.withColumn(
        "__bucket",
        F.floor(F.unix_micros(F.col("__t")) / F.lit(bucket_micros)),
    )
    wl = (
        W.partitionBy(*by, "__bucket")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    local = unioned.withColumn(
        "__picked_local", F.last(_PAYLOAD, ignorenulls=True).over(wl)
    )
    # end-of-bucket state: the locally-propagated value on the
    # bucket's last row in scan order (max_by on the order key)
    state = local.groupBy(*by, "__bucket").agg(
        F.max_by(
            "__picked_local", F.struct(F.col("__t"), F.col(_SIDE))
        ).alias("__state_end")
    )
    wc = (
        W.partitionBy(*by)
        .orderBy(F.col("__bucket").asc_nulls_first())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carry = state.withColumn(
        "__carry_in", F.last("__state_end", ignorenulls=True).over(wc)
    ).select(
        *[F.col(k).alias(f"__c_{k}") for k in by],
        F.col("__bucket").alias("__c_bucket"),
        "__carry_in",
    )
    cond = F.col("__bucket").eqNullSafe(F.col("__c_bucket"))
    for k in by:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__c_{k}"))
    joined = local.join(carry, cond, "left")
    return joined.withColumn(
        "__picked", F.coalesce(F.col("__picked_local"), F.col("__carry_in"))
    ).drop(
        "__picked_local",
        "__carry_in",
        "__c_bucket",
        *[f"__c_{k}" for k in by],
    )


def _bucketed_propagate_fwd(
    unioned: DataFrame,
    by: list[str],
    bucket_micros: int,
) -> DataFrame:
    """Forward mirror of :func:`_bucketed_propagate`: within-bucket
    first-ignorenulls over following rows, carry-in = the first
    non-null bucket-START state among strictly LATER buckets. NULL-ts
    rows land in the NULL bucket, ordered last, so they stay the
    when-nothing-follows fallback exactly as in the unbucketed
    forward scan."""
    if "__bucket" not in unioned.columns:
        unioned = unioned.withColumn(
            "__bucket",
            F.floor(F.unix_micros(F.col("__t")) / F.lit(bucket_micros)),
        )
    order = [F.col("__t").asc_nulls_last(), F.col(_SIDE).desc()]
    wl = (
        W.partitionBy(*by, "__bucket")
        .orderBy(*order)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    local = unioned.withColumn(
        "__pl_fwd", F.first(_PAYLOAD, ignorenulls=True).over(wl)
    )
    # bucket-START state: the locally-propagated value on the first
    # row in forward scan order (min_by key mirrors the window order;
    # NULL __t maps to +inf so it sorts last, matching nulls_last)
    okey = F.struct(
        F.coalesce(F.unix_micros(F.col("__t")), F.lit(1 << 62)).alias(
            "t"
        ),
        (-F.col(_SIDE)).alias("s"),
    )
    state = local.groupBy(*by, "__bucket").agg(
        F.min_by("__pl_fwd", okey).alias("__state_start")
    )
    wc = (
        W.partitionBy(*by)
        .orderBy(F.col("__bucket").asc_nulls_last())
        .rowsBetween(1, W.unboundedFollowing)
    )
    carry = state.withColumn(
        "__carry_fwd",
        F.first("__state_start", ignorenulls=True).over(wc),
    ).select(
        *[F.col(k).alias(f"__cf_{k}") for k in by],
        F.col("__bucket").alias("__cf_bucket"),
        "__carry_fwd",
    )
    cond = F.col("__bucket").eqNullSafe(F.col("__cf_bucket"))
    for k in by:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__cf_{k}"))
    joined = local.join(carry, cond, "left")
    return joined.withColumn(
        "__picked_fwd", F.coalesce(F.col("__pl_fwd"), F.col("__carry_fwd"))
    ).drop(
        "__pl_fwd",
        "__carry_fwd",
        "__cf_bucket",
        *[f"__cf_{k}" for k in by],
    )


def _asof_via_join(
    facts: DataFrame,
    features: DataFrame,
    by: list[str],
    fact_ts: str,
    feature_ts: str,
    payload_cols: list[str],
    ttl_seconds: float | None,
) -> DataFrame:
    fact_cols = facts.columns
    f = facts.withColumn(_ROW_ID, F.monotonically_increasing_id())
    feat = features.select(
        *[F.col(k).alias(f"__k_{k}") for k in by],
        F.col(feature_ts).alias("__feat_ts"),
        *[F.col(c).alias(f"__p_{c}") for c in payload_cols],
    )
    key_cond = None
    for k in by:
        ltype = facts.schema[k].dataType
        rtype = feat.schema[f"__k_{k}"].dataType
        lc, rc = f[k], feat[f"__k_{k}"]
        if ltype != rtype:
            wide = _common_key_type(ltype, rtype)
            if wide is None:
                rc = rc.cast(ltype)
            else:
                # widen IN the condition — output keeps originals
                if ltype.simpleString() != wide:
                    lc = lc.cast(wide)
                if rtype.simpleString() != wide:
                    rc = rc.cast(wide)
        c = lc == rc
        key_cond = c if key_cond is None else (key_cond & c)
    ts_ok = F.col("__feat_ts").isNull() | (F.col("__feat_ts") <= f[fact_ts])
    if ttl_seconds is not None:
        # bounded lookback keeps the range-join candidate set small
        ts_ok = ts_ok & (
            F.col("__feat_ts").isNull()
            | (
                F.unix_micros(f[fact_ts]) - F.unix_micros(F.col("__feat_ts"))
                <= int(ttl_seconds * 1_000_000)
            )
        )
    joined = f.join(feat, key_cond & ts_ok, "left")
    w = W.partitionBy(_ROW_ID).orderBy(F.col("__feat_ts").desc_nulls_last())
    deduped = (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return deduped.select(
        *[F.col(c) for c in fact_cols],
        *[F.col(f"__p_{c}") for c in payload_cols],
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
    block_len: int = 3,
) -> DataFrame:
    """Approximate string join (entity resolution): pairs whose
    Levenshtein distance is <= ``max_distance``, found via prefix
    blocking.

    Reference parity: the aligned reference has no fuzzy matching;
    this extends the engine's join surface for record-linkage /
    training-data provenance workloads.

    Scale design (100 TB): the naive formulation is an O(n*m) cross
    join with a per-pair edit distance — never viable. Blocking
    reduces it to an equi-join on the lowercased ``block_len``-char
    prefix, so only same-block candidates shuffle together, and two
    cheap codegen pre-filters (length difference > k, then the JVM
    ``levenshtein`` with its early-exit threshold form) prune before
    any pair materializes wide rows. The standard blocking trade-off
    applies and is deliberate: pairs that differ inside the first
    ``block_len`` characters are not candidates (run a second pass
    on a different blocking key — e.g. suffix or phonetic — to
    raise recall). A hot prefix (skewed block) is split by AQE
    skew-join handling like any other skewed equi-join key.

    Output: all columns of ``left``, all of ``right``, plus
    ``edit_distance``."""
    lk = F.lower(F.col(left_col))
    rk = F.lower(F.col(right_col))
    lb = left.withColumn("__blk", F.substring(lk, 1, block_len))
    rb = right.withColumn("__blk", F.substring(rk, 1, block_len))
    # bounded form: abandons the DP row once distance exceeds the
    # threshold (returns -1), exact value otherwise
    lv = F.levenshtein(
        F.lower(lb[left_col]), F.lower(rb[right_col]), max_distance
    )
    len_ok = (
        F.abs(F.length(lb[left_col]) - F.length(rb[right_col]))
        <= max_distance
    )
    joined = lb.join(rb, on="__blk").filter(len_ok).filter(lv >= 0)
    return joined.withColumn("edit_distance", lv.cast("int")).drop("__blk")


def scd2_join(
    facts: DataFrame,
    dim: DataFrame,
    by: list[str],
    fact_ts: str,
    valid_from: str,
    valid_to: str,
    suffix: str = "",
) -> DataFrame:
    """Temporal dimension join (slowly-changing-dimension type 2):
    each fact row picks up the dimension VERSION whose
    ``[valid_from, valid_to)`` interval contains the fact's
    timestamp; facts before the first version (or landing in a
    validity gap) keep NULL dim columns.

    Formulation: the backward as-of join on ``valid_from`` (one
    union + one entity-keyed shuffle + one sort — never the
    nested-loop BETWEEN join Spark plans for the raw interval
    predicate), then a codegen validity check nulls out versions
    that expired before the fact (``valid_to <= fact_ts``). When
    intervals tile time with no gaps — the usual SCD2 invariant —
    the check never fires; stating it keeps gap semantics exact.

    An open current version is a NULL ``valid_to`` (treated as
    +infinity)."""
    payload = [
        c
        for c in dim.columns
        if c not in set(by) | {valid_from, valid_to}
    ]
    joined = asof_join(
        facts,
        dim,
        on=fact_ts,
        by=by,
        right_on=valid_from,
        suffix=suffix,
        direction="backward",
    )
    vt = valid_to if valid_to not in facts.columns else valid_to + (
        suffix or "_right"
    )
    alive = F.col(vt).isNull() | (F.col(vt) > F.col(fact_ts))
    out = joined
    for c in payload:
        name = c + (suffix or "_right") if c in facts.columns else c
        out = out.withColumn(
            name, F.when(alive, F.col(name)).otherwise(F.lit(None))
        )
    return out.drop(vt)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: float,
    on: list[str] | None = None,
) -> DataFrame:
    """Inner interval×interval OVERLAP join (``l_lo <= r_hi AND
    r_lo <= l_hi``, closed intervals, plus optional equality keys) as
    a hash equi-join on bin ids — :func:`range_join`'s sibling for
    two interval sets (time-range conflation, span reconciliation,
    segment×segment matching).

    Both sides explode into the bins they cover and meet on
    (keys, bin); a bare inequality join would be a broadcast nested
    loop. Overlapping pairs share EVERY bin their intersection
    covers, so instead of a distinct, each pair is kept only in the
    FIRST shared bin — ``bin == greatest(floor(l_lo/w),
    floor(r_lo/w))`` — which both sides of an overlapping pair
    provably cover: exactly-once output with no dedup shuffle.

    Cost: one hash shuffle on (keys, bin) + span/bin_width exploded
    rows per side. Pick ``bin_width`` near the median interval span;
    hot bins fall under AQE skew splitting. Column names across the
    two inputs must be disjoint (standard for the join helpers
    here)."""
    if not bin_width > 0:  # also rejects NaN
        raise ValueError(
            f"bin_width must be > 0, got {bin_width!r}: 0 divides by "
            "zero into null bins (silently empty result), negative "
            "widths corrupt binning"
        )
    on = on or []
    b = F.lit(float(bin_width))

    def _bins(lo, hi):
        return F.explode(
            F.sequence(
                F.floor(F.col(lo) / b).cast("long"),
                F.floor(F.col(hi) / b).cast("long"),
            )
        )

    lb = left.withColumn("__bin", _bins(left_lo, left_hi))
    rb = right.withColumn("__bin", _bins(right_lo, right_hi))
    first_shared = F.greatest(
        F.floor(F.col(left_lo) / b).cast("long"),
        F.floor(F.col(right_lo) / b).cast("long"),
    )
    out = (
        lb.join(rb, on=on + ["__bin"], how="inner")
        .filter(
            (F.col(left_lo) <= F.col(right_hi))
            & (F.col(right_lo) <= F.col(left_hi))
            & (F.col("__bin") == first_shared)
        )
    )
    return out.drop("__bin")


def interval_overlap_count(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: float,
    on: list[str] | None = None,
    count_col: str = "n_overlaps",
) -> DataFrame:
    """Per-left-row COUNT of overlapping right intervals WITHOUT
    materializing the pairs — :func:`interval_overlap_join`'s counting
    sibling for coverage/conflict counting, where the pair join's cost
    is inherently its output cardinality (every overlapping pair
    streams through the plan even though only a count survives).

    Rank decomposition over closed intervals::

        #overlap(l) = #{r_lo <= l_hi} - #{r_hi < l_lo}

    (the second set is a subset of the first since ``r_lo <= r_hi``).
    Each term splits at bin granularity into a CUMULATIVE-HISTOGRAM
    lookup (bins strictly below the boundary bin) plus a boundary-bin
    correction:

    1. per-(keys, bin) counts of ``r_lo`` and ``r_hi`` → densified per
       key over [min_bin, max_bin] → running-sum window. Histogram
       rows only — ``keys × bins``, never data rows — so the window's
       per-key partitioning is safe at any corpus size; the result
       broadcasts.
    2. boundary corrections join left rows to right rows in ONE bin
       (hash equi-join on (keys, bin)); the shuffled intermediate is
       ``left_rows × rights-per-bin``, tunable by ``bin_width`` —
       unlike the pair join, a FINER width always shrinks it.
    3. counts compute per DISTINCT (keys, lo, hi) and join back, so
       duplicate spans cost once.

    Left rows with no overlaps keep count 0 (left-preserving).
    Bins per key are bounded by value-range/width — same binning
    contract as :func:`range_join`. NaN bounds are the caller's bug."""
    if not bin_width > 0:  # also rejects NaN
        raise ValueError(
            f"bin_width must be > 0, got {bin_width!r}"
        )
    keys = on or []
    w = F.lit(float(bin_width))
    if not keys:
        # joins below key on `keys + [...]`; an empty equi-key list is
        # not a valid join spec, so thread one constant key through
        keys = ["__k1"]
        left = left.withColumn("__k1", F.lit(1))
        right = right.withColumn("__k1", F.lit(1))

    def _bin(c: str) -> Column:
        return F.floor(F.col(c) / w).cast("long")

    dl = left.select(*keys, left_lo, left_hi).distinct()

    # -- cumulative per-bin histograms of r_lo and r_hi ----------------
    hist = (
        right.select(
            *keys,
            _bin(right_lo).alias("__blo"),
            _bin(right_hi).alias("__bhi"),
        )
        .select(
            *keys,
            F.explode(
                F.array(
                    F.struct(F.col("__blo").alias("b"), F.lit(1).alias("is_lo")),
                    F.struct(F.col("__bhi").alias("b"), F.lit(0).alias("is_lo")),
                )
            ).alias("__e"),
        )
        .groupBy(*keys, F.col("__e.b").alias("__bin"))
        .agg(
            F.sum(F.col("__e.is_lo")).alias("__n_lo"),
            F.sum(1 - F.col("__e.is_lo")).alias("__n_hi"),
        )
    )
    rng = hist.groupBy(*keys).agg(
        F.min("__bin").alias("__mn"), F.max("__bin").alias("__mx")
    )
    dense = rng.select(
        *keys, F.explode(F.sequence(F.col("__mn"), F.col("__mx"))).alias("__bin")
    )
    cum_w = (
        W.partitionBy(*keys).orderBy("__bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = (
        dense.join(hist, on=keys + ["__bin"], how="left")
        .fillna(0, ["__n_lo", "__n_hi"])
        .withColumn("__cum_lo", F.sum("__n_lo").over(cum_w))
        .withColumn("__cum_hi", F.sum("__n_hi").over(cum_w))
        .select(*keys, "__bin", "__cum_lo", "__cum_hi")
    )

    # -- full-bin terms: cum_lo(bin(l_hi)-1) and cum_hi(bin(l_lo)-1) ---
    base = (
        dl.withColumn("__qa", _bin(left_hi) - 1)
        .withColumn("__qb", _bin(left_lo) - 1)
        .join(F.broadcast(rng), on=keys, how="left")
    )

    def _full(q: str, cum_col: str, out: str) -> DataFrame:
        nonlocal base
        clamped = F.least(F.greatest(F.col(q), F.col("__mn")), F.col("__mx"))
        lk = cum.select(
            *keys,
            F.col("__bin").alias(f"{out}_bin"),
            F.col(cum_col).alias(out),
        )
        base = (
            base.withColumn(f"{out}_bin", clamped)
            .join(F.broadcast(lk), on=keys + [f"{out}_bin"], how="left")
            .withColumn(
                out,
                F.when(
                    F.col("__mn").isNull() | (F.col(q) < F.col("__mn")),
                    F.lit(0),
                ).otherwise(F.col(out)),
            )
            .drop(f"{out}_bin")
        )
        return base

    _full("__qa", "__cum_lo", "__full_a")
    _full("__qb", "__cum_hi", "__full_b")

    # -- boundary-bin corrections (one bin per left row per term) ------
    def _boundary(lbin: Column, rbin: str, pred, out: str) -> DataFrame:
        rb = right.select(
            *keys, _bin(rbin).alias("__rb"), F.col(rbin).alias("__rv")
        )
        return (
            dl.withColumn("__rb", lbin)
            .join(rb, on=keys + ["__rb"], how="inner")
            .filter(pred(F.col("__rv")))
            .groupBy(*keys, left_lo, left_hi)
            .agg(F.count(F.lit(1)).alias(out))
        )

    bnd_a = _boundary(
        _bin(left_hi), right_lo, lambda rv: rv <= F.col(left_hi), "__bnd_a"
    )
    bnd_b = _boundary(
        _bin(left_lo), right_hi, lambda rv: rv < F.col(left_lo), "__bnd_b"
    )

    cnt = (
        base.join(bnd_a, on=keys + [left_lo, left_hi], how="left")
        .join(bnd_b, on=keys + [left_lo, left_hi], how="left")
        .select(
            *keys,
            left_lo,
            left_hi,
            (
                F.coalesce(F.col("__full_a"), F.lit(0))
                + F.coalesce(F.col("__bnd_a"), F.lit(0))
                - F.coalesce(F.col("__full_b"), F.lit(0))
                - F.coalesce(F.col("__bnd_b"), F.lit(0))
            )
            .cast("long")
            .alias(count_col),
        )
    )
    out = left.join(
        cnt, on=keys + [left_lo, left_hi], how="left"
    ).withColumn(count_col, F.coalesce(F.col(count_col), F.lit(0)))
    return out.drop("__k1") if keys == ["__k1"] else out
