"""Shared change-data-feed reconstruction for the table formats.

A copy-on-write rewrite commit replaces whole parts; the naive change
feed (`DeltaLog.read_changes` / `IcebergLog.read_appends`) re-emits
every surviving row of a rewritten part, which breaks downstream
incremental consumers (a 1-row MERGE into a 1,000-row part looks
like 1,000 changed rows). :func:`diff_rewrite` reconstructs the TRUE
row-level changes by diffing the removed parts' old content against
the added parts' new content, in ONE shuffle per commit:

- keyed (the merge keys the MERGE commit recorded): one full-outer
  join on the keys, minus the rows whose values survive unchanged
  (``__o <=> __n``); one generator then emits each remaining row's
  change rows — ``update_preimage``/``update_postimage`` when both
  sides are present, ``delete`` for a vanished key, ``insert`` for a
  new one;
- keyless (DELETE/replaceWhere commits): one ``groupBy`` over every
  column of ``old`` tagged -1 unioned with ``new`` tagged +1, each
  group's row replicated ``|sum|`` times as ``delete`` (sum < 0) or
  ``insert`` (sum > 0) — the multiset semantics of ``exceptAll``
  both ways (NULLs group together) from one aggregate instead of
  two; updates appear as delete+insert, still exactly-once.

Scale: the join/aggregate runs over ONLY the commit's touched parts
(the 1-row-MERGE-into-100 TB case reads the handful of rewritten
files twice); pure appends never reach here. Column semantics match
public Delta CDF (``_change_type``; the version column name is the
caller's)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tag_changes(
    df: DataFrame, cols: list[str], ctype: str, version_col: str, version
) -> DataFrame:
    return df.select(
        *cols,
        F.lit(ctype).alias("_change_type"),
        F.lit(version).cast("long").alias(version_col),
    )


def diff_rewrite(
    old: DataFrame,
    new: DataFrame,
    cols: list[str],
    keys: list[str] | None,
    version_col: str,
    version,
) -> DataFrame:
    """True row-level changes of one copy-on-write rewrite commit, as
    one frame of ``cols + [_change_type, version_col]``; see the
    module docstring."""
    rest = [c for c in cols if c not in (keys or [])]
    if keys and rest:
        o = old.select(*keys, F.struct(*rest).alias("__o"))
        n = new.select(*keys, F.struct(*rest).alias("__n"))
        pre, post = F.col("__o"), F.col("__n")
        j = o.join(n, on=keys, how="full_outer").filter(
            ~pre.eqNullSafe(post)
        )

        def side(this, other, alone: str, paired: str):
            # one change row per present side: (type, values)
            ctype = F.when(other.isNull(), alone).otherwise(paired)
            return F.when(
                this.isNotNull(),
                F.struct(ctype.alias("t"), this.alias("r")),
            )

        sides = F.array(
            side(pre, post, "delete", "update_preimage"),
            side(post, pre, "insert", "update_postimage"),
        )
        ch = F.col("__c")
        return j.select(
            *keys,
            F.explode(F.filter(sides, lambda s: s.isNotNull())).alias(
                "__c"
            ),
        ).select(
            *[c if c in keys else ch["r"][c].alias(c) for c in cols],
            ch["t"].alias("_change_type"),
            F.lit(version).cast("long").alias(version_col),
        )
    # keyless: signed multiset counts, one aggregate
    d = F.col("__d")
    counts = (
        old.select(*cols, F.lit(-1).alias("__d"))
        .unionByName(new.select(*cols, F.lit(1).alias("__d")))
        .groupBy(*cols)
        .agg(F.sum("__d").alias("__d"))
        .filter(d != 0)
    )
    return counts.select(
        *cols,
        F.explode(
            F.array_repeat(
                F.when(d < 0, "delete").otherwise("insert"),
                F.abs(d).cast("int"),
            )
        ).alias("_change_type"),
        F.lit(version).cast("long").alias(version_col),
    )
