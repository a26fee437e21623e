"""Shared parquet part staging for table formats (Delta, Iceberg).

Both transaction-log formats share the same write discipline: Spark
writes parquet parts into a STAGING directory inside the table, the
files are renamed to collision-free names in their final location,
per-file stats are harvested from the parquet FOOTERS (no data
scan), and the parts stay invisible to readers until the format's
metadata commit lands — which is what makes the whole write atomic.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Any
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
#: string stats longer than this are not recorded — a TRUNCATED max
#: would need protocol-specific padding tricks to stay an upper
#: bound, so long strings simply opt out of skipping instead.
_MAX_STR_STAT = 64


def stats_from_footer(path: str) -> dict[str, Any]:
    """Per-file stats straight from the parquet FOOTER (no data
    scan): numRecords plus min/max/nullCount for primitive columns.
    Timestamps serialize as ISO strings; long strings are skipped
    (see ``_MAX_STR_STAT``)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}

    def _norm(v: Any) -> Any:
        import datetime as dt

        if isinstance(v, dt.datetime):
            # NAIVE-UTC ISO strings: pyarrow returns tz-AWARE stats
            # for TIMESTAMP_MICROS columns ("…+00:00" suffix), and a
            # suffix makes lexicographic order diverge from
            # chronological order exactly at equal instants against a
            # naive predicate — normalize before serializing so every
            # comparison is suffix-free
            if v.tzinfo is not None:
                v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
            return v.isoformat()
        if isinstance(v, bytes):
            try:
                v = v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, str) and len(v) > _MAX_STR_STAT:
            return None
        if isinstance(v, (int, float, str, bool)):
            return v
        return None

    # SOUNDNESS: a column's file-level min/max must bound EVERY row
    # group — if any group's stats are missing/unusable (no stats,
    # over-long string, undecodable bytes), the column must carry NO
    # bounds at all, or skipping would prune files that still contain
    # matching rows in the uncovered group.
    covered: dict[str, int] = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            name = col.path_in_schema
            if "." in name:  # nested — no skipping stats
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = _norm(st.min), _norm(st.max)
            if lo is None or hi is None:
                continue
            covered[name] = covered.get(name, 0) + 1
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
    for name in list(mins):
        if covered.get(name, 0) != md.num_row_groups:
            mins.pop(name, None)
            maxs.pop(name, None)
    return {
        "numRecords": md.num_rows,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }


@dataclass
class StagedPart:
    path: str  # relative to the table root, "/"-separated
    partition_values: dict[str, str | None]
    size: int
    mtime_ms: int
    stats: dict[str, Any]


#: SESSION-level override for the staged-write file-size target
#: (read from the session conf at write time, not from table
#: metadata — unlike the per-table MERGE pruning props).
TARGET_FILE_BYTES_PROP = "aligned.write.targetFileBytes"
TARGET_FILE_BYTES = 128 << 20


def _has_root_repartition(df: DataFrame) -> bool:
    """Whether the written frame carries an EXPLICIT repartition at
    its root (under at most trivial partitioning-preserving wrappers
    — Filter included, it drops rows but never redistributes them) —
    a caller-chosen layout (Z-order range partitioning, an IVF
    index's cluster-column partitioning, a test's n-file setup) that
    size-targeting must respect, exactly as AQE respects
    user-specified repartitioning."""
    node = df._jdf.queryExecution().analyzed()
    for _ in range(8):
        name = node.getClass().getSimpleName()
        if name in ("Repartition", "RepartitionByExpression"):
            return True
        if name not in ("Sort", "Project", "SubqueryAlias", "Filter"):
            return False
        children = node.children()
        if children.size() != 1:
            return False
        node = children.apply(0)
    return False


def _has_generate(df: DataFrame) -> bool:
    """Whether the analyzed plan, with cached sub-plans substituted,
    contains a Generate (explode/posexplode/inline) node. Generate
    passes its CHILD's size estimate through, so it is the one common
    operator that can UNDER-estimate output bytes — size-targeting
    bails out rather than over-coalesce a genuinely large exploded
    write. A Generate inside a cached relation does not count: the
    relation's estimate is its materialized size (the IVM refresh
    stages its aggregate MERGE from a persisted frame whose lineage
    holds the change feed's diff generator). Probed via Catalyst's
    tree-pattern bitset — O(1) per call (a py4j node walk measured
    ~15 ms on a modest plan; merge staging plans are far bigger and
    stage several writes per query)."""
    jvm = df.sparkSession._jvm
    pat = jvm.org.apache.spark.sql.catalyst.trees.TreePattern.GENERATE()
    return bool(
        df._jdf.queryExecution().withCachedData().containsPattern(pat)
    )


def _size_targeted(df: DataFrame) -> DataFrame:
    """Coalesce a SMALL staged write down to its byte-targeted file
    count. The plan's static size estimate divided by the target
    file size gives the part count; only writes whose target count is
    below the cluster's parallelism are touched — a large write
    already yields reasonably sized per-partition files (and
    ``maybe_optimize`` owns long-term layout), while an un-coalesced
    SMALL commit inherits the plan's full shuffle partitioning and
    litters dozens of KB-sized parts that every later discovery
    scan, footer harvest and CDF read must enumerate. The default
    size-only estimators over-estimate (Filter/Aggregate pass
    through child bytes, joins multiply) for every common operator
    EXCEPT Generate — explode also passes child bytes through,
    UNDER-estimating — so Generate-bearing plans bail out and
    everything else mis-estimates toward MORE files than optimal,
    never a parallelism collapse. ``coalesce`` above a shuffle keeps
    the map side's parallelism; narrow lineages are bounded by
    ~target bytes of input per task. A JVM error while probing the
    plan (py4j, or the JVM exception PySpark re-raises) stages the
    frame unsized and logs why.
    """
    try:
        spark = df.sparkSession
        target = int(
            spark.conf.get(
                TARGET_FILE_BYTES_PROP, str(TARGET_FILE_BYTES)
            )
        )
        if (
            target <= 0
            or _has_root_repartition(df)
            or _has_generate(df)
        ):
            return df
        est = int(
            df._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()  # py4j converts the scala BigInt to int
        )
        n = max(1, -(-est // target))
        if n < spark.sparkContext.defaultParallelism:
            return df.coalesce(n)
    except (Py4JError, CapturedException) as e:
        _log.warning(
            "size-targeting skipped, staging the write unsized: %s", e
        )
    return df


def stage_parquet_parts(
    df: DataFrame,
    table_path: str,
    partition_by: list[str] | None,
    data_subdir: str = "",
) -> list[StagedPart]:
    """Write ``df`` as parquet parts under ``table_path`` (optionally
    inside ``data_subdir``, e.g. Iceberg's ``data/``) via a staging
    dir; returns the staged parts with hive partition values parsed
    from the directory layout."""
    staging = os.path.join(table_path, f"_staging-{uuid.uuid4().hex}")
    writer = _size_targeted(df).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    parts: list[StagedPart] = []
    try:
        for root, _dirs, names in os.walk(staging):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(root, name)
                reldir = os.path.relpath(root, staging)
                part_values: dict[str, str | None] = {}
                comps = [] if reldir == "." else reldir.split(os.sep)
                for comp in comps:
                    k, _, v = comp.partition("=")
                    part_values[unquote(k)] = (
                        None if v == _HIVE_NULL else unquote(v)
                    )
                new_name = f"part-{uuid.uuid4().hex}.snappy.parquet"
                rel = os.path.join(
                    *(
                        ([data_subdir] if data_subdir else [])
                        + (comps if reldir != "." else [])
                        + [new_name]
                    )
                )
                dst = os.path.join(table_path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                stats = stats_from_footer(src)
                os.replace(src, dst)
                parts.append(
                    StagedPart(
                        path=rel.replace(os.sep, "/"),
                        partition_values=part_values,
                        size=os.path.getsize(dst),
                        mtime_ms=int(os.path.getmtime(dst) * 1000),
                        stats=stats,
                    )
                )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return parts


def touched_files(
    snapshot_df: DataFrame, table_path: str, row_filter
) -> list[str]:
    """Relative paths of parts holding ≥1 row matched by
    ``row_filter`` (a function df→df) — the file-pruning step both
    formats' MERGE/DELETE share. One Spark job; the collect is
    bounded by the FILE count, never the row count.

    ``_metadata.file_path`` is a percent-ENCODED URI; ``unquote``
    restores the literal on-disk name (which may itself contain
    Spark's %XX partition-value escapes). A frame that ALREADY
    carries a table-relative ``__file`` column (an Iceberg
    merge-on-read scan — ``_metadata`` is unresolvable through its
    delete anti-join) is used as-is."""
    if "__file" in snapshot_df.columns:
        hits = (
            row_filter(snapshot_df)
            .select("__file")
            .distinct()
            .collect()
        )
        return sorted({r["__file"] for r in hits})
    df = snapshot_df.withColumn(
        "__file", F.col("_metadata.file_path")
    )
    hits = row_filter(df).select("__file").distinct().collect()
    table_abs = os.path.abspath(table_path)
    rel = []
    for r in hits:
        p = unquote(urlparse(r["__file"]).path) or r["__file"]
        rel.append(
            os.path.relpath(os.path.abspath(p), table_abs).replace(
                os.sep, "/"
            )
        )
    return sorted(set(rel))
