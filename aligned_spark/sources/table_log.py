"""Format-neutral table-log core shared by Delta and Iceberg.

Delta and Iceberg are two encodings of one writable-source contract
(insert / upsert / overwrite) over the same physical layout: immutable
parquet parts, a log of which parts are live, and position-delete side
files for merge-on-read (MOR). This module decides WHAT a write does,
once for both formats:

- touched-file discovery for MERGE/DELETE (a file-pruning semi-join,
  narrowed by source key ranges and bloom sidecars behind a
  candidate-bytes gate);
- the copy-on-write survivor rewrite of ``merge_upsert`` (with the
  ``drop_src`` whenMatchedDelete fold), ``replace_where`` and
  ``delete_where``;
- the (file_path, pos) pair discovery of ``delete_where_mor`` and
  ``merge_upsert_mor``;
- when a rewrite pre-materializes its change rows, and which merge
  keys a keyless rewrite records for the keyed change-feed diff
  (replaceWhere rides the last MERGE's; a DELETE records none);
- the compaction policy (``should_compact``, ``maybe_optimize``,
  ``compact_small``'s selection) and ``optimize``'s layout;
- CHECK constraints, table properties and bloom-filter pruning.

HOW a snapshot and a commit are encoded stays with each format's
codec subclass — :class:`~aligned_spark.sources.delta_log.DeltaLog`
(JSON actions, checkpoints, ``commitInfo``) and
:class:`~aligned_spark.sources.iceberg_log.IcebergLog`
(``metadata.json``, Avro manifests, the snapshot summary). A codec
provides:

- ``_head()``: the current snapshot, an object with ``files`` and
  ``delete_files`` (rel path -> the format's own entry, read lazily
  through the accessors below) and ``partition_columns``; plus
  ``_schema_of``, ``_props_of`` and ``_id_of`` (the value a no-op
  mutation returns);
- per-entry accessors ``_file_bytes``, ``_file_rows``,
  ``_delete_rows``, the footer-stat filter ``_range_match`` and the
  bloom pair ``_bloom_indexed`` / ``_bloom_may_contain``;
- staging: ``_stage`` (parquet parts + bloom sidecars, returned as
  rel path -> entry), ``_stage_change_data`` and ``_stage_deletes``;
- pending metadata: ``_evolve`` (schema) and ``_with_props``;
- commits: ``_commit_properties``, ``_commit_rewrite``, ``_commit_mor``
  and ``_commit_optimize``; plus ``exists``, ``write`` and ``read``.
"""

from __future__ import annotations

import json
import os
from dataclasses import replace
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

#: Touched-file count at/above which a CoW rewrite commit
#: PRE-MATERIALIZES its row-level changes as ``_change_data/``
#: parquet (Delta: recorded via ``cdc`` actions; Iceberg: the
#: snapshot summary's ``change-data-dir``) — upstream Delta's CDF
#: design (the writer already has both sides of the diff at MERGE
#: time). CDF readers (batch and the change stream) prefer these: a
#: large historical MERGE replays as a plain per-part scan with full
#: cluster parallelism instead of a read-time diff. Below the
#: threshold the read-time diff stays cheaper than the extra write
#: amplification. Override per table with the
#: ``aligned.changeData.thresholdFiles`` property.
CHANGE_DATA_THRESHOLD_PROP = "aligned.changeData.thresholdFiles"
CHANGE_DATA_FILE_THRESHOLD = 8
#: ... AND at least this many touched BYTES (log metadata sum): a
#: 20-file rewrite of tiny parts diffs at read time in well under the
#: extra write cost, while a 20-file rewrite of 128 MB parts is
#: exactly the one-task-diff hazard the change files exist for.
CHANGE_DATA_BYTES_PROP = "aligned.changeData.thresholdBytes"
CHANGE_DATA_BYTES_THRESHOLD = 32 << 20
#: ... OR at least this many touched bytes REGARDLESS of file count:
#: the one-task-diff hazard is BYTES funneled through a single stream
#: diff task, not file count — a rewrite touching 2-7 multi-GB parts
#: must still materialize change files even though it fails the
#: file-count gate. Override per table with
#: ``aligned.changeData.thresholdBytesLarge``.
CHANGE_DATA_BYTES_LARGE_PROP = "aligned.changeData.thresholdBytesLarge"
CHANGE_DATA_BYTES_LARGE_THRESHOLD = 256 << 20
#: MERGE/MOR-merge touched-file DISCOVERY skips its dynamic pruning
#: passes (the source-key MIN/MAX job and the bloom-sidecar probes)
#: when the live candidate set is at most this many BYTES (log
#: metadata sum — free): below it the discovery scan reads the whole
#: candidate set for less than the pruning passes' own fixed job
#: latency, so pruning can only add time. At warehouse scale the live
#: set dwarfs this and pruning always engages — a cost-based planner
#: gate, not a local-mode tune. Override per table with
#: ``aligned.merge.pruneMinBytes``.
MERGE_PRUNE_MIN_BYTES_PROP = "aligned.merge.pruneMinBytes"
MERGE_PRUNE_MIN_BYTES = 256 << 20


def merge_schemas(old: StructType, new: StructType) -> StructType:
    """Schema EVOLUTION merge: columns of ``old`` keep their order
    and types; columns only in ``new`` append as nullable. A
    same-name column with a different type is an error — silent
    coercion across historical parts is how tables rot."""
    by_name = {f.name: f for f in old.fields}
    for f in new.fields:
        have = by_name.get(f.name)
        if have is not None and have.dataType != f.dataType:
            raise ValueError(
                f"schema evolution cannot change column {f.name!r} "
                f"from {have.dataType} to {f.dataType}"
            )
    added = [
        StructField(f.name, f.dataType, True)
        for f in new.fields
        if f.name not in by_name
    ]
    return StructType([*old.fields, *added])


def _not(cond: Column) -> Column:
    """Rows a predicate does NOT select; a NULL predicate keeps the
    row, like SQL DELETE."""
    return ~F.coalesce(cond, F.lit(False))


def _pairs_of(df: DataFrame) -> DataFrame:
    """The (file_path, pos) position-delete pairs of a ``keep_meta``
    scan."""
    return df.select(
        F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
    )


class TableLog:
    """Write core over a per-format codec (see the module docstring).

    Subclasses are dataclasses with a ``table_path`` field and set
    the codec class attributes below."""

    table_path: str
    #: table property recording the last MERGE's keys
    _MERGE_KEYS_PROP: str
    #: table-property prefix of CHECK constraints
    _CONSTRAINT_PFX: str
    #: data-file directory under the table root ("" = the root)
    _DATA_DIR = ""
    #: project scans in table-schema column order; False keeps the
    #: reader's order (hive partition columns last)
    _SCHEMA_ORDER_SCAN = False
    #: write self-describing bloom sidecars (the format's metadata
    #: cannot carry per-part bloom refs)
    _BLOOM_HEADER = False

    #: small-file policy defaults: a part under 32 MiB is "small"
    #: (a quarter of the classic 128 MiB scan target), and 16 of
    #: them warrant a bin-pack — at one trickle commit per
    #: micro-batch that bounds steady-state table file count while
    #: amortizing each compaction over ≥16 ingested batches
    SMALL_FILE_BYTES = 32 << 20
    MAX_SMALL_FILES = 16

    # ------------------------------------------------- table metadata

    @staticmethod
    def _prop_int(props: dict, key: str, default: int) -> int:
        try:
            return int(props.get(key, default))
        except (TypeError, ValueError):
            return default

    def _recorded_keys(self, snap: Any) -> list[str] | None:
        """Merge keys the table recorded at its last MERGE, for a
        keyless rewrite commit (replaceWhere): the keyed
        full-outer diff emits true update pairs where the whole-row
        aggregate fallback emits delete+insert. Only
        tables that have MERGEd (key discipline established) qualify;
        genuinely keyless tables still fall back."""
        mk = self._props_of(snap).get(self._MERGE_KEYS_PROP)
        return mk.split(",") if mk else None

    def _with_merge_keys(
        self, snap: Any, keys: list[str], target: Any | None = None
    ) -> Any | None:
        """``target`` (the pending metadata change, if any) plus the
        merge-key property when it differs from the recorded one —
        so later keyless rewrites can take the keyed diff."""
        base = target if target is not None else snap
        props = self._props_of(base)
        mk = ",".join(keys)
        if props.get(self._MERGE_KEYS_PROP) == mk:
            return target
        return self._with_props(base, {**props, self._MERGE_KEYS_PROP: mk})

    def set_properties(self, props: dict[str, Any]) -> int:
        """SET TBLPROPERTIES: merge ``props`` into the table
        properties in one metadata commit (a None value unsets the
        key) — e.g. ``aligned.changeData.thresholdFiles`` to tune
        when rewrites pre-materialize change files."""
        snap = self._head()
        cur = dict(self._props_of(snap))
        for k, val in props.items():
            if val is None:
                cur.pop(k, None)
            else:
                cur[k] = str(val)
        return self._commit_properties(
            snap,
            cur,
            "SET TBLPROPERTIES",
            {"properties": json.dumps(props, default=str)},
        )

    def _detail(self, snap: Any) -> dict[str, Any]:
        """DESCRIBE DETAIL's table-level operational stats, from log
        metadata alone (no data scan)."""
        return {
            "numFiles": len(snap.files),
            "sizeInBytes": sum(
                self._file_bytes(e) for e in snap.files.values()
            ),
            "numRows": sum(self._file_rows(e) for e in snap.files.values()),
            "numDeleteFiles": len(snap.delete_files),
            "numDeletedRows": sum(
                self._delete_rows(d) for d in snap.delete_files.values()
            ),
            "partitionColumns": snap.partition_columns,
        }

    # ------------------------------------------- CHECK constraints

    def _constraints_in(self, props: dict[str, Any]) -> dict[str, str]:
        p = self._CONSTRAINT_PFX
        return {k[len(p):]: v for k, v in props.items() if k.startswith(p)}

    def constraints(self) -> dict[str, str]:
        """Table CHECK constraints, carried in the table properties
        (Delta's protocol ``delta.constraints.<name>`` configuration;
        Iceberg has no spec-level CHECK, so engines layer validation
        on properties — same posture here)."""
        return self._constraints_in(self._props_of(self._head()))

    def add_constraint(
        self, spark: SparkSession, name: str, expr_sql: str
    ) -> int:
        """ALTER TABLE ADD CONSTRAINT: existing rows must already
        satisfy the expression (one validation scan, like
        delta-spark), then the constraint rides the metadata and
        every future write validates against it."""
        n = self.read(spark).filter(_not(F.expr(expr_sql))).count()
        if n:
            raise ValueError(
                f"cannot add constraint {name!r}: {n} existing "
                f"row(s) violate ({expr_sql})"
            )
        snap = self._head()
        return self._commit_properties(
            snap,
            {**self._props_of(snap), self._CONSTRAINT_PFX + name: expr_sql},
            "ADD CONSTRAINT",
            {"name": name, "expr": expr_sql},
        )

    def drop_constraint(self, name: str) -> int:
        snap = self._head()
        props = dict(self._props_of(snap))
        if props.pop(self._CONSTRAINT_PFX + name, None) is None:
            raise ValueError(f"no such constraint: {name}")
        return self._commit_properties(
            snap, props, "DROP CONSTRAINT", {"name": name}
        )

    def _enforce_constraints(self, df: DataFrame, snap: Any) -> None:
        """Writer-side CHECK enforcement (protocol requirement): a
        violating batch fails the WHOLE write before any commit —
        one scan of the incoming rows per constrained table, zero
        cost on unconstrained ones."""
        checks = list(self._constraints_in(self._props_of(snap)).items())
        if not checks:
            return
        pred = None
        for _, expr_sql in checks:
            ok = F.coalesce(F.expr(expr_sql), F.lit(False))
            pred = ok if pred is None else (pred & ok)
        if not df.filter(~pred).isEmpty():
            names = ", ".join(n for n, _ in checks)
            raise ValueError(
                f"write violates CHECK constraint(s) [{names}] on "
                f"{self.table_path}"
            )

    # ------------------------------------------------ bloom sidecars

    def set_bloom_filter(
        self, columns: list[str], fpp: float | None = None
    ) -> int:
        """Opt columns into per-part bloom sidecars (the
        ``aligned.bloomFilter`` table property; the engine's
        ``delta.bloomFilter.*`` analogue — see
        :mod:`aligned_spark.sources.bloom`, incl. the fpp-vs-probe-set
        sizing math). Applies to parts staged from now on; run
        :meth:`optimize` afterwards to index existing data
        (compaction re-stages every part)."""
        from aligned_spark.sources.bloom import BLOOM_PROP

        if fpp is not None and not 0.0 < fpp < 1.0:
            raise ValueError(
                f"bloom fpp must be in (0, 1), got {fpp!r}"
            )
        snap = self._head()
        props = dict(self._props_of(snap))
        if columns:
            spec: dict[str, Any] = {"columns": sorted(columns)}
            if fpp is not None:
                spec["fpp"] = fpp
            props[BLOOM_PROP] = json.dumps(spec)
        else:
            props.pop(BLOOM_PROP, None)
        return self._commit_properties(
            snap,
            props,
            "SET TBLPROPERTIES",
            {"bloomFilterColumns": json.dumps(sorted(columns))},
        )

    def _attach_blooms(
        self,
        snap: Any,
        df: DataFrame,
        adds: list[dict[str, Any]],
        partition_by: list[str] | None,
    ) -> None:
        """Build bloom sidecars for freshly staged parts (``path`` +
        footer ``stats`` dicts) when the table has indexed columns:
        one distributed job per indexed column over ONLY those parts.
        Pre-property parts simply have no sidecar and stay
        unprunable (sound)."""
        from aligned_spark.sources.bloom import attach_blooms, bloom_config_of

        cols, fpp = bloom_config_of({"configuration": self._props_of(snap)})
        if not cols or not adds:
            return
        part_cols = set(partition_by or [])
        attach_blooms(
            df.sparkSession,
            self.table_path,
            adds,
            [c for c in cols if c not in part_cols],
            df.select(*[c for c in df.columns if c not in part_cols]).schema,
            len(part_cols),
            fpp,
            data_dir=self._DATA_DIR,
            header=self._BLOOM_HEADER,
        )

    def _bloom_prune(
        self,
        spark: SparkSession,
        snap: Any,
        paths: list[str],
        predicates: list[tuple[str, str, Any]],
    ) -> list[str]:
        """Drop candidates whose bloom sidecars PROVE no equality
        predicate value is present. Probe hashes are computed by the
        same JVM xxhash64 the build used, with the literal cast to
        the TABLE column type (a type-mismatched hash would prune
        unsoundly, so the cast is mandatory, not cosmetic). Sound
        superset: files without a sidecar always survive."""
        import numpy as np

        from aligned_spark.sources import bloom as B

        eq = [(c, v) for c, op, v in predicates if op == "="]
        if not eq or not paths:
            return paths
        schema = self._schema_of(snap)
        if schema is None:
            return paths
        types = {f.name: f.dataType for f in schema.fields}
        indexed = [
            (c, v)
            for c, v in eq
            if c in types and self._bloom_indexed(snap, c, paths)
        ]
        if not indexed:
            return paths
        probe = spark.range(1).select(
            *[
                x
                for c, v in indexed
                for x in B.hash_pair_lit(c, v, types[c])
            ]
        ).first()
        out = []
        for p in paths:
            keep = True
            for i, (c, _) in enumerate(indexed):
                h1, h2 = probe[2 * i], probe[2 * i + 1]
                if h1 is None:
                    continue  # null literal — bloom can't speak
                pairs = np.array([[h1, h2]], dtype=np.int64)
                if not self._bloom_may_contain(snap, p, c, pairs):
                    keep = False
                    break
            if keep:
                out.append(p)
        return out

    # ------------------------------------------------------- scans

    def _abs(self, rel: str) -> str:
        return os.path.join(self.table_path, rel)

    @staticmethod
    def _rel_file_col(n_partition_cols: int, data_subdir: int = 0):
        """Table-relative path of the file a row came from, derived
        from ``_metadata.file_path`` — matches the log's data-file
        paths and the delete files' ``file_path``.

        Derivation is by SEGMENT COUNT, not prefix matching: the rel
        path is exactly the last ``n_partition_cols + 1`` URI
        segments (+``data_subdir`` for formats with a data dir), so
        it is immune to whatever the TABLE path contains ('/data/',
        spaces, symlink divergence — prefix regexes break on all
        three; partition VALUES never add segments because hive
        %2F-encodes '/'). ``_metadata`` reports a percent-encoded
        URI; %XX decodes back to the literal on-disk name, with
        literal '+' protected first (url_decode is form-decoding and
        would turn it into a space — Hadoop URIs never '+'-encode)."""
        n = n_partition_cols + 1 + data_subdir
        joined = F.array_join(
            F.slice(
                F.split(F.col("_metadata.file_path"), "/"), -n, n
            ),
            "/",
        )
        return F.url_decode(
            F.regexp_replace(joined, r"\+", "%2B")
        )

    def _delete_pairs(
        self,
        spark: SparkSession,
        snap: Any,
        paths: list[str] | None = None,
    ) -> DataFrame | None:
        """(file_path, pos) rows of the snapshot's position-delete
        files, optionally restricted to the data files being scanned.
        None when the snapshot carries no deletes."""
        if not snap.delete_files:
            return None
        pairs = spark.read.schema("file_path string, pos long").parquet(
            *[self._abs(p) for p in sorted(snap.delete_files)]
        )
        if paths is not None:
            pairs = pairs.filter(F.col("file_path").isin(sorted(paths)))
        return pairs

    def _scan(
        self,
        spark: SparkSession,
        snap: Any,
        paths: list[str] | None = None,
        keep_meta: bool = False,
    ) -> DataFrame:
        """Plan a read of ``paths`` (default: every live part) with
        the snapshot's position deletes APPLIED: the data scan
        carries (file, row_index) from ``_metadata`` and anti-joins
        the delete pairs — AQE broadcasts the (small) delete side.
        ``keep_meta=True`` keeps ``__file``/``__pos`` for callers
        that need row positions (the MOR writers)."""
        paths = sorted(snap.files) if paths is None else sorted(paths)
        schema = self._schema_of(snap)
        if not paths:
            df = spark.createDataFrame([], schema)
            if keep_meta:
                df = df.withColumn(
                    "__file", F.lit(None).cast("string")
                ).withColumn("__pos", F.lit(None).cast("long"))
            return df
        reader = spark.read.option(
            "basePath",
            self._abs(self._DATA_DIR) if self._DATA_DIR else self.table_path,
        )
        if schema is not None:
            # explicit reader schema: fixes column ORDER and TYPES to
            # the table schema (hive partition dirs would infer), and
            # projects NULL for evolved columns absent from old parts
            reader = reader.schema(schema)
        df = reader.parquet(*[self._abs(p) for p in paths])
        cols = (
            schema.fieldNames() if self._SCHEMA_ORDER_SCAN else df.columns
        )
        pairs = self._delete_pairs(spark, snap, paths)
        if pairs is None and not keep_meta:
            return df if cols == df.columns else df.select(*cols)
        df = df.withColumn(
            "__file",
            self._rel_file_col(
                len(snap.partition_columns), int(bool(self._DATA_DIR))
            ),
        ).withColumn("__pos", F.col("_metadata.row_index"))
        if pairs is not None:
            df = df.join(
                pairs.withColumnRenamed("file_path", "__file")
                .withColumnRenamed("pos", "__pos"),
                ["__file", "__pos"],
                "left_anti",
            )
        return df if keep_meta else df.select(*cols)

    def _skip(
        self,
        spark: SparkSession,
        snap: Any,
        skipping: list[tuple[str, str, Any]] | None,
    ) -> list[str]:
        """Live parts a read with ``skipping`` — ``(column, op,
        value)`` triples, op in <=, >=, = — must scan: parts whose
        footer stats PROVE no row can match are dropped before Spark
        lists them (sound with position deletes too: a delete only
        SHRINKS a file's live rows, so the bounds stay a superset),
        and equality probes additionally consult the bloom sidecars —
        the pruning min/max can't do on uniform keys. The caller still
        applies the row filter: skipping is sound, not complete."""
        paths = sorted(snap.files)
        if not skipping:
            return paths
        paths = self._range_match(snap, paths, skipping)
        return self._bloom_prune(spark, snap, paths, skipping)

    # ----------------------------------------- touched-file discovery

    def _touched_files(
        self,
        spark: SparkSession,
        snap: Any,
        row_filter,
        paths: list[str] | None = None,
    ) -> list[str]:
        """Relative paths of live parts holding ≥1 row matched by
        ``row_filter`` (shared machinery:
        :func:`aligned_spark.sources.parts.touched_files`).
        ``paths`` restricts the discovery scan to a pre-pruned
        candidate set (must be a sound superset of the truly touched
        files — see :meth:`_key_range_candidates`)."""
        from aligned_spark.sources.parts import touched_files

        scan_paths = (
            sorted(snap.files) if paths is None else sorted(paths)
        )
        if not scan_paths:
            return []
        # keep_meta carries the table-relative __file column through
        # the (possible) merge-on-read delete anti-join — _metadata
        # itself is unresolvable past that join
        return touched_files(
            self._scan(spark, snap, scan_paths, keep_meta=True),
            self.table_path,
            row_filter,
        )

    def _key_range_candidates(
        self, snap: Any, src_keys: DataFrame, keys: list[str]
    ) -> list[str]:
        """Dynamic file pruning for the MERGE touched-file discovery
        (delta-spark's dynamic file pruning contour): one map-side-
        combinable MIN/MAX over the source's first key column becomes
        footer-stat range predicates, so a bounded-key-range merge
        (the overwhelming 100 TB contour — recent keys into a
        clustered/Z-ordered table) discovers its touched files by
        scanning only range-overlapping parts, never the table.
        Sound SUPERSET: files without stats on the key column always
        remain candidates, and incomparable types skip pruning."""
        paths = sorted(snap.files)
        if not paths:
            return paths
        col = keys[0]
        row = src_keys.agg(
            F.min(col).alias("lo"), F.max(col).alias("hi")
        ).first()
        lo, hi = row["lo"], row["hi"]
        if lo is None:  # empty or all-null source keys
            return paths
        paths = self._range_match(
            snap, paths, [(col, ">=", lo), (col, "<=", hi)]
        )
        return self._bloom_key_candidates(snap, src_keys, col, paths)

    def _bloom_key_candidates(
        self,
        snap: Any,
        src_keys: DataFrame,
        col: str,
        paths: list[str],
    ) -> list[str]:
        """Second discovery stage: probe range-surviving candidates'
        bloom sidecars with the source's distinct key hashes — the
        pruning that works when keys are uniform and every part's
        range overlaps every key. Engages only when (a) the column is
        bloom-indexed on ≥1 candidate, (b) the source key dtype
        EQUALS the table dtype (hash compatibility), and (c) the
        distinct key set fits the driver probe cap; otherwise returns
        ``paths`` unchanged (sound superset)."""
        from aligned_spark.sources import bloom as B

        if not paths or not self._bloom_indexed(snap, col, paths):
            return paths
        tbl_type = next(
            (
                f.dataType
                for f in self._schema_of(snap).fields
                if f.name == col
            ),
            None,
        )
        src_type = next(
            (f.dataType for f in src_keys.schema.fields if f.name == col),
            None,
        )
        if tbl_type is None or src_type != tbl_type:
            return paths
        pairs = B.collect_probe_pairs(src_keys.select(col), col)
        if pairs is None:
            return paths  # key set over the cap — range-only
        return [
            p for p in paths if self._bloom_may_contain(snap, p, col, pairs)
        ]

    def _prune_merge_candidates(
        self, snap: Any, src_keys: DataFrame, keys: list[str]
    ) -> list[str]:
        """MERGE discovery candidates, with the pruning passes gated
        on candidate bytes (:data:`MERGE_PRUNE_MIN_BYTES`): when the
        whole live set costs less to scan than the pruning jobs'
        fixed latency, return it unpruned."""
        paths = sorted(snap.files)
        floor = self._prop_int(
            self._props_of(snap),
            MERGE_PRUNE_MIN_BYTES_PROP,
            MERGE_PRUNE_MIN_BYTES,
        )
        live = sum(self._file_bytes(snap.files[p]) for p in paths)
        if live <= floor:
            return paths
        return self._key_range_candidates(snap, src_keys, keys)

    # ----------------------------------------------- change files

    def _cdc_materialize(self, snap: Any, touched: list[str]) -> bool:
        """Whether this rewrite is big enough to pre-materialize its
        change files. Two triggers (all from log metadata, no I/O):

        - touched FILE COUNT and touched BYTES both cross their
          (small) thresholds — the dual gate, kept as the
          small-rewrite opt-out: tiny rewrites diff at read time in
          well under the extra write cost; OR
        - touched BYTES alone cross the LARGE threshold — the
          one-task-diff hazard is bytes funneled through a single
          stream-diff task, so a rewrite touching 2-7 multi-GB parts
          must materialize even though it fails the file-count gate."""
        if not touched:
            return False
        props = self._props_of(snap)
        f_thr = self._prop_int(
            props, CHANGE_DATA_THRESHOLD_PROP, CHANGE_DATA_FILE_THRESHOLD
        )
        b_thr = self._prop_int(
            props, CHANGE_DATA_BYTES_PROP, CHANGE_DATA_BYTES_THRESHOLD
        )
        b_large = self._prop_int(
            props,
            CHANGE_DATA_BYTES_LARGE_PROP,
            CHANGE_DATA_BYTES_LARGE_THRESHOLD,
        )
        size = sum(
            self._file_bytes(snap.files.get(p) or {}) for p in touched
        )
        if size >= b_large:
            return True
        return len(touched) >= f_thr and size >= b_thr

    def _rewrite_changes(
        self,
        spark: SparkSession,
        snap: Any,
        touched: list[str],
        staged: dict[str, Any],
        keys: list[str] | None,
    ) -> Any:
        """Stage a large rewrite's row-level changes (the writer has
        both sides anyway) so CDF readers scan change files with
        per-part parallelism instead of diffing this many-file commit
        at read time. Old side = touched parts at the parent (its
        position deletes applied); new side = the STAGED parts'
        actual bytes — byte-faithful to what a read-time diff sees.
        Keyed when ``keys`` are known, matching the reader's
        fallback."""
        from aligned_spark.sources.cdc import diff_rewrite

        cols = self._schema_of(snap).fieldNames()
        new_side = self._scan(
            spark, replace(snap, delete_files={}), list(staged)
        ).select(*cols)
        changes = diff_rewrite(
            self._scan(spark, snap, touched).select(*cols),
            new_side,
            cols,
            keys,
            "_commit_version",
            0,
        )
        # the diff's generator hides the output size from the staging
        # size estimate, so spread the change files over the touched
        # parts explicitly (per-part parallelism for CDF readers)
        n = min(len(touched), spark.sparkContext.defaultParallelism)
        return self._stage_change_data(changes.repartition(n), cols)

    # ------------------------------------------------- change feeds

    def _change_file_rows(
        self,
        spark: SparkSession,
        schema: StructType,
        paths: list[str],
        version_col: str,
        version: int,
    ) -> DataFrame:
        """A commit's pre-materialized change files as change-feed
        rows: a plain per-part scan, no read-time diff — upstream
        Delta CDF semantics."""
        ch_schema = StructType(
            [*schema.fields, StructField("_change_type", StringType(), False)]
        )
        return (
            spark.read.schema(ch_schema)
            .parquet(*[self._abs(p) for p in paths])
            .select(
                *schema.fieldNames(),
                "_change_type",
                F.lit(version).cast("long").alias(version_col),
            )
        )

    def _deleted_rows(
        self,
        spark: SparkSession,
        parent: Any,
        delete_paths: list[str],
        cols: list[str],
    ) -> DataFrame:
        """Rows a merge-on-read commit's new position-delete files
        kill, read at the PARENT snapshot (its deletes applied, so
        already-dead rows can't re-emit), scanning only the data
        files the pairs reference (bounded: one rel path per touched
        data file reaches the driver)."""
        pairs = spark.read.schema("file_path string, pos long").parquet(
            *[self._abs(p) for p in sorted(delete_paths)]
        )
        hit = [r[0] for r in pairs.select("file_path").distinct().collect()]
        return (
            self._scan(spark, parent, hit, keep_meta=True)
            .join(
                pairs.withColumnRenamed("file_path", "__file")
                .withColumnRenamed("pos", "__pos"),
                ["__file", "__pos"],
                "left_semi",
            )
            .select(*cols)
        )

    def _commit_changes(
        self,
        spark: SparkSession,
        prev: Any,
        cur: Any,
        added: list[str],
        removed: list[str],
        new_deletes: list[str],
        cols: list[str],
        keys: list[str] | None,
        version_col: str,
        version: int,
    ) -> DataFrame:
        """Row-level changes of one commit with no change files,
        from the parts it added and removed and the position-delete
        files it added, each side scanned at ITS snapshot with its
        position deletes applied — so the cost is a scan of the
        touched parts, never the table. A rewrite is diffed in one
        shuffle (:func:`~aligned_spark.sources.cdc.diff_rewrite`):
        one full-outer join on ``keys`` when the commit recorded
        them, so updates pair up, else one whole-row aggregate."""
        from aligned_spark.sources.cdc import diff_rewrite, tag_changes

        if new_deletes:  # merge-on-read: the pairs' rows (+ appends)
            old = self._deleted_rows(spark, prev, new_deletes, cols)
        elif not removed:  # pure append — no old content to diff
            return tag_changes(
                self._scan(spark, cur, added),
                cols,
                "insert",
                version_col,
                version,
            )
        else:  # copy-on-write rewrite of the removed parts
            old = self._scan(spark, prev, removed)
        if not added:  # every old row deleted
            return tag_changes(old, cols, "delete", version_col, version)
        return diff_rewrite(
            old,
            self._scan(spark, cur, added),
            cols,
            keys,
            version_col,
            version,
        )

    # ------------------------------------------- copy-on-write writes

    def merge_upsert(
        self,
        df: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
        txn: "tuple[str, int] | list[tuple[str, int]] | None" = None,
        merge_schema: bool = False,
        drop_src: Column | None = None,
    ) -> int:
        """MERGE: whenMatchedUpdateAll + whenNotMatchedInsertAll.

        Only parts containing a matched key are rewritten: a semi-join
        on ``_metadata.file_path`` finds them, their survivors
        (anti-join on the keys) are unioned with ALL source rows and
        rewritten; every untouched part is carried over by doing
        nothing. Callers must pre-dedup the source on ``keys``.
        ``txn`` records a writer-transaction watermark atomically
        with the data (see ``txn_version``).

        ``drop_src`` is whenMatchedDelete folded into the same
        commit: source rows matching it contribute their KEYS (their
        old rows are dropped from the touched parts' survivors) but
        are not themselves written — a MERGE-then-DELETE pair as one
        atomic rewrite, saving the second commit's discovery scan and
        rewrite of the freshly written parts.

        Source columns not in the table schema raise unless
        ``merge_schema=True`` (delta-spark ``schema.autoMerge``; the
        Iceberg spec's evolution rule), which widens the table schema
        in the same commit — untouched parts project NULL for the new
        columns via the explicit reader schema."""
        if not self.exists():
            if drop_src is not None:
                df = df.filter(_not(drop_src))
            return self.write(df, "append", partition_by, txn=txn)
        spark = df.sparkSession
        # One logical source, three physical consumers (key-range
        # probe, touched-file discovery semi-join, staging write):
        # persist so the source plan computes ONCE per MERGE instead
        # of once per internal job — the dominant cost when the
        # source is itself an expensive derivation (an IVM span
        # recompute, a CDC fold). A caller-persisted frame keeps its
        # own cache untouched.
        own_cache = not df.is_cached
        if own_cache:
            df = df.persist()
        try:
            return self._merge_upsert_inner(
                spark, df, keys, partition_by, txn, merge_schema,
                drop_src,
            )
        finally:
            if own_cache:
                df.unpersist()

    def _merge_upsert_inner(
        self,
        spark: SparkSession,
        df: DataFrame,
        keys: list[str],
        partition_by: list[str] | None,
        txn: Any,
        merge_schema: bool,
        drop_src: Column | None,
    ) -> int:
        snap = self._head()
        self._enforce_constraints(df, snap)
        table_cols = self._schema_of(snap).fieldNames()
        evolved = self._evolve(snap, df.schema)
        if evolved is not None:
            if not merge_schema:
                extra = [c for c in df.columns if c not in table_cols]
                raise ValueError(
                    f"MERGE source has columns {extra} not in the "
                    f"table schema; pass merge_schema=True to evolve"
                )
            # additive evolution only, and the source must carry
            # every EXISTING column: updateAll replaces matched rows
            # whole, so a source missing old columns would silently
            # null them on update — refuse instead
            missing = sorted(set(table_cols) - set(df.columns))
            if missing:
                raise ValueError(
                    f"merge_schema MERGE source must carry every "
                    f"existing table column; missing: {missing}"
                )
        src_keys = df.select(*keys).distinct()
        touched = self._touched_files(
            spark,
            snap,
            lambda cur: cur.join(src_keys, keys, "left_semi"),
            paths=self._prune_merge_candidates(snap, src_keys, keys),
        )
        target = evolved if evolved is not None else snap
        src = df
        if drop_src is not None:
            # whenMatchedDelete rows: keys participate in discovery
            # and survivor filtering above; the rows themselves are
            # never written
            src = df.filter(_not(drop_src))
        out = src.select(*self._schema_of(target).fieldNames())
        if touched:
            # _scan applies any position deletes on the touched parts
            # — a CoW rewrite must not resurrect MOR-deleted rows;
            # under evolution the survivors project NULL for the new
            # columns (allowMissingColumns)
            survivors = (
                self._scan(spark, snap, touched)
                .select(*table_cols)
                .join(src_keys, keys, "left_anti")
            )
            out = survivors.unionByName(
                out, allowMissingColumns=evolved is not None
            )
        staged = self._stage(target, out, partition_by)
        changes = None
        if evolved is None and self._cdc_materialize(snap, touched):
            changes = self._rewrite_changes(
                spark, snap, touched, staged, keys
            )
        return self._commit_rewrite(
            snap,
            touched,
            staged,
            changes,
            "merge",
            keys,
            txn,
            self._with_merge_keys(snap, keys, evolved),
        )

    def replace_where(
        self,
        df: DataFrame,
        predicate: Column,
        validate: bool = True,
    ) -> int:
        """``replaceWhere``: atomically replace exactly the rows
        matching ``predicate`` with ``df`` in ONE commit — the
        idiomatic partition/date-range refresh (delete_where + insert
        would be TWO commits with a visible gap). Only parts
        containing a matching row rewrite. ``validate`` enforces the
        upstream contract that every inserted row satisfies the
        predicate (one count over the new data). On a not-yet-
        existing table this CREATES it (matching delta-spark's
        overwrite+replaceWhere); schema drift/extra columns are
        rejected like every other write path — replaceWhere never
        evolves the schema."""
        spark = df.sparkSession
        cond = F.coalesce(predicate, F.lit(False))
        if validate:
            bad = df.filter(~cond).count()
            if bad:
                raise ValueError(
                    f"replaceWhere: {bad} inserted row(s) violate "
                    f"the predicate"
                )
        if not self.exists():
            return self.write(df, "append")
        snap = self._head()
        self._enforce_constraints(df, snap)
        cols = self._schema_of(snap).fieldNames()
        extra = [c for c in df.columns if c not in cols]
        if extra:
            raise ValueError(
                f"replaceWhere has columns {extra} not in the table "
                f"schema; replaceWhere never evolves the schema"
            )
        merge_schemas(self._schema_of(snap), df.schema)  # type drift
        touched = self._touched_files(
            spark, snap, lambda cur: cur.filter(cond)
        )
        out = df.select(*cols)
        if touched:
            survivors = (
                self._scan(spark, snap, touched)
                .select(*cols)
                .filter(~cond)
            )
            out = survivors.unionByName(out)
        staged = self._stage(snap, out)
        keys = self._recorded_keys(snap)
        changes = None
        if self._cdc_materialize(snap, touched):
            changes = self._rewrite_changes(
                spark, snap, touched, staged, keys
            )
        return self._commit_rewrite(
            snap, touched, staged, changes, "replace_where", keys
        )

    def delete_where(self, spark: SparkSession, predicate: Column) -> int:
        """DELETE rows matching ``predicate`` (NULL-valued predicates
        keep the row, like SQL DELETE). Only parts containing a match
        rewrite."""
        snap = self._head()
        cond = F.coalesce(predicate, F.lit(False))
        touched = self._touched_files(
            spark, snap, lambda cur: cur.filter(cond)
        )
        if not touched:
            return self._id_of(snap)
        cols = self._schema_of(snap).fieldNames()
        old = self._scan(spark, snap, touched).select(*cols)
        staged = self._stage(snap, old.filter(~cond))
        changes = None
        if self._cdc_materialize(snap, touched):
            # large DELETE: materialize the deleted rows as change
            # files so CDF readers never diff this many-file commit
            changes = self._stage_change_data(
                old.filter(cond).withColumn(
                    "_change_type", F.lit("delete")
                ),
                cols,
            )
        # no merge keys: a DELETE can only delete, and the keyless diff
        # says so even where the recorded keys repeat within a part
        return self._commit_rewrite(snap, touched, staged, changes, "delete")

    # ------------------------------------------ merge-on-read writes

    def _stage_pairs(self, snap: Any, pairs: DataFrame) -> Any:
        """Stage (file_path, pos) pairs as position-delete parquet,
        sorted by file then position (the Iceberg spec's order) and
        range-clustered so each delete file covers few data files."""
        return self._stage_deletes(
            snap,
            pairs.repartitionByRange("file_path", "pos")
            .sortWithinPartitions("file_path", "pos"),
        )

    def delete_where_mor(
        self,
        spark: SparkSession,
        predicate: Column,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Merge-on-read DELETE: a matching row costs ONE
        (file_path, pos) pair in a small position-delete file — no
        data part is rewritten, unlike :meth:`delete_where` (whose
        rewrite cost is proportional to touched-part BYTES, the thing
        that hurts at 100 TB). Reads apply the pairs with a broadcast
        anti-join on the scan's ``_metadata`` (file, row_index);
        :meth:`optimize` compacts them away."""
        snap = self._head()
        if not snap.files:
            return self._id_of(snap)
        cond = F.coalesce(predicate, F.lit(False))
        pairs = _pairs_of(
            self._scan(spark, snap, keep_meta=True).filter(cond)
        ).persist()
        try:
            if pairs.isEmpty():
                return self._id_of(snap)
            deletes = self._stage_pairs(snap, pairs)
        finally:
            pairs.unpersist()
        return self._commit_mor(snap, None, deletes, txn=txn)

    def merge_upsert_mor(
        self,
        df: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Merge-on-read MERGE: matched old rows become position-
        delete pairs, ALL source rows append as new parts — zero data
        rewrites (a 1-row upsert into a 100 TB table writes one tiny
        delete file and one tiny part). Same logical contract as
        :meth:`merge_upsert`; the change feeds reconstruct the
        identical update-pair feed from the pairs + appended parts."""
        if not self.exists():
            return self.write(df, "append", partition_by, txn=txn)
        spark = df.sparkSession
        snap = self._head()
        self._enforce_constraints(df, snap)
        # two physical consumers (key probes + staging write) — same
        # single-computation discipline as the CoW MERGE
        own_cache = not df.is_cached
        if own_cache:
            df = df.persist()
        try:
            return self._merge_upsert_mor_inner(
                spark, df, snap, keys, partition_by, txn
            )
        finally:
            if own_cache:
                df.unpersist()

    def _merge_upsert_mor_inner(
        self,
        spark: SparkSession,
        df: DataFrame,
        snap: Any,
        keys: list[str],
        partition_by: list[str] | None,
        txn: tuple[str, int] | None,
    ) -> int:
        src_keys = df.select(*keys).distinct()
        # pair discovery scans only key-range-overlapping parts
        # (same dynamic file pruning as the CoW MERGE, same
        # candidate-bytes gate); nothing to match degrades to a
        # plain append
        cand = self._prune_merge_candidates(snap, src_keys, keys)
        if not snap.files or not cand:
            return self.write(df, "append", partition_by, txn=txn)
        pairs = _pairs_of(
            self._scan(spark, snap, cand, keep_meta=True).join(
                src_keys, keys, "left_semi"
            )
        ).persist()
        try:
            staged = self._stage(
                snap,
                df.select(*self._schema_of(snap).fieldNames()),
                partition_by,
            )
            deletes = (
                None if pairs.isEmpty() else self._stage_pairs(snap, pairs)
            )
        finally:
            pairs.unpersist()
        return self._commit_mor(
            snap,
            staged,
            deletes,
            keys,
            txn,
            self._with_merge_keys(snap, keys),
        )

    # ---------------------------------------------------- compaction

    def _compact_reason(
        self,
        max_deleted_ratio: float,
        max_delete_files: int,
        max_small_files: int,
        small_file_bytes: int,
    ) -> str | None:
        """'mor' | 'small' | None — which policy threshold fired
        (metadata-only, no data scan)."""
        snap = self._head()
        n_deletes = len(snap.delete_files)
        if n_deletes:
            rows = sum(self._file_rows(e) for e in snap.files.values())
            dead = sum(
                self._delete_rows(d) for d in snap.delete_files.values()
            )
            if n_deletes >= max_delete_files or (
                rows > 0 and dead / rows >= max_deleted_ratio
            ):
                return "mor"
        n_small = sum(
            1
            for e in snap.files.values()
            if self._file_bytes(e) < small_file_bytes
        )
        if n_small >= max_small_files:
            return "small"
        return None

    def should_compact(
        self,
        max_deleted_ratio: float = 0.1,
        max_delete_files: int = 8,
        max_small_files: int | None = None,
        small_file_bytes: int | None = None,
    ) -> bool:
        """Metadata-only OPTIMIZE trigger (no data scan): compact
        when merge-on-read state OR small-file accumulation crosses a
        threshold. The MOR defaults come from the measured read
        economics (PERF.md round 8): a pairs-applied read costs
        ~4-5x a plain read regardless of delete-file COUNT, and
        OPTIMIZE pays for itself in ~2-3 full reads — so any
        sustained full-scan traffic justifies compacting as soon as
        MOR state is non-trivial. The small-file trigger is the
        trickle-ingest counterpart: a streaming sink appending one
        small part per micro-batch degrades scans linearly in file
        count; 16 parts under 32 MiB fire a bin-pack of ONLY those
        parts (:meth:`compact_small`)."""
        return (
            self._compact_reason(
                max_deleted_ratio,
                max_delete_files,
                max_small_files
                if max_small_files is not None
                else self.MAX_SMALL_FILES,
                small_file_bytes
                if small_file_bytes is not None
                else self.SMALL_FILE_BYTES,
            )
            is not None
        )

    def compact_small(
        self,
        spark: SparkSession,
        small_file_bytes: int | None = None,
    ) -> int | None:
        """Bin-pack ONLY the live parts under ``small_file_bytes``
        into ~128 MiB files (delta-spark OPTIMIZE's minFileSize
        semantics; Iceberg ``rewriteDataFiles`` with a min-file-size
        filter): big, well-sized parts are never rewritten, so the
        cost tracks the trickle backlog, not the table. Sound with
        merge-on-read state — the rewrite read applies the position
        deletes of the compacted parts (materializing them), and
        pairs referencing the removed parts dangle harmlessly (scans
        filter pairs to scanned files). The commit is invisible to
        streams and change feeds."""
        if small_file_bytes is None:
            small_file_bytes = self.SMALL_FILE_BYTES
        snap = self._head()
        small = sorted(
            p
            for p, e in snap.files.items()
            if self._file_bytes(e) < small_file_bytes
        )
        if len(small) < 2:
            return None
        total = sum(self._file_bytes(snap.files[p]) for p in small)
        n_out = max(1, total // (128 << 20) + 1)
        df = self._scan(spark, snap, small).coalesce(int(n_out))
        return self._commit_rewrite(
            snap, small, self._stage(snap, df), None, "compact"
        )

    def maybe_optimize(
        self,
        spark: SparkSession,
        max_deleted_ratio: float = 0.1,
        max_delete_files: int = 8,
        max_small_files: int | None = None,
        small_file_bytes: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> bool:
        """Run compaction iff :meth:`should_compact` — the write-path
        hook the streaming sinks and IVM refresh call after their
        commits so compaction rides the pipeline instead of a
        separate cron. MOR-triggered state takes the full
        :meth:`optimize` (drops the delete files); small-file-
        triggered state takes the bounded :meth:`compact_small`
        bin-pack."""
        sfb = (
            small_file_bytes
            if small_file_bytes is not None
            else self.SMALL_FILE_BYTES
        )
        reason = self._compact_reason(
            max_deleted_ratio,
            max_delete_files,
            max_small_files
            if max_small_files is not None
            else self.MAX_SMALL_FILES,
            sfb,
        )
        if reason is None:
            return False
        if reason == "small":
            return self.compact_small(spark, sfb) is not None
        self.optimize(spark, zorder_by=zorder_by)
        return True

    def optimize(
        self,
        spark: SparkSession,
        zorder_by: list[str] | None = None,
        target_rows_per_file: int | None = None,
    ) -> int:
        """Compaction: rewrite all live parts as fewer, optionally
        Z-ORDER-clustered files (reuses
        :func:`aligned_spark.operators.layout.cluster_by_zorder`, so
        footer min/max stats become selective on every z-ordered
        column). The rewrite read applies the position deletes, so
        the commit drops every delete file; change feeds skip it
        because no logical row changed."""
        snap = self._head()
        if not snap.files:
            return self._id_of(snap)
        df = self._scan(spark, snap)
        n_files = None
        if target_rows_per_file:
            n_files = max(1, df.count() // target_rows_per_file)
        if zorder_by:
            from aligned_spark.operators.layout import cluster_by_zorder

            # range-repartition on the interleaved key + in-part sort
            # (cluster_by_zorder): every output file covers a
            # contiguous z-range, so footer min/max narrow and the
            # stats-skipping payoff actually materializes — a plain
            # sortWithinPartitions leaves each file spanning the full
            # range (caught by the selectivity regression test)
            df = cluster_by_zorder(
                df,
                zorder_by,
                n_files or df.rdd.getNumPartitions(),
            )
        elif n_files:
            df = df.repartition(n_files)
        return self._commit_optimize(snap, self._stage(snap, df), zorder_by)
