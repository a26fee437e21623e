"""Pure-Python Delta Lake transaction log over local filesystems.

Implements the PUBLIC Delta protocol (delta.io PROTOCOL.md; reference
declares Delta its primary storage, ``aligned/sources/local.py:887``)
without the delta-spark jars, which are absent from this container: a
Delta table is nothing but immutable parquet parts plus a
``_delta_log/`` directory of numbered JSON commits, each a list of
newline-delimited actions:

- ``protocol``   — minReaderVersion / minWriterVersion;
- ``metaData``   — table id, schemaString (Spark StructType JSON —
  the same format delta-spark writes), partitionColumns;
- ``add``        — a live parquet part (path, partitionValues, size,
  modificationTime, dataChange, stats);
- ``remove``     — a tombstoned part;
- ``commitInfo`` — operation metadata (informational).

A SNAPSHOT at version V replays actions of commits 0..V in order:
last ``metaData`` wins, ``add`` inserts the path into the live set,
``remove`` deletes it. Every mutation below is therefore ACID on a
local filesystem:

- **atomicity/durability** — a commit is a single
  ``O_CREAT|O_EXCL`` create of ``_delta_log/<v>.json`` (fsync'd);
  readers either see the whole commit or none of it;
- **isolation** — optimistic concurrency: writers read the latest
  version, prepare parts, and commit at ``latest+1``; losing a race
  raises :class:`ConcurrentCommitError` and the caller retries
  against the new snapshot (same protocol real Delta uses — on S3 it
  needs a put-if-absent coordination service, which is exactly what
  this module's exclusive-create provides locally).

Scale design (100 TB): log replay is driver-side METADATA work — the
same place every Delta implementation does it — and is bounded by
parquet CHECKPOINTS: every ``checkpoint_interval`` commits the full
action state is compacted into ``<v>.checkpoint.parquet`` (typed
nested columns per the protocol) and ``_last_checkpoint`` points at
it, so a reader replays one parquet file plus the commits after it,
never the whole history. Data files are only ever pruned or added:
MERGE/DELETE rewrite ONLY the parts that contain a matching row
(found with one file-pruning semi-join on ``_metadata.file_path``),
and per-file min/max stats harvested from parquet FOOTERS at write
time drive data skipping in :meth:`DeltaLog.read` without opening a
single data file.
"""

from __future__ import annotations
from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# the write policy (and its constants, re-exported here for the
# existing import sites) lives in the format-neutral core
from aligned_spark.sources.table_log import (  # noqa: F401
    CHANGE_DATA_BYTES_LARGE_PROP,
    CHANGE_DATA_BYTES_LARGE_THRESHOLD,
    CHANGE_DATA_BYTES_PROP,
    CHANGE_DATA_BYTES_THRESHOLD,
    CHANGE_DATA_FILE_THRESHOLD,
    CHANGE_DATA_THRESHOLD_PROP,
    MERGE_PRUNE_MIN_BYTES,
    MERGE_PRUNE_MIN_BYTES_PROP,
    TableLog,
    merge_schemas,
)

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
#: table property recording the last MERGE's keys — lets keyless
#: rewrite commits (DELETE/replaceWhere) take read_cdf's keyed diff
_MERGE_KEYS_PROP = "aligned.mergeKeys"

# hive null-partition marker, footer-stat harvesting, and part
# staging live in aligned_spark.sources.parts (shared with Iceberg)


# Commit coordination primitive lives in log_store (put-if-absent on
# filesystem O_EXCL or S3 IfNoneMatch); re-exported here for the
# existing import sites (delta.py, iceberg_log.py, streaming/sinks.py).
from aligned_spark.sources.log_store import (  # noqa: E402
    ConcurrentCommitError,
    FileSystemLogStore,
)


@dataclass
class Snapshot:
    """Materialized view of the log at one version."""

    version: int
    metadata: dict[str, Any] | None
    files: dict[str, dict[str, Any]]  # relative path -> add action
    #: latest committed writer-transaction version per appId (the
    #: protocol's ``txn`` action — idempotent streaming writes)
    txns: dict[str, int] = field(default_factory=dict)
    #: live POSITION-DELETE sidecars (merge-on-read; the engine's
    #: ``deleteFile`` action, reader-feature-gated): rel path →
    #: {"path", "sizeInBytes", "cardinality"}. Reads anti-join their
    #: (file_path, pos) pairs against the data scan's _metadata.
    delete_files: dict[str, dict[str, Any]] = field(
        default_factory=dict
    )

    @property
    def partition_columns(self) -> list[str]:
        return (self.metadata or {}).get("partitionColumns", [])

    def schema(self) -> StructType | None:
        ss = (self.metadata or {}).get("schemaString")
        return StructType.fromJson(json.loads(ss)) if ss else None


def _pad(v: int) -> str:
    return f"{v:020d}"


@dataclass
class DeltaLog(TableLog):
    """Reader/writer for one table's ``_delta_log`` — the Delta codec
    of :class:`~aligned_spark.sources.table_log.TableLog`."""

    table_path: str
    checkpoint_interval: int = 10
    #: commit-coordination backend; None = filesystem O_EXCL on
    #: ``table_path/_delta_log``. Pass an
    #: :class:`~aligned_spark.sources.log_store.S3LogStore` to host
    #: the log on an object store with conditional-put coordination.
    log_store: Any | None = None

    _MERGE_KEYS_PROP = _MERGE_KEYS_PROP
    _CONSTRAINT_PFX = "delta.constraints."


    # ------------------------------------------------------------ log

    @property
    def log_dir(self) -> str:
        return os.path.join(self.table_path, "_delta_log")

    @property
    def _store(self) -> Any:
        if self.log_store is None:
            # cache: dataclass field doubles as the memo slot
            self.log_store = FileSystemLogStore(self.log_dir)
        return self.log_store

    def exists(self) -> bool:
        return self._store.exists(_pad(0) + ".json")

    def _versions(self) -> list[int]:
        while True:
            out = []
            for name in self._store.list_names():
                m = _COMMIT_RE.match(name)
                if m:
                    out.append(int(m.group(1)))
            out.sort()
            # A store that memoizes LIST results (S3LogStore) can
            # miss commits from OTHER writers. Commit versions are
            # dense-sequential, so ONE existence probe (HEAD, not
            # LIST) of the next expected commit detects external
            # progress; only then is the cache dropped and re-listed.
            if getattr(self._store, "_names_cache", None) is None:
                return out
            nxt = (out[-1] + 1) if out else 0
            if not self._store.exists(_pad(nxt) + ".json"):
                return out
            self._store.invalidate()

    def latest_version(self) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(
                f"not a Delta table (no _delta_log): {self.table_path}"
            )
        return vs[-1]

    def _last_checkpoint(self) -> int | None:
        if not self._store.exists("_last_checkpoint"):
            return None
        try:
            return int(
                json.loads(self._store.read_text("_last_checkpoint"))[
                    "version"
                ]
            )
        except (ValueError, KeyError, json.JSONDecodeError):
            return None

    def _read_commit(self, version: int) -> list[dict[str, Any]]:
        text = self._store.read_text(_pad(version) + ".json")
        return [
            json.loads(ln) for ln in text.splitlines() if ln.strip()
        ]

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Replay the log (checkpoint-accelerated) up to ``version``
        (default: latest)."""
        latest = self.latest_version()
        target = latest if version is None else version
        if target > latest or target < 0:
            raise ValueError(
                f"version {target} out of range [0, {latest}]"
            )
        meta: dict[str, Any] | None = None
        files: dict[str, dict[str, Any]] = {}
        txns: dict[str, int] = {}
        dels: dict[str, dict[str, Any]] = {}
        start = 0
        ck = self._last_checkpoint()
        if ck is not None and ck <= target:
            meta, files, txns, dels = self._read_checkpoint(ck)
            start = ck + 1
        state = Snapshot(
            version=target,
            metadata=meta,
            files=files,
            txns=txns,
            delete_files=dels,
        )
        for v in range(start, target + 1):
            self._apply_commit(state, self._read_commit(v))
        return state

    @staticmethod
    def _apply_commit(
        state: Snapshot, actions: list[dict[str, Any]]
    ) -> None:
        """Apply one commit's actions to a snapshot state in place —
        the single replay rule shared by :meth:`snapshot` and
        :meth:`read_cdf`'s incremental walk."""
        for action in actions:
            if "metaData" in action:
                state.metadata = action["metaData"]
            elif "deleteFile" in action:
                d = action["deleteFile"]
                if d.get("add", True):
                    state.delete_files[d["path"]] = d
                else:
                    state.delete_files.pop(d["path"], None)
            elif "add" in action:
                add = action["add"]
                if isinstance(add.get("stats"), str):
                    # wire form (protocol): stats is a serialized
                    # JSON string; parse back to the in-memory
                    # dict the skipping code consumes. Legacy
                    # object-form commits pass through unchanged.
                    try:
                        add = {
                            **add,
                            "stats": json.loads(add["stats"]),
                        }
                    except json.JSONDecodeError:
                        add = {**add, "stats": None}
                state.files[add["path"]] = add
            elif "remove" in action:
                state.files.pop(action["remove"]["path"], None)
            elif "txn" in action:
                t = action["txn"]
                state.txns[t["appId"]] = t["version"]

    # ----------------------------------------------------- committing

    def commit(
        self,
        actions: list[dict[str, Any]],
        version: int,
        operation: str,
        params: dict[str, Any] | None = None,
    ) -> int:
        """Atomically publish ``actions`` as commit ``version``.

        Put-if-absent of the commit file IS the concurrency control
        (``O_EXCL`` on filesystems, ``IfNoneMatch="*"`` on S3 —
        whichever the log store provides): exactly one writer wins a
        version; losers get :class:`ConcurrentCommitError` and must
        re-resolve against the new snapshot before retrying."""
        info = {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": operation,
                "operationParameters": params or {},
                "engineInfo": "aligned-spark-pydelta",
            }
        }
        # protocol wire form: add.stats is a SERIALIZED JSON string
        # (delta spec), not a nested object — a real delta-spark
        # reader deserializes it into a String field and would choke
        # on the object form; in-memory we keep the parsed dict
        def _wire(a: dict[str, Any]) -> dict[str, Any]:
            add = a.get("add")
            if add and isinstance(add.get("stats"), dict):
                return {
                    **a,
                    "add": {
                        **add,
                        "stats": json.dumps(
                            add["stats"], separators=(",", ":")
                        ),
                    },
                }
            return a

        payload = "".join(
            json.dumps(_wire(a), separators=(",", ":")) + "\n"
            for a in [info, *actions]
        )
        self._store.put_exclusive(
            _pad(version) + ".json", payload.encode("utf-8")
        )
        if (
            self.checkpoint_interval > 0
            and version > 0
            and version % self.checkpoint_interval == 0
        ):
            self._write_checkpoint(version)
        return version

    @staticmethod
    def _protocol_action(gated: bool) -> dict[str, Any]:
        """Base protocol, or — once position deletes exist — a
        reader/writer FEATURE GATE (protocol table features): a
        compliant foreign reader that does not understand
        ``aligned.positionDeletes`` must refuse the table rather
        than silently resurrect deleted rows. That is the
        protocol-lawful way to extend Delta; delta-spark regains
        access after OPTIMIZE compacts the deletes away and commits
        the base protocol back."""
        if not gated:
            return {"protocol": {**PROTOCOL}}
        return {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["aligned.positionDeletes"],
                "writerFeatures": ["aligned.positionDeletes"],
            }
        }

    # ---------------------------------------------------- checkpoints

    @staticmethod
    def _checkpoint_name(version: int) -> str:
        return _pad(version) + ".checkpoint.parquet"

    def _write_checkpoint(self, version: int) -> None:
        """Compact the snapshot at ``version`` into one parquet file
        with typed nested action columns (protocol §checkpoints), and
        repoint ``_last_checkpoint``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.snapshot(version)
        add_t = pa.struct(
            [
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
                ("stats", pa.string()),
                # bloom sidecar refs (JSON) — must survive
                # checkpoint-accelerated replay or skipping silently
                # dies after 10 commits (same class as the
                # constraints-in-configuration bug)
                ("bloomJson", pa.string()),
            ]
        )
        meta_t = pa.struct(
            [
                ("id", pa.string()),
                ("name", pa.string()),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", pa.map_(pa.string(), pa.string())),
                ("createdTime", pa.int64()),
            ]
        )
        proto_t = pa.struct(
            [
                ("minReaderVersion", pa.int32()),
                ("minWriterVersion", pa.int32()),
                ("readerFeatures", pa.list_(pa.string())),
                ("writerFeatures", pa.list_(pa.string())),
            ]
        )
        txn_t = pa.struct(
            [("appId", pa.string()), ("version", pa.int64())]
        )
        del_t = pa.struct(
            [
                ("path", pa.string()),
                ("sizeInBytes", pa.int64()),
                ("cardinality", pa.int64()),
            ]
        )
        # one action per row, exactly one non-null column per row
        md = snap.metadata or {}
        meta_row = {
            "id": md.get("id"),
            "name": md.get("name"),
            "schemaString": md.get("schemaString"),
            "partitionColumns": md.get("partitionColumns", []),
            # table properties (delta.constraints.* etc.) must survive
            # checkpoint-accelerated replay — delta-spark persists the
            # full metaData action in checkpoints
            "configuration": list(
                (md.get("configuration") or {}).items()
            ),
            "createdTime": md.get("createdTime"),
        }
        add_rows = [
            {
                "path": add["path"],
                "partitionValues": list(
                    (add.get("partitionValues") or {}).items()
                ),
                "size": add.get("size"),
                "modificationTime": add.get("modificationTime"),
                "dataChange": False,
                "stats": json.dumps(add.get("stats"))
                if add.get("stats")
                else None,
                "bloomJson": json.dumps(add["bloomFilters"])
                if add.get("bloomFilters")
                else None,
            }
            for add in snap.files.values()
        ]
        txn_rows = [
            {"appId": app, "version": v}
            for app, v in sorted(snap.txns.items())
        ]
        del_rows = [
            {
                "path": d["path"],
                "sizeInBytes": d.get("sizeInBytes"),
                "cardinality": d.get("cardinality"),
            }
            for d in snap.delete_files.values()
        ]
        pad = len(add_rows) + len(txn_rows) + len(del_rows)
        pre, post = [None, None], [None] * (
            len(txn_rows) + len(del_rows)
        )
        rows_add = pre + add_rows + post
        rows_txn = (
            pre
            + [None] * len(add_rows)
            + txn_rows
            + [None] * len(del_rows)
        )
        rows_del = (
            pre + [None] * (len(add_rows) + len(txn_rows)) + del_rows
        )
        rows_meta = [None, meta_row] + [None] * pad
        rows_proto = [
            self._protocol_action(bool(snap.delete_files))["protocol"],
            None,
        ] + [None] * pad
        table = pa.table(
            {
                "add": pa.array(rows_add, type=add_t),
                "metaData": pa.array(rows_meta, type=meta_t),
                "protocol": pa.array(rows_proto, type=proto_t),
                "txn": pa.array(rows_txn, type=txn_t),
                "deleteFile": pa.array(rows_del, type=del_t),
            }
        )
        n = len(rows_add)
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        self._store.put_atomic(
            self._checkpoint_name(version),
            buf.getvalue().to_pybytes(),
        )
        self._store.put_atomic(
            "_last_checkpoint",
            json.dumps({"version": version, "size": n}).encode(),
        )

    def _read_checkpoint(self, version: int) -> tuple[
        dict[str, Any] | None,
        dict[str, Any],
        dict[str, int],
        dict[str, dict[str, Any]],
    ]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = pq.read_table(
            pa.BufferReader(
                self._store.read_bytes(self._checkpoint_name(version))
            )
        ).to_pylist()
        meta: dict[str, Any] | None = None
        files: dict[str, dict[str, Any]] = {}
        txns: dict[str, int] = {}
        dels: dict[str, dict[str, Any]] = {}
        for r in rows:
            if r.get("deleteFile"):
                dels[r["deleteFile"]["path"]] = r["deleteFile"]
            if r.get("txn"):
                txns[r["txn"]["appId"]] = r["txn"]["version"]
            if r.get("metaData"):
                m = r["metaData"]
                meta = {
                    "id": m.get("id"),
                    "name": m.get("name"),
                    "schemaString": m.get("schemaString"),
                    "partitionColumns": m.get("partitionColumns") or [],
                    "configuration": dict(m.get("configuration") or []),
                    "createdTime": m.get("createdTime"),
                }
            if r.get("add"):
                a = dict(r["add"])
                a["partitionValues"] = dict(a.get("partitionValues") or [])
                if a.get("stats"):
                    a["stats"] = json.loads(a["stats"])
                if a.pop("bloomJson", None):
                    a["bloomFilters"] = json.loads(
                        r["add"]["bloomJson"]
                    )
                files[a["path"]] = a
        return meta, files, txns, dels


    # ------------------------------------------------- codec accessors

    def _head(self) -> Snapshot:
        return self.snapshot()

    @staticmethod
    def _schema_of(snap: Snapshot) -> StructType | None:
        return snap.schema()

    @staticmethod
    def _props_of(snap: Snapshot) -> dict[str, Any]:
        return (snap.metadata or {}).get("configuration") or {}

    @staticmethod
    def _id_of(snap: Snapshot) -> int:
        return snap.version

    @staticmethod
    def _file_bytes(add: dict[str, Any]) -> int:
        return int(add.get("size") or 0)

    @staticmethod
    def _file_rows(add: dict[str, Any]) -> int:
        return (add.get("stats") or {}).get("numRecords") or 0

    @staticmethod
    def _delete_rows(d: dict[str, Any]) -> int:
        return d.get("cardinality") or 0

    @staticmethod
    def _range_match(
        snap: Snapshot,
        paths: list[str],
        preds: list[tuple[str, str, Any]],
    ) -> list[str]:
        return [p for p in paths if _file_may_match(snap.files[p], preds)]

    @staticmethod
    def _bloom_indexed(snap: Snapshot, col: str, paths: list[str]) -> bool:
        return any(
            (snap.files[p].get("bloomFilters") or {}).get(col)
            for p in paths
        )

    def _bloom_may_contain(
        self, snap: Snapshot, path: str, col: str, pairs: Any
    ) -> bool:
        from aligned_spark.sources.bloom import probe_hashes

        return probe_hashes(self.table_path, snap.files[path], col, pairs)

    def _evolve(self, snap: Snapshot, schema: StructType) -> Snapshot | None:
        """``snap`` with ``schema``'s new columns appended, or None
        when nothing evolves (same-name type changes raise only
        then: a MERGE source's matching columns are not re-typed)."""
        table_schema = snap.schema()
        if table_schema is None or set(schema.names) <= set(
            table_schema.names
        ):
            return None
        evolved = merge_schemas(table_schema, schema)
        return replace(
            snap,
            metadata={**snap.metadata, "schemaString": evolved.json()},
        )

    @staticmethod
    def _with_props(snap: Snapshot, props: dict[str, Any]) -> Snapshot:
        return replace(
            snap, metadata={**(snap.metadata or {}), "configuration": props}
        )

    # -------------------------------------------------------- writing

    def _stage(
        self,
        snap: Snapshot | None,
        df: DataFrame,
        partition_by: list[str] | None = None,
    ) -> dict[str, dict[str, Any]]:
        """Stage parquet parts (shared machinery:
        :func:`aligned_spark.sources.parts.stage_parquet_parts`) and
        shape them as Delta ``add`` actions keyed by path — still
        invisible to readers until their commit lands. ``snap`` is
        the table the parts join (None while creating it)."""
        from aligned_spark.sources.parts import stage_parquet_parts

        if snap is not None:
            partition_by = partition_by or snap.partition_columns
        adds = [
            {
                "path": p.path,
                "partitionValues": p.partition_values,
                "size": p.size,
                "modificationTime": p.mtime_ms,
                "dataChange": True,
                "stats": p.stats,
            }
            for p in stage_parquet_parts(
                df, self.table_path, partition_by
            )
        ]
        if snap is not None:
            self._attach_blooms(snap, df, adds, partition_by)
        return {a["path"]: a for a in adds}

    def _stage_change_data(
        self, changes: DataFrame, cols: list[str]
    ) -> list[dict[str, Any]]:
        """Stage one rewrite commit's row-level changes (base columns
        + ``_change_type``; the version column is the commit's, added
        at read time) as ``_change_data/`` parquet and return their
        ``cdc`` actions. The actions ride the rewrite commit
        atomically; snapshot state ignores them (they are CDF-reader
        metadata, not table data), and vacuum reaps the files once
        they age out of the retention window like any other
        unreferenced part — the same trade as time travel."""
        from aligned_spark.sources.parts import stage_parquet_parts

        parts = stage_parquet_parts(
            changes.select(*cols, "_change_type"),
            self.table_path,
            None,
            data_subdir="_change_data",
        )
        return [
            {
                "cdc": {
                    "path": p.path,
                    "partitionValues": p.partition_values,
                    "size": p.size,
                    "dataChange": False,
                }
            }
            for p in parts
        ]

    def _metadata_action(
        self, df: DataFrame, partition_by: list[str] | None
    ) -> dict[str, Any]:
        return {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": df.schema.json(),
                "partitionColumns": partition_by or [],
                "configuration": {},
                "createdTime": int(time.time() * 1000),
            }
        }

    @staticmethod
    def _txn_action(
        txn: "tuple[str, int] | list[tuple[str, int]] | None",
    ) -> list[dict[str, Any]]:
        """One or several writer-transaction actions for a commit —
        a list records multiple (appId, version) cursors ATOMICALLY
        with the data (e.g. the IVM cursor pair: base version +
        micro-batch id)."""
        if txn is None:
            return []
        txns = [txn] if isinstance(txn, tuple) else list(txn)
        return [
            {
                "txn": {
                    "appId": app_id,
                    "version": int(version),
                    "lastUpdated": int(time.time() * 1000),
                }
            }
            for app_id, version in txns
        ]

    def txn_version(self, app_id: str) -> int | None:
        """Latest committed writer-transaction version for
        ``app_id`` (None if the table is new or the app unseen) —
        the replay guard for idempotent streaming sinks."""
        if not self.exists():
            return None
        return self.snapshot().txns.get(app_id)

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        merge_schema: bool = False,
    ) -> int:
        """``append`` adds parts; ``overwrite`` additionally
        tombstones every previously-live part (old versions stay
        readable — time travel). ``txn=(appId, version)`` records a
        writer-transaction action IN THE SAME COMMIT as the adds —
        the protocol's exactly-once primitive: a replayed batch
        either finds its version already committed (skip) or its
        earlier attempt never became visible."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unknown mode: {mode!r}")
        if not self.exists():
            adds = self._stage(None, df, partition_by)
            actions = [
                {"protocol": PROTOCOL},
                self._metadata_action(df, partition_by),
                *({"add": a} for a in adds.values()),
                *self._txn_action(txn),
            ]
            return self.commit(
                actions, 0, "WRITE", {"mode": "ErrorIfExists"}
            )
        snap = self.snapshot()
        partition_by = partition_by or snap.partition_columns
        table_schema = snap.schema()
        evolved: StructType | None = None
        if table_schema is not None and mode == "append":
            known = {f.name for f in table_schema.fields}
            extra = [f.name for f in df.schema.fields if f.name not in known]
            if extra and not merge_schema:
                raise ValueError(
                    f"append has columns {extra} not in the table "
                    f"schema; pass merge_schema=True to evolve"
                )
            if extra:
                evolved = merge_schemas(table_schema, df.schema)
            else:  # also validates no type drift on common columns
                merge_schemas(table_schema, df.schema)
        self._enforce_constraints(df, snap)
        adds = self._stage(snap, df, partition_by)
        actions: list[dict[str, Any]] = []
        if evolved is not None:
            meta = dict(snap.metadata)
            meta["schemaString"] = evolved.json()
            actions.append({"metaData": meta})
        if mode == "overwrite":
            actions += self._removes(snap.files, True)
            # delta-spark semantics: the table id and createdTime are
            # STABLE across overwrites (an overwrite replaces data,
            # not identity), and a schema change requires explicit
            # opt-in (overwriteSchema); here merge_schema doubles as
            # that flag. No metaData action at all when nothing
            # about the table definition changes.
            meta0 = dict(snap.metadata or {})
            schema_changed = table_schema is not None and (
                {f.name: f.dataType for f in table_schema.fields}
                != {f.name: f.dataType for f in df.schema.fields}
            )
            if schema_changed and not merge_schema:
                raise ValueError(
                    "overwrite changes the table schema; pass "
                    "merge_schema=True to replace it "
                    "(delta overwriteSchema semantics)"
                )
            part_changed = (partition_by or []) != (
                snap.partition_columns or []
            )
            if table_schema is None or schema_changed or part_changed:
                new_meta = self._metadata_action(df, partition_by)
                if meta0.get("id"):
                    new_meta["metaData"]["id"] = meta0["id"]
                if meta0.get("createdTime"):
                    new_meta["metaData"]["createdTime"] = meta0[
                        "createdTime"
                    ]
                # table properties (CHECK constraints etc.) survive an
                # overwrite/overwriteSchema — delta-spark preserves
                # configuration across data replacement; the batch was
                # already validated against them above.
                if meta0.get("configuration"):
                    new_meta["metaData"]["configuration"] = dict(
                        meta0["configuration"]
                    )
                actions.append(new_meta)
            # every data part is tombstoned, so every position-delete
            # sidecar is dead — prune them (and un-gate the protocol)
            # instead of leaving the table reader-feature-gated with
            # stale deleteFile entries
            actions += self._sidecar_prune_actions(
                snap, sorted(snap.files)
            )
        actions += [{"add": a} for a in adds.values()]
        actions += self._txn_action(txn)
        return self.commit(
            actions, snap.version + 1, "WRITE", {"mode": mode}
        )

    # -------------------------------------------------------- reading

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        skipping: list[tuple[str, str, Any]] | None = None,
    ) -> DataFrame:
        """Snapshot read. ``skipping`` is a list of
        ``(column, op, value)`` with op in <=, >=, = — files whose
        footer stats PROVE no row can match are dropped before Spark
        ever lists them (the filter itself must still be applied by
        the caller; skipping is sound, not complete)."""
        snap = self.snapshot(version)
        paths = self._skip(spark, snap, skipping)
        schema = snap.schema()
        if not paths:
            if schema is None:
                raise ValueError(
                    f"empty Delta table without metaData: "
                    f"{self.table_path}"
                )
            return spark.createDataFrame([], schema)
        return self._scan(spark, snap, paths)

    def _sidecar_refs(self, sidecars: list[str]) -> set[str]:
        """Data-file paths referenced by the given position-delete
        sidecars — driver-side, reading only the small sidecars'
        ``file_path`` column (same convention as
        :meth:`_sidecar_prune_actions`)."""
        if not sidecars:
            return set()
        import pyarrow.parquet as pq

        refs: set[str] = set()
        for rel in sidecars:
            try:
                refs |= set(
                    pq.read_table(self._abs(rel), columns=["file_path"])[
                        "file_path"
                    ].to_pylist()
                )
            except (OSError, KeyError):  # pragma: no cover
                continue
        return refs

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Rows ADDED between versions (EXCLUSIVE ``from_version``,
        inclusive ``to_version``/latest) — the incremental-consumer
        primitive: a reader tracks its last-seen version and scans
        only the new parts, never the table. Semantics match a Delta
        append-only change feed: ``dataChange=true`` adds only, so a
        MERGE/DELETE rewrite RE-EMITS its surviving rows (consumers
        needing exactly-once row delivery should dedup on keys or
        restrict the table to appends; real delta-spark streaming
        errors on such commits instead)."""
        latest = self.latest_version()
        to = latest if to_version is None else to_version
        if from_version > to:
            raise ValueError(
                f"from_version {from_version} > to_version {to}"
            )
        paths: list[str] = []
        for v in range(from_version + 1, to + 1):
            for action in self._read_commit(v):
                add = action.get("add")
                if add and add.get("dataChange", True):
                    paths.append(add["path"])
        schema = self.snapshot(to).schema()
        if not paths:
            return spark.createDataFrame([], schema)
        reader = spark.read.option("basePath", self.table_path)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[self._abs(p) for p in sorted(paths)])

    def read_cdf(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Change-data-feed reconstruction with PROPER row semantics
        (exclusive ``from_version``, inclusive ``to_version``):
        every row carries ``_change_type`` (insert / update_preimage
        / update_postimage / delete) and ``_commit_version``. Unlike
        :meth:`read_changes` (the cheap append feed), a copy-on-write
        rewrite does NOT re-emit its surviving rows: per rewrite
        commit the removed parts' old content is diffed against the
        added parts' new content in one shuffle — keyed (ONE
        full-outer join on the ``mergeKeys`` the MERGE recorded, every
        change row emitted from it by one generator) when available,
        else ONE whole-row signed-count aggregate with
        ``exceptAll``'s multiset semantics (updates then appear as
        delete+insert, still exactly-once); see
        :func:`~aligned_spark.sources.cdc.diff_rewrite`.

        Scale: cost per rewrite commit is one join (or aggregate)
        over ONLY its touched parts (the 1-row-MERGE-into-100 TB
        case reads the handful of rewritten files twice), append
        commits stay a pure scan of new parts — the same contour
        delta-spark's CDF-less reconstruction pays. Matches public
        Delta CDF column semantics (`_change_type`,
        `_commit_version`)."""
        latest = self.latest_version()
        to = latest if to_version is None else to_version
        if from_version > to:
            raise ValueError(
                f"from_version {from_version} > to_version {to}"
            )
        from aligned_spark.sources.cdc import diff_rewrite, tag_changes

        schema = self.snapshot(to).schema()
        cols = [f.name for f in schema.fields]
        pieces: list[DataFrame] = []
        empty = tag_changes(
            spark.createDataFrame([], schema),
            cols,
            "insert",
            "_commit_version",
            0,
        ).limit(0)
        # incremental snapshot walk: one full replay at from_version,
        # then each commit's actions advance a COPY of the state —
        # O(V) total instead of the O(V^2) of re-replaying the log
        # for both sides of every commit
        prev = self.snapshot(from_version)
        for v in range(from_version + 1, to + 1):
            actions_v = self._read_commit(v)
            cur = Snapshot(
                version=v,
                metadata=prev.metadata,
                files=dict(prev.files),
                txns=dict(prev.txns),
                delete_files=dict(prev.delete_files),
            )
            self._apply_commit(cur, actions_v)
            adds: list[str] = []
            removes: list[str] = []
            del_adds: list[str] = []
            del_drops: list[str] = []
            cdc_paths: list[str] = []
            keys: list[str] | None = None
            for action in actions_v:
                if "commitInfo" in action:
                    mk = (
                        action["commitInfo"]
                        .get("operationParameters", {})
                        .get("mergeKeys")
                    )
                    if mk:
                        keys = mk.split(",")
                elif "cdc" in action:
                    cdc_paths.append(action["cdc"]["path"])
                elif "deleteFile" in action:
                    if action["deleteFile"].get("add", True):
                        del_adds.append(action["deleteFile"]["path"])
                    else:
                        del_drops.append(action["deleteFile"]["path"])
                elif "add" in action:
                    if action["add"].get("dataChange", True):
                        adds.append(action["add"]["path"])
                elif "remove" in action:
                    if action["remove"].get("dataChange", True):
                        removes.append(action["remove"]["path"])
            if cdc_paths:
                # the writer pre-materialized this commit's changes
                # (_change_data parquet): a plain per-part scan, no
                # read-time diff — upstream Delta CDF semantics
                pieces.append(
                    self._change_file_rows(
                        spark,
                        schema,
                        sorted(cdc_paths),
                        "_commit_version",
                        v,
                    )
                )
                prev = cur
                continue
            # A dropped sidecar only changes rows when its pairs
            # reference files STILL LIVE after the commit (RESTORE
            # rolling back a MOR delete resurrects those rows);
            # compaction/prune drops reference compacted-away or
            # tombstoned parts and are pure metadata.
            resurrect_refs = {
                r
                for r in self._sidecar_refs(del_drops)
                if r in cur.files
            }
            if (
                not adds
                and not removes
                and not del_adds
                and not resurrect_refs
            ):
                prev = cur
                continue
            if (del_adds and removes) or resurrect_refs:
                # mixed commit (RESTORE across MOR state: part swaps
                # AND sidecar re-adds/drops in one commit): decompose-
                # per-action logic would miss deletes in removed parts
                # or resurrected rows, so diff the visible old vs new
                # content of every touched part — each side scanned at
                # ITS version with ITS position deletes applied. Cost
                # stays proportional to the touched parts, never the
                # table.
                pair_refs = {
                    r
                    for r in self._sidecar_refs(del_adds)
                    if r in cur.files
                } | resurrect_refs
                old_files = sorted(
                    (set(removes) | pair_refs) & set(prev.files)
                )
                new_files = sorted(
                    (set(adds) | pair_refs) & set(cur.files)
                )
                old = (
                    self._scan(spark, prev, old_files)
                    if old_files
                    else spark.createDataFrame([], schema)
                )
                new = (
                    self._scan(spark, cur, new_files)
                    if new_files
                    else spark.createDataFrame([], schema)
                )
                pieces.append(
                    diff_rewrite(old, new, cols, keys, "_commit_version", v)
                )
                prev = cur
                continue
            pieces.append(
                self._commit_changes(
                    spark,
                    prev,
                    cur,
                    adds,
                    removes,
                    del_adds,
                    cols,
                    keys,
                    "_commit_version",
                    v,
                )
            )
            prev = cur
        if not pieces:
            return empty
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def history(self) -> list[dict[str, Any]]:
        out = []
        for v in self._versions():
            for action in self._read_commit(v):
                if "commitInfo" in action:
                    out.append({"version": v, **action["commitInfo"]})
        return out

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF — roll the table state
        back to ``version`` as a NEW commit (history is preserved;
        the rollback itself is time-travelable, exactly like
        delta-spark's RESTORE). Data files are never touched: the
        commit re-adds the old version's live set and tombstones the
        rest, so it is pure metadata and VACUUM retention still
        protects the rolled-back files."""
        target = self.snapshot(version)
        head = self.snapshot()
        actions: list[dict[str, Any]] = []
        if target.metadata != head.metadata:
            actions.append({"metaData": target.metadata})
        actions += self._removes(
            sorted(set(head.files) - set(target.files)), True
        )
        for p in sorted(set(target.files) - set(head.files)):
            actions.append({"add": target.files[p]})
        # restore the delete-sidecar set too (merge-on-read state)
        for p in sorted(set(head.delete_files) - set(target.delete_files)):
            actions.append({"deleteFile": {"path": p, "add": False}})
        for p in sorted(set(target.delete_files) - set(head.delete_files)):
            actions.append({"deleteFile": target.delete_files[p]})
        actions.append(
            self._protocol_action(bool(target.delete_files))
        )
        return self.commit(
            actions,
            head.version + 1,
            "RESTORE",
            {"version": str(version)},
        )

    def detail(self) -> dict[str, Any]:
        """DESCRIBE DETAIL (see :meth:`_detail`) + table id, version
        and CHECK constraints."""
        snap = self.snapshot()
        return {
            "format": "delta",
            "id": (snap.metadata or {}).get("id"),
            **self._detail(snap),
            "version": snap.version,
            "constraints": self._constraints_in(self._props_of(snap)),
        }

    def version_at(self, timestamp_ms: int) -> int:
        """TIMESTAMP AS OF resolution (delta-spark semantics): the
        latest version whose commit time is <= the timestamp —
        driver-side metadata only."""
        best: int | None = None
        for h in self.history():
            if h.get("timestamp", 0) <= timestamp_ms:
                best = h["version"] if best is None else max(best, h["version"])
        if best is None:
            raise ValueError(
                f"no commit at or before timestamp {timestamp_ms} in "
                f"{self.table_path}"
            )
        return best

    # -------------------------------------------------- codec commits

    def _stage_deletes(
        self, snap: Snapshot, sorted_pairs: DataFrame
    ) -> list[dict[str, Any]]:
        """Write sorted (file_path, pos) pairs as position-delete
        parquet under ``_position_deletes/`` (underscore-prefixed:
        Spark's data listing and the vacuum walk treat it like other
        sidecar state) and return their engine ``deleteFile``
        actions."""
        from aligned_spark.sources.parts import stage_parquet_parts

        parts = stage_parquet_parts(
            sorted_pairs,
            self.table_path,
            None,
            data_subdir="_position_deletes",
        )
        return [
            {
                "deleteFile": {
                    "path": p.path,
                    "sizeInBytes": p.size,
                    "cardinality": p.stats.get("numRecords", 0),
                    "add": True,
                }
            }
            for p in parts
        ]

    def _sidecar_prune_actions(
        self, snap: Snapshot, removed: list[str]
    ) -> list[dict[str, Any]]:
        """When a CoW rewrite removes data files, delete sidecars
        whose pairs ALL reference removed files become dead weight —
        drop them (and restore the base protocol once none remain)
        so the table doesn't stay feature-gated forever. Sidecars
        are small by design; the check reads only their
        ``file_path`` column driver-side."""
        if not snap.delete_files or not removed:
            return []
        removed_set = set(removed)
        dropped = []
        for rel in sorted(snap.delete_files):
            refs = self._sidecar_refs([rel])
            if refs and refs <= removed_set:
                dropped.append(rel)
        actions: list[dict[str, Any]] = [
            {"deleteFile": {"path": p, "add": False}} for p in dropped
        ]
        if dropped and len(dropped) == len(snap.delete_files):
            actions.append(self._protocol_action(False))
        return actions

    @staticmethod
    def _removes(paths, data_change: bool) -> list[dict[str, Any]]:
        now = int(time.time() * 1000)
        return [
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now,
                    "dataChange": data_change,
                }
            }
            for p in paths
        ]

    def _commit_properties(
        self,
        snap: Snapshot,
        props: dict[str, Any],
        operation: str,
        params: dict[str, Any],
    ) -> int:
        return self.commit(
            [{"metaData": self._with_props(snap, props).metadata}],
            snap.version + 1,
            operation,
            params,
        )

    def _commit_rewrite(
        self,
        snap: Snapshot,
        removed: list[str],
        staged: dict[str, dict[str, Any]],
        changes: list[dict[str, Any]] | None,
        kind: str,
        keys: list[str] | None = None,
        txn: "tuple[str, int] | list[tuple[str, int]] | None" = None,
        target: Snapshot | None = None,
    ) -> int:
        """One copy-on-write commit: ``remove`` the rewritten parts,
        ``add`` the staged ones (+ ``cdc`` change files, ``txn``
        watermarks, dead-sidecar drops) and, when ``target`` carries
        a definition change (schema evolution, the merge-key
        property), ONE ``metaData`` action. Compaction (``kind``
        "compact") is ``dataChange=false``: invisible to streams and
        change feeds."""
        data_change = kind != "compact"
        for a in staged.values():
            a["dataChange"] = data_change
        actions = self._removes(removed, data_change)
        actions += [{"add": a} for a in staged.values()]
        actions += (changes or []) + self._txn_action(txn)
        if data_change:
            actions += self._sidecar_prune_actions(snap, removed)
        if target is not None:
            actions.append({"metaData": target.metadata})
        # mergeKeys lets read_cdf reconstruct update pre/post pairs
        # by key instead of falling back to row-diff
        mk = {"mergeKeys": ",".join(keys)} if keys else {}
        operation, params = {
            "merge": ("MERGE", {"predicate": " AND ".join(keys or []), **mk}),
            "replace_where": ("WRITE", {"mode": "replaceWhere", **mk}),
            "delete": ("DELETE", mk),
            "compact": (
                "OPTIMIZE",
                {"binPacked": "true", "numSmallFiles": str(len(removed))},
            ),
        }[kind]
        return self.commit(actions, snap.version + 1, operation, params)

    def _commit_mor(
        self,
        snap: Snapshot,
        staged: dict[str, dict[str, Any]] | None,
        deletes: list[dict[str, Any]] | None,
        keys: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        target: Snapshot | None = None,
    ) -> int:
        """One merge-on-read commit: ``deleteFile`` actions for the
        new pairs (a MERGE also ``add``s its staged parts; a DELETE
        has ``staged`` None). Position deletes raise the protocol to
        reader/writer table features, so a foreign reader that cannot
        apply the pairs refuses the table instead of resurrecting
        rows; :meth:`optimize` restores the base protocol."""
        actions = [
            self._protocol_action(bool(snap.delete_files or deletes)),
            *({"add": a} for a in (staged or {}).values()),
            *(deletes or []),
            *self._txn_action(txn),
        ]
        if target is not None:
            actions.append({"metaData": target.metadata})
        if staged is None:
            operation, params = "DELETE", {"mode": "merge-on-read"}
        else:
            operation = "MERGE"
            params = {"mode": "merge-on-read", "mergeKeys": ",".join(keys)}
        return self.commit(actions, snap.version + 1, operation, params)

    def _commit_optimize(
        self,
        snap: Snapshot,
        staged: dict[str, dict[str, Any]],
        zorder_by: list[str] | None,
    ) -> int:
        for a in staged.values():
            a["dataChange"] = False
        actions = self._removes(snap.files, False)
        actions += [{"add": a} for a in staged.values()]
        if snap.delete_files:
            # the rewrite materialized the deletes — drop the
            # sidecars and restore the base protocol so foreign
            # readers regain access
            actions += [
                {"deleteFile": {"path": p, "add": False}}
                for p in sorted(snap.delete_files)
            ]
            actions.append(self._protocol_action(False))
        return self.commit(
            actions,
            snap.version + 1,
            "OPTIMIZE",
            {"zOrderBy": zorder_by or []},
        )

    #: default vacuum retention — matches upstream Delta's 7 days
    DEFAULT_RETENTION_SECONDS = 7 * 24 * 3600

    def vacuum(
        self,
        dry_run: bool = False,
        retention_seconds: float | None = None,
    ) -> list[str]:
        """Physically delete parts no longer referenced by the LATEST
        snapshot (time travel to versions needing them stops working
        — the documented Delta trade-off). Stale staging leftovers
        are swept too.

        ``retention_seconds`` (default 7 days, like upstream Delta)
        protects CONCURRENT WRITERS: a writer stages parts and only
        then commits, so a freshly-staged file is unreferenced for a
        moment — deleting it would let the racing commit publish
        pointers to nothing. Only files older than the window are
        touched; pass 0 only when no other writer can be active."""
        if retention_seconds is None:
            retention_seconds = self.DEFAULT_RETENTION_SECONDS
        cutoff = time.time() - retention_seconds
        head = self.snapshot()
        live = set(head.files) | set(head.delete_files)
        # bloom sidecars of live parts are live too
        live |= {
            m["path"]
            for a in head.files.values()
            for m in (a.get("bloomFilters") or {}).values()
        }
        doomed: list[str] = []
        for root, dirs, names in os.walk(self.table_path):
            dirs[:] = [
                d
                for d in dirs
                if d != "_delta_log" and not d.startswith("_staging-")
            ]
            for name in names:
                # .inprogress: bloom temp files a dead task left
                # between open and os.replace — never referenced,
                # reaped once past the retention window
                if not name.endswith(
                    (".parquet", ".bloom", ".bloom.inprogress")
                ):
                    continue
                full = os.path.join(root, name)
                rel = os.path.relpath(full, self.table_path).replace(
                    os.sep, "/"
                )
                if rel in live:
                    continue
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue  # inside the retention window
                except FileNotFoundError:
                    continue
                doomed.append(rel)
        if not dry_run:
            for rel in doomed:
                try:
                    os.unlink(self._abs(rel))
                except FileNotFoundError:
                    pass
            for name in os.listdir(self.table_path):
                p = os.path.join(self.table_path, name)
                if name.startswith("_staging-"):
                    try:
                        recent = os.path.getmtime(p) > cutoff
                    except FileNotFoundError:
                        continue
                    if not recent:
                        shutil.rmtree(p, ignore_errors=True)
        return sorted(doomed)


def _file_may_match(
    add: dict[str, Any], predicates: list[tuple[str, str, Any]]
) -> bool:
    """Sound data-skipping: True unless footer stats PROVE the file
    cannot contain a matching row. Partition values participate as
    exact min=max stats."""
    stats = add.get("stats") or {}
    mins = dict(stats.get("minValues") or {})
    maxs = dict(stats.get("maxValues") or {})
    for k, v in (add.get("partitionValues") or {}).items():
        if v is not None:
            mins[k] = v
            maxs[k] = v
    for col, op, val in predicates:
        lo, hi = mins.get(col), maxs.get(col)
        if lo is None or hi is None:
            continue  # no stats — cannot prune
        try:
            if op == "=" and (val < lo or val > hi):
                return False
            if op == ">=" and hi < val:
                return False
            if op == "<=" and lo > val:
                return False
        except TypeError:  # incomparable types — cannot prune
            continue
    return True
