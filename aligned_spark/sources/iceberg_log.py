"""Pure-Python Apache Iceberg v1 table format over local filesystems.

Implements the PUBLIC Iceberg table spec (iceberg.apache.org/spec/;
reference ``aligned/sources/iceberg.py:71`` drives the same format
through pyiceberg) without the iceberg-spark-runtime jar or the
pyiceberg package, neither of which exists in this container:

- ``metadata/v<N>.metadata.json`` — table metadata: schema with
  FIELD IDS, partition spec, the snapshot list, current-snapshot-id,
  snapshot/metadata logs. One file per commit; the HadoopCatalog
  convention (atomic ``O_CREAT|O_EXCL`` create of the next version +
  ``version-hint.text``) is the commit protocol, giving the same
  optimistic concurrency as the Delta log (losers raise
  :class:`~aligned_spark.sources.delta_log.ConcurrentCommitError`-
  equivalent and retry);
- ``metadata/snap-<id>-*.avro`` — the MANIFEST LIST: one row per
  manifest with partition-spec id and added-snapshot id;
- ``metadata/<uuid>-m0.avro`` — MANIFEST files: one ``manifest_entry``
  row per data file (status ADDED/EXISTING/DELETED, nested
  ``data_file`` record with path, format, identity-partition tuple,
  record count, size). Avro container files are written/read by
  :mod:`aligned_spark.sources.avro_io` — the metadata layer is real
  Avro, as the spec requires, not JSON stand-ins;
- ``data/…`` — plain parquet parts staged by the same shared
  machinery as the Delta implementation
  (:mod:`aligned_spark.sources.parts`).

Snapshot semantics: each commit's manifest list enumerates the
manifests reachable at that snapshot; a reader resolves current (or
any historical) snapshot → manifest list → manifests → live data
files (status != DELETED). MERGE/DELETE use copy-on-write at file
granularity: only parts containing a matched row are rewritten; the
new snapshot's manifest list carries one manifest of EXISTING entries
for every untouched file plus ADDED entries for rewrites (deleted
files simply leave the list — prior snapshots still reference them,
so time travel keeps working).

Scale design (100 TB): identical posture to every Iceberg
implementation — planning is driver-side METADATA over manifest
files (O(files) Avro rows, split across manifests), data jobs are
Spark scans of the planned file set; identity partition values ride
the manifest entries for partition pruning without touching data
files. Supported column types cover the engine's surface (bool, int,
long, float, double, string, timestamp, date, binary, decimal,
list<primitive>); schema field-ids are assigned depth-first at
CREATE, as the spec requires.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aligned_spark.sources.avro_io import read_container, write_container
from aligned_spark.sources.log_store import ConcurrentCommitError
from aligned_spark.sources.parts import StagedPart, stage_parquet_parts
from aligned_spark.sources.table_log import TableLog

_VERSION_RE = re.compile(r"^v(\d+)\.metadata\.json$")
# process-local marker: the metadata version a snapshot was read at;
# set by current_metadata, consumed by commits, never written to disk
_READ_VERSION_KEY = "__read-version"
#: table property recording the last MERGE's keys — lets keyless
#: replaceWhere snapshots take the CDC keyed-diff path
_MERGE_KEYS_PROP = "aligned.merge-keys"

ADDED, EXISTING, DELETED = 1, 0, 2


# ----------------------------------------------------- schema mapping


def _iceberg_type(dt: T.DataType, next_id) -> Any:
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        return {
            "type": "list",
            "element-id": next_id(),
            "element": _iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    raise ValueError(f"unsupported Spark type for Iceberg: {dt}")


def _spark_type(it: Any) -> T.DataType:
    if isinstance(it, dict) and it.get("type") == "list":
        return T.ArrayType(
            _spark_type(it["element"]), not it["element-required"]
        )
    m = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "binary": T.BinaryType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
    }
    if it in m:
        return m[it]
    dm = re.match(r"decimal\((\d+),\s*(\d+)\)", str(it))
    if dm:
        return T.DecimalType(int(dm.group(1)), int(dm.group(2)))
    raise ValueError(f"unsupported Iceberg type: {it!r}")


def _schema_to_iceberg(schema: T.StructType) -> dict[str, Any]:
    counter = {"n": 0}

    def next_id() -> int:
        counter["n"] += 1
        return counter["n"]

    fields = []
    for f in schema.fields:
        fid = next_id()
        fields.append(
            {
                "id": fid,
                "name": f.name,
                "required": not f.nullable,
                "type": _iceberg_type(f.dataType, next_id),
            }
        )
    return {
        "type": "struct",
        "schema-id": 0,
        "fields": fields,
        "__last_column_id": counter["n"],
    }


def _evolve_iceberg_schema(
    md: dict[str, Any], new_spark: T.StructType
) -> dict[str, Any] | None:
    """Schema evolution: append columns of ``new_spark`` unknown to
    the current schema with FRESH field ids continuing from
    last-column-id (the spec's assignment rule); same-name type
    changes are rejected. Returns an updated metadata dict, or None
    when nothing evolves."""
    cur = md["schema"]
    by_name = {f["name"]: f for f in cur["fields"]}
    added = []
    for f in new_spark.fields:
        have = by_name.get(f.name)
        if have is not None:
            if _spark_type(have["type"]) != f.dataType:
                raise ValueError(
                    f"schema evolution cannot change column "
                    f"{f.name!r} from {have['type']!r} to {f.dataType}"
                )
            continue
        added.append(f)
    if not added:
        return None
    counter = {"n": md["last-column-id"]}

    def next_id() -> int:
        counter["n"] += 1
        return counter["n"]

    new_fields = list(cur["fields"])
    for f in added:
        fid = next_id()
        new_fields.append(
            {
                "id": fid,
                "name": f.name,
                "required": False,
                "type": _iceberg_type(f.dataType, next_id),
            }
        )
    schema_id = cur.get("schema-id", 0) + 1
    new_schema = {
        "type": "struct",
        "schema-id": schema_id,
        "fields": new_fields,
    }
    out = dict(md)
    out["schema"] = new_schema
    out["schemas"] = [*md.get("schemas", []), new_schema]
    out["current-schema-id"] = schema_id
    out["last-column-id"] = counter["n"]
    return out


def _schema_to_spark(ice: dict[str, Any]) -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                f["name"], _spark_type(f["type"]), not f["required"]
            )
            for f in ice["fields"]
        ]
    )


# ------------------------------------------------------- avro schemas


def _partition_avro_schema(spec_fields: list[dict[str, Any]]) -> dict:
    return {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": f["name"],
                "type": ["null", "string"],
                "default": None,
                "field-id": f["field-id"],
            }
            for f in spec_fields
        ],
    }


def _bounds_avro_schema(name: str, kid: int, vid: int) -> list:
    """Spec shape for ``lower_bounds``/``upper_bounds``: an optional
    Avro array of key/value records with ``logicalType: map`` (Avro
    maps take only string keys; Iceberg's field-id-keyed maps use
    this array encoding — spec §Appendix A)."""
    return [
        "null",
        {
            "type": "array",
            "logicalType": "map",
            "items": {
                "type": "record",
                "name": name,
                "fields": [
                    {"name": "key", "type": "int", "field-id": kid},
                    {
                        "name": "value",
                        "type": "bytes",
                        "field-id": vid,
                    },
                ],
            },
        },
    ]


def _bound_bytes(ice_type: Any, value: Any) -> bytes | None:
    """Iceberg single-value binary serialization (spec §Appendix D)
    of a footer-stat value; None = this value opts out of bounds
    (complex/decimal types, unparsable stats)."""
    import datetime as dt
    import struct as st

    try:
        if ice_type == "boolean":
            return b"\x01" if value else b"\x00"
        if ice_type == "int":
            return st.pack("<i", int(value))
        if ice_type == "long":
            return st.pack("<q", int(value))
        if ice_type == "float":
            return st.pack("<f", float(value))
        if ice_type == "double":
            return st.pack("<d", float(value))
        if ice_type == "string":
            return str(value).encode("utf-8")
        if ice_type == "timestamp":
            # footer stats serialize timestamps as NAIVE-UTC ISO
            # strings (parts._norm); the spec stores epoch MICROS
            ts = dt.datetime.fromisoformat(str(value))
            if ts.tzinfo is not None:
                ts = ts.astimezone(dt.timezone.utc).replace(
                    tzinfo=None
                )
            epoch = dt.datetime(1970, 1, 1)
            return st.pack(
                "<q",
                (ts - epoch) // dt.timedelta(microseconds=1),
            )
    except (ValueError, TypeError, OverflowError, st.error):
        return None
    return None


def _bound_value(ice_type: Any, raw: bytes) -> Any:
    """Inverse of :func:`_bound_bytes`; None = undecodable (treated
    as no bound — skipping stays sound)."""
    import datetime as dt
    import struct as st

    try:
        if ice_type == "boolean":
            return raw != b"\x00"
        if ice_type == "int":
            return st.unpack("<i", raw)[0]
        if ice_type == "long":
            return st.unpack("<q", raw)[0]
        if ice_type == "float":
            return st.unpack("<f", raw)[0]
        if ice_type == "double":
            return st.unpack("<d", raw)[0]
        if ice_type == "string":
            return raw.decode("utf-8")
        if ice_type == "timestamp":
            return dt.datetime(1970, 1, 1) + dt.timedelta(
                microseconds=st.unpack("<q", raw)[0]
            )
    except (ValueError, TypeError, st.error, UnicodeDecodeError):
        return None
    return None


def _iceberg_file_may_match(
    data_file: dict[str, Any],
    fields_by_id: dict[int, dict[str, Any]],
    predicates: list[tuple[str, str, Any]],
) -> bool:
    """Sound manifest-level data skipping: True unless the entry's
    ``lower_bounds``/``upper_bounds`` PROVE the file cannot contain a
    matching row. Identity-partition values participate as exact
    min=max bounds."""
    def decode(raw_list) -> dict[str, Any]:
        out: dict[str, Any] = {}
        for kv in raw_list or []:
            f = fields_by_id.get(kv["key"])
            if f is None:
                continue
            v = _bound_value(f["type"], kv["value"])
            if v is not None:
                out[f["name"]] = v
        return out

    mins = decode(data_file.get("lower_bounds"))
    maxs = decode(data_file.get("upper_bounds"))
    for k, v in (data_file.get("partition") or {}).items():
        if v is not None:
            mins[k] = v
            maxs[k] = v
    for col, op, val in predicates:
        lo, hi = mins.get(col), maxs.get(col)
        if lo is None or hi is None:
            continue  # no bounds — cannot prune
        try:
            if op == "=" and (val < lo or val > hi):
                return False
            if op == ">=" and hi < val:
                return False
            if op == "<=" and lo > val:
                return False
        except TypeError:  # incomparable — cannot prune
            continue
    return True


def _manifest_entry_schema(spec_fields: list[dict[str, Any]]) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 1,
            },
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {
                            "name": "file_path",
                            "type": "string",
                            "field-id": 100,
                        },
                        {
                            "name": "file_format",
                            "type": "string",
                            "field-id": 101,
                        },
                        {
                            "name": "partition",
                            "type": _partition_avro_schema(spec_fields),
                            "field-id": 102,
                        },
                        {
                            "name": "record_count",
                            "type": "long",
                            "field-id": 103,
                        },
                        {
                            "name": "file_size_in_bytes",
                            "type": "long",
                            "field-id": 104,
                        },
                        {
                            "name": "block_size_in_bytes",
                            "type": "long",
                            "field-id": 105,
                        },
                        {
                            "name": "lower_bounds",
                            "type": _bounds_avro_schema(
                                "k126_v127", 126, 127
                            ),
                            "default": None,
                            "field-id": 125,
                        },
                        {
                            "name": "upper_bounds",
                            "type": _bounds_avro_schema(
                                "k129_v130", 129, 130
                            ),
                            "default": None,
                            "field-id": 128,
                        },
                    ],
                },
            },
        ],
    }


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {
            # v2: 0 = data manifest, 1 = POSITION-DELETE manifest
            # (merge-on-read). Old manifest lists lack the field —
            # readers default it to 0 via the embedded Avro schema.
            "name": "content",
            "type": "int",
            "field-id": 517,
        },
        {
            "name": "added_snapshot_id",
            "type": ["null", "long"],
            "default": None,
            "field-id": 503,
        },
    ],
}


# ------------------------------------------------------------- tables


@dataclass
class IcebergSnapshotView:
    """Resolved view of one snapshot: live files + partition values.

    ``delete_files`` are v2 POSITION-DELETE parquet files
    (``file_path``/``pos`` rows, the spec's merge-on-read encoding);
    a read anti-joins them against the data scan's
    ``_metadata`` (file, row_index) pairs. ``metadata`` is the table
    metadata the view was resolved from — what a commit built on the
    view extends. File entries are the manifests' ``data_file``
    records, shared with the manifest cache and read-only."""

    snapshot_id: int
    schema: T.StructType
    partition_columns: list[str]
    files: dict[str, dict[str, Any]]  # rel path -> entry info
    delete_files: dict[str, dict[str, Any]] = field(
        default_factory=dict
    )
    metadata: dict[str, Any] = field(default_factory=dict)


#: Process-wide LRU of PARSED manifest metadata, keyed on
#: ``(absolute path, size, mtime_ns)``. Manifest lists and manifests
#: are immutable uniquely-named content files (exclusive create,
#: never rewritten), so a parse is valid for the file's lifetime; the
#: stat in the key guards the one way a path can recur with different
#: bytes (a table directory re-created at the same path). Bounded by
#: the file bytes it holds, so a long-lived session over many tables
#: stays O(1) memory however large its manifests are. At
#: warehouse manifest counts this converts the per-call O(files)
#: driver-side Avro parse of an immutable snapshot into a dict
#: lookup — every ``_resolve``/CDF snapshot walk after the first
#: re-reads nothing (locally the parse is ~10 ms; the cache is for
#: metadata-heavy tables, guide §6).
_MANIFEST_CACHE: "OrderedDict[tuple, list]" = OrderedDict()
#: cap on the summed file sizes (the ``size`` of each key) it holds
_MANIFEST_CACHE_MAX_BYTES = 16 << 20


class _FrozenRecord(dict):
    """A parsed manifest record: a dict that refuses mutation. The
    cache shares records process-wide and every resolved view reads
    them, so an in-place edit would silently corrupt every later
    snapshot of the table. Pickles and copies as a plain dict."""

    def _readonly(self, *args, **kwargs):
        raise TypeError("cached manifest records are read-only")

    __setitem__ = __delitem__ = __ior__ = _readonly
    clear = pop = popitem = setdefault = update = _readonly

    def __reduce__(self):
        return dict, (dict(self),)


def _freeze(value: Any) -> Any:
    if isinstance(value, dict):
        return _FrozenRecord((k, _freeze(v)) for k, v in value.items())
    if isinstance(value, list):
        return tuple(_freeze(v) for v in value)
    return value


def _read_manifest_cached(path: str) -> list:
    """Avro records of one manifest/manifest-list file, via the
    process-wide LRU. Cached records are frozen (read-only dicts,
    tuples for arrays): a caller's edit raises instead of leaking
    into every later resolve."""
    try:
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
    except OSError:
        # unreadable path: let read_container raise its own error
        _, records = read_container(path)
        return records
    hit = _MANIFEST_CACHE.get(key)
    if hit is not None:
        _MANIFEST_CACHE.move_to_end(key)
        return hit
    records = _freeze(read_container(path)[1])
    _MANIFEST_CACHE[key] = records
    held = sum(size for _, size, _ in _MANIFEST_CACHE)
    # the newest entry stays even when it alone is over the cap
    while held > _MANIFEST_CACHE_MAX_BYTES and len(_MANIFEST_CACHE) > 1:
        (_, size, _), _ = _MANIFEST_CACHE.popitem(last=False)
        held -= size
    return records


def _snapshot_entry(md: dict[str, Any], snapshot_id: int) -> dict[str, Any]:
    return next(
        s for s in md["snapshots"] if s["snapshot-id"] == snapshot_id
    )


@dataclass
class IcebergLog(TableLog):
    """Reader/writer for one Iceberg v1 table directory — the Iceberg
    codec of :class:`~aligned_spark.sources.table_log.TableLog`."""

    table_path: str
    #: commit-coordination backend for the VERSION FILES only
    #: (``vN.metadata.json`` + ``version-hint.text``); None =
    #: filesystem exclusive-create. Manifests and manifest lists are
    #: immutable uniquely-named content files with no coordination
    #: need, so they stay on the table path — the same
    #: coordination-service split the Delta log store uses. Pass an
    #: :class:`~aligned_spark.sources.log_store.S3LogStore` to get
    #: conditional-put (``IfNoneMatch="*"``) commit atomicity on S3.
    commit_store: Any | None = None

    _MERGE_KEYS_PROP = _MERGE_KEYS_PROP
    #: Iceberg has no spec-level CHECK; constraints ride the table
    #: properties under this prefix
    _CONSTRAINT_PFX = "aligned.constraints."
    _DATA_DIR = "data"
    _SCHEMA_ORDER_SCAN = True
    _BLOOM_HEADER = True

    # -------------------------------------------------------- layout

    @property
    def meta_dir(self) -> str:
        return os.path.join(self.table_path, "metadata")

    @property
    def _vstore(self) -> Any:
        if self.commit_store is None:
            from aligned_spark.sources.log_store import (
                FileSystemLogStore,
            )

            self.commit_store = FileSystemLogStore(self.meta_dir)
        return self.commit_store

    def exists(self) -> bool:
        return self._vstore.exists("v1.metadata.json")

    def _versions(self) -> list[int]:
        while True:
            out = []
            for name in self._vstore.list_names():
                m = _VERSION_RE.match(name)
                if m:
                    out.append(int(m.group(1)))
            out.sort()
            # dense-version freshness probe against a LIST-memoizing
            # store — one HEAD detects external commits the cache
            # missed (same contract as DeltaLog._versions)
            if getattr(self._vstore, "_names_cache", None) is None:
                return out
            nxt = (out[-1] + 1) if out else 1
            if not self._vstore.exists(f"v{nxt}.metadata.json"):
                return out
            self._vstore.invalidate()

    def current_metadata(
        self, version: int | None = None
    ) -> dict[str, Any]:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(
                f"not an Iceberg table: {self.table_path}"
            )
        v = vs[-1] if version is None else version
        if v not in vs:
            raise ValueError(f"metadata version {v} not in {vs}")
        md = json.loads(self._vstore.read_text(f"v{v}.metadata.json"))
        # Pin the version this snapshot was read at so a commit built
        # from it lands at exactly read-version + 1. Without the pin
        # a writer whose staging job straddles a concurrent commit
        # would re-list the dir at commit time, land at a fresh
        # unused version whose snapshot list omits the interloper's
        # snapshot, and silently drop its committed data. The key is
        # process-local and stripped before the metadata hits disk.
        md[_READ_VERSION_KEY] = v
        return md

    # ------------------------------------------------------- commits

    def _commit_metadata(self, md: dict[str, Any], version: int) -> None:
        """HadoopCatalog commit: exclusive-create of the next
        metadata version; ``version-hint.text`` is an advisory
        pointer, the version files are the source of truth."""
        md.pop(_READ_VERSION_KEY, None)  # process-local, never on disk
        try:
            self._vstore.put_exclusive(
                f"v{version}.metadata.json",
                json.dumps(md, indent=1).encode("utf-8"),
            )
        except ConcurrentCommitError:
            raise ConcurrentCommitError(
                f"metadata v{version} already committed at "
                f"{self.table_path}"
            ) from None
        self._vstore.put_atomic(
            "version-hint.text", str(version).encode("utf-8")
        )

    def _write_manifest(
        self,
        entries: list[dict[str, Any]],
        spec_fields: list[dict[str, Any]],
        schema_json: dict[str, Any],
    ) -> dict[str, Any]:
        name = f"{uuid.uuid4().hex}-m0.avro"
        path = os.path.join(self.meta_dir, name)
        os.makedirs(self.meta_dir, exist_ok=True)
        size = write_container(
            path,
            _manifest_entry_schema(spec_fields),
            entries,
            metadata={
                "schema": json.dumps(schema_json),
                "partition-spec": json.dumps(spec_fields),
                "partition-spec-id": "0",
                "format-version": "1",
                "content": "data",
            },
        )
        return {
            "manifest_path": f"metadata/{name}",
            "manifest_length": size,
            "partition_spec_id": 0,
            "added_snapshot_id": None,  # filled by the caller
        }

    def _write_manifest_list(
        self, snapshot_id: int, manifests: list[dict[str, Any]]
    ) -> str:
        """New manifests (``added_snapshot_id`` still None) are
        stamped with this snapshot; REUSED manifests keep the
        snapshot that added them — the indirection manifest lists
        exist for, and what lets ``read_appends`` skip whole
        manifests by id."""
        name = f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
        path = os.path.join(self.meta_dir, name)
        write_container(
            path,
            _MANIFEST_LIST_SCHEMA,
            [
                {
                    "content": 0,
                    **m,
                    "added_snapshot_id": m.get("added_snapshot_id")
                    or snapshot_id,
                }
                for m in manifests
            ],
        )
        return f"metadata/{name}"

    @staticmethod
    def _snapshot_id() -> int:
        return uuid.uuid4().int >> 65  # positive, fits a long

    @staticmethod
    def _stamp_legacy_sequences(
        snaps: list[dict[str, Any]],
    ) -> tuple[list[dict[str, Any]], bool]:
        """Back-stamp position-inferred ``sequence-number``s into
        legacy (pre-field) snapshot entries as REAL metadata fields.

        :meth:`sequence_numbers` infers a missing field from list
        position — sound only while the list never loses a prefix.
        ``expire_snapshots`` removes entries, so an unstamped table
        that expires history silently renumbers: a stored IVM cursor
        would re-resolve to a DIFFERENT snapshot and corrupt the
        aggregate with no error. Every commit and every expiration
        therefore persists the inferred positions first (one-time
        migration per table); once on disk they can never shift."""
        out: list[dict[str, Any]] = []
        changed = False
        for i, s in enumerate(snaps):
            if s.get("sequence-number") is None:
                s = {**s, "sequence-number": i + 1}
                changed = True
            out.append(s)
        return out, changed

    def _next_commit(
        self,
        md: dict[str, Any],
        manifests: list[dict[str, Any]],
        operation: str,
        summary_extra: dict[str, str] | None = None,
    ) -> int:
        sid = self._snapshot_id()
        ml = self._write_manifest_list(sid, manifests)
        now = int(time.time() * 1000)
        # monotone commit sequence (Iceberg v2's `sequence-number` /
        # `last-sequence-number`, spec §Table Metadata): snapshot IDS
        # are random, so any consumer needing an ORDERED replay
        # cursor (continuous IVM exactly-once, stream admission) keys
        # on this instead. Legacy snapshots lacking the field are
        # BACK-STAMPED with their current list position here (first
        # commit on the table migrates them), so a later
        # expire_snapshots can never shift the inferred sequence
        # under a stored cursor.
        snaps_stamped, _ = self._stamp_legacy_sequences(
            md.get("snapshots", [])
        )
        last_seq = md.get("last-sequence-number")
        seq = (
            int(last_seq)
            if last_seq is not None
            else max(
                [int(s["sequence-number"]) for s in snaps_stamped] or [0]
            )
        ) + 1
        snap = {
            "snapshot-id": sid,
            "sequence-number": seq,
            "timestamp-ms": now,
            "manifest-list": ml,
            "summary": {"operation": operation, **(summary_extra or {})},
            "schema-id": 0,
        }
        # commit at (version read) + 1, NOT a fresh dir re-listing: a
        # writer holding stale metadata must collide with whatever
        # landed in between (ConcurrentCommitError → caller replays
        # against fresh metadata), mirroring DeltaLog's
        # snap.version + 1 pin
        version = md[_READ_VERSION_KEY] + 1
        new_md = dict(md)
        new_md["last-updated-ms"] = now
        new_md["current-snapshot-id"] = sid
        new_md["last-sequence-number"] = seq
        new_md["snapshots"] = [*snaps_stamped, snap]
        # persist the idempotent-writer watermark in table PROPERTIES
        # too: snapshot summaries die with expire_snapshots, and a
        # replay guard that forgets its high-water mark double-commits
        se = summary_extra or {}
        if "app-id" in se and "batch-id" in se:
            props = dict(new_md.get("properties") or {})
            key = f"txn.{se['app-id']}"
            b = int(se["batch-id"])
            if props.get(key) is None or int(props[key]) < b:
                props[key] = str(b)
                new_md["properties"] = props
        new_md["snapshot-log"] = [
            *md.get("snapshot-log", []),
            {"timestamp-ms": now, "snapshot-id": sid},
        ]
        new_md["metadata-log"] = [
            *md.get("metadata-log", []),
            {
                "timestamp-ms": now,
                "metadata-file": f"metadata/v{version - 1}.metadata.json",
            },
        ]
        self._commit_metadata(new_md, version)
        return sid

    # -------------------------------------------------------- create

    def create(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> None:
        """CREATE TABLE: v1 metadata with spec-compliant field-id
        assignment and an identity partition spec; no snapshot yet."""
        ice_schema = _schema_to_iceberg(df.schema)
        last_col = ice_schema.pop("__last_column_id")
        by_name = {f["name"]: f for f in ice_schema["fields"]}
        spec_fields = []
        for i, c in enumerate(partition_by or []):
            if c not in by_name:
                raise ValueError(f"partition column {c!r} not in schema")
            spec_fields.append(
                {
                    "name": c,
                    "transform": "identity",
                    "source-id": by_name[c]["id"],
                    "field-id": 1000 + i,
                }
            )
        md = {
            "format-version": 1,
            "table-uuid": str(uuid.uuid4()),
            "location": self.table_path,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": last_col,
            "schema": ice_schema,
            "schemas": [ice_schema],
            "current-schema-id": 0,
            "partition-spec": spec_fields,
            "partition-specs": [
                {"spec-id": 0, "fields": spec_fields}
            ],
            "default-spec-id": 0,
            "last-partition-id": 999 + len(spec_fields),
            "properties": {"write.format.default": "parquet"},
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        self._commit_metadata(md, 1)

    # ------------------------------------------------------- resolve

    def _resolve(
        self, snapshot_id: int | None = None
    ) -> IcebergSnapshotView:
        md = self.current_metadata()
        schema = _schema_to_spark(md["schema"])
        spec_fields = md["partition-specs"][0]["fields"]
        part_cols = [f["name"] for f in spec_fields]
        snaps = md.get("snapshots", [])
        if snapshot_id is None:
            sid = md.get("current-snapshot-id", -1)
        else:
            sid = snapshot_id
        snap = next(
            (s for s in snaps if s["snapshot-id"] == sid), None
        )
        if snap is None:
            if snapshot_id is not None:
                raise ValueError(f"unknown snapshot id {snapshot_id}")
            return IcebergSnapshotView(
                -1, schema, part_cols, {}, metadata=md
            )
        manifests = _read_manifest_cached(
            os.path.join(self.table_path, snap["manifest-list"])
        )
        files: dict[str, dict[str, Any]] = {}
        delete_files: dict[str, dict[str, Any]] = {}
        for m in manifests:
            target = (
                delete_files if m.get("content", 0) == 1 else files
            )
            entries = _read_manifest_cached(
                os.path.join(self.table_path, m["manifest_path"])
            )
            for e in entries:
                if e["status"] == DELETED:
                    target.pop(e["data_file"]["file_path"], None)
                else:
                    target[e["data_file"]["file_path"]] = e["data_file"]
        return IcebergSnapshotView(
            sid, schema, part_cols, files, delete_files, md
        )

    def _manifests_of(self, snapshot: dict[str, Any]) -> list[dict]:
        # fresh list: callers may extend it; the records stay shared
        # with the cache (frozen)
        return list(
            _read_manifest_cached(
                os.path.join(
                    self.table_path, snapshot["manifest-list"]
                )
            )
        )

    # ------------------------------------------------------ history

    def rollback_to(self, snapshot_id: int) -> int:
        """Iceberg rollback: point ``current-snapshot-id`` back at an
        existing snapshot in a new metadata version (the spec's
        rollback — snapshots are kept, the pointer moves; the
        rollback is itself a versioned, time-travelable commit)."""
        md = self.current_metadata()
        ids = [s["snapshot-id"] for s in md.get("snapshots", [])]
        if snapshot_id not in ids:
            raise ValueError(f"unknown snapshot id {snapshot_id}")
        new_md = dict(md)
        new_md["current-snapshot-id"] = snapshot_id
        now = int(time.time() * 1000)
        new_md["last-updated-ms"] = now
        new_md["snapshot-log"] = [
            *md.get("snapshot-log", []),
            {"timestamp-ms": now, "snapshot-id": snapshot_id},
        ]
        version = md[_READ_VERSION_KEY] + 1
        self._commit_metadata(new_md, version)
        return snapshot_id

    def detail(self) -> dict[str, Any]:
        """DESCRIBE DETAIL (see :meth:`_detail`) + snapshot id, count
        and format version."""
        view = self._resolve()
        md = view.metadata
        return {
            "format": "iceberg",
            **self._detail(view),
            "currentSnapshotId": view.snapshot_id,
            "numSnapshots": len(md.get("snapshots", [])),
            "formatVersion": md.get("format-version", 1),
        }

    def snapshot_as_of(self, timestamp_ms: int) -> int:
        """TIMESTAMP AS OF resolution (Iceberg semantics): the
        latest snapshot whose ``snapshot-log`` entry is <= the
        timestamp — driver-side metadata only."""
        best: int | None = None
        for e in self.current_metadata().get("snapshot-log", []):
            if e["timestamp-ms"] <= timestamp_ms:
                best = e["snapshot-id"]  # log is append-ordered
        if best is None:
            raise ValueError(
                f"no snapshot at or before timestamp {timestamp_ms} "
                f"in {self.table_path}"
            )
        return best

    def snapshot_ids(self) -> list[int]:
        md = self.current_metadata()
        return [s["snapshot-id"] for s in md.get("snapshots", [])]

    def sequence_numbers(self) -> dict[int, int]:
        """``snapshot_id -> sequence-number``: the MONOTONE commit
        cursor random snapshot ids can't provide (continuous IVM's
        exactly-once replay guard orders on it). Snapshots committed
        since the field landed carry it in metadata; older ones fall
        back to their list POSITION. The fallback is safe against
        history truncation because every commit AND every
        :meth:`expire_snapshots` first back-stamps the inferred
        positions as real fields (:meth:`_stamp_legacy_sequences`) —
        positions persist before any entry can be removed."""
        md = self.current_metadata()
        out: dict[int, int] = {}
        for i, s in enumerate(md.get("snapshots", [])):
            seq = s.get("sequence-number")
            out[int(s["snapshot-id"])] = (
                int(seq) if seq is not None else i + 1
            )
        return out

    # ------------------------------------------------------- writing

    def _entries(
        self,
        parts: list[StagedPart],
        part_cols: list[str],
        status: int,
        schema_json: dict[str, Any] | None = None,
    ) -> list[dict[str, Any]]:
        # column bounds: the SAME parquet-footer min/max already
        # harvested at staging time (parts.stats_from_footer — sound
        # across row groups, truncation-free strings only), encoded
        # per spec as field-id → single-value binary
        fields = (schema_json or {}).get("fields", [])
        by_name = {
            f["name"]: f
            for f in fields
            if isinstance(f.get("type"), str)  # primitives only
        }

        def bounds(stat: dict[str, Any]) -> list[dict] | None:
            out = []
            for name, v in (stat or {}).items():
                f = by_name.get(name)
                if f is None:
                    continue
                raw = _bound_bytes(f["type"], v)
                if raw is not None:
                    out.append({"key": f["id"], "value": raw})
            return sorted(out, key=lambda e: e["key"]) or None

        return [
            {
                "status": status,
                "snapshot_id": None,
                "data_file": {
                    "file_path": p.path,
                    "file_format": "PARQUET",
                    "partition": {
                        c: p.partition_values.get(c) for c in part_cols
                    },
                    "record_count": p.stats.get("numRecords", 0),
                    "file_size_in_bytes": p.size,
                    "block_size_in_bytes": 64 * 1024 * 1024,
                    "lower_bounds": bounds(p.stats.get("minValues")),
                    "upper_bounds": bounds(p.stats.get("maxValues")),
                },
            }
            for p in parts
        ]

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """``append`` / ``overwrite``; creates the table on first
        write. ``merge_schema=True`` appends unknown columns to the
        table schema with fresh field ids (old parts project NULL).
        ``txn=(app_id, batch_id)`` records an idempotent-writer
        watermark in the snapshot summary ATOMICALLY with the data
        (the Flink/Iceberg ``max-committed-checkpoint-id`` pattern);
        see :meth:`txn_version`. Returns the new snapshot id."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unknown mode: {mode!r}")
        if not self.exists():
            self.create(df, partition_by)
        view = self._resolve()
        # evolution check runs for BOTH modes — an overwrite that
        # widens the schema without it would write parquet columns
        # the reader schema silently drops, and a type change would
        # corrupt reads at scan time instead of failing here
        evolved = self._evolve(view, df.schema)
        if evolved is not None:
            if not merge_schema:
                extra = [
                    c for c in df.columns if c not in view.schema.names
                ]
                raise ValueError(
                    f"{mode} has columns {extra} not in the table "
                    f"schema; pass merge_schema=True to evolve"
                )
            view = evolved
        self._enforce_constraints(df, view)
        md = view.metadata
        manifests = [self._data_manifest(view, self._stage(view, df))]
        if mode == "append" and view.snapshot_id != -1:
            # REUSE the previous snapshot's manifest FILES verbatim —
            # an append costs O(new parts) manifest rows, never a
            # rewrite of the full file inventory
            manifests += self._manifests_of(
                _snapshot_entry(md, view.snapshot_id)
            )
        return self._next_commit(
            md, manifests, mode, self._txn_summary(txn)
        )

    @staticmethod
    def _txn_summary(
        txn: tuple[str, int] | None,
    ) -> dict[str, str] | None:
        if txn is None:
            return None
        app_id, batch_id = txn
        return {"app-id": app_id, "batch-id": str(int(batch_id))}

    def txn_version(self, app_id: str) -> int | None:
        """Highest ``batch-id`` any snapshot committed for
        ``app_id`` (None if the app never wrote) — the exactly-once
        replay guard, read from snapshot summaries the way
        Flink-on-Iceberg reads ``max-committed-checkpoint-id``.
        Driver-side metadata only, no Spark job."""
        if not self.exists():
            return None
        md = self.current_metadata()
        best: int | None = None
        # properties first: the commit-time watermark survives
        # expire_snapshots, which may drop the summary that carried it
        pb = (md.get("properties") or {}).get(f"txn.{app_id}")
        if pb is not None:
            best = int(pb)
        for snap in md.get("snapshots", []):
            s = snap.get("summary", {})
            if s.get("operation") == "expired":  # pragma: no cover
                continue
            if s.get("app-id") == app_id and "batch-id" in s:
                b = int(s["batch-id"])
                best = b if best is None or b > best else best
        return best

    # ------------------------------------------------------- reading

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        skipping: list[tuple[str, str, Any]] | None = None,
    ) -> DataFrame:
        """Snapshot read (current or time travel by snapshot id):
        manifest-planned file set → one Spark parquet scan, columns
        normalized to the table schema (identity-partition dirs
        infer as strings otherwise). ``skipping`` is a list of
        ``(column, op, value)`` with op in <=, >=, = — files whose
        manifest ``lower_bounds``/``upper_bounds`` (spec fields,
        harvested from parquet footers at write time) PROVE no row
        can match are dropped before Spark lists them; the caller
        still applies the row-level filter (skipping is sound, not
        complete). Same contract as :meth:`DeltaLog.read`."""
        view = self._resolve(snapshot_id)
        # explicit reader schema inside _scan: fixes column
        # order/types (hive partition dirs would infer), projects
        # NULL for evolved columns absent from old parts, and applies
        # any position-delete files (merge-on-read)
        return self._scan(spark, view, self._skip(spark, view, skipping))

    def read_appends(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Incremental scan: rows in files ADDED by snapshots after
        ``from_snapshot_id`` up to ``to_snapshot_id``/current (the
        Iceberg "incremental append scan"). Copy-on-write rewrites
        re-add their surviving rows — same caveat as the Delta change
        feed; see :meth:`DeltaLog.read_changes`."""
        ids = self.snapshot_ids()
        if from_snapshot_id not in ids:
            raise ValueError(f"unknown snapshot id {from_snapshot_id}")
        to = ids[-1] if to_snapshot_id is None else to_snapshot_id
        lo, hi = ids.index(from_snapshot_id), ids.index(to)
        if lo > hi:
            raise ValueError("from snapshot is newer than to snapshot")
        md = self.current_metadata()
        view = self._resolve(to)
        paths: list[str] = []
        for snap in md["snapshots"][lo + 1 : hi + 1]:
            # compaction rewrites every live file without changing a
            # row — its re-added files are not appends
            if snap.get("summary", {}).get("operation") == "replace":
                continue
            manifests = _read_manifest_cached(
                os.path.join(self.table_path, snap["manifest-list"])
            )
            for m in manifests:
                if m["added_snapshot_id"] != snap["snapshot-id"]:
                    continue
                if m.get("content", 0) == 1:
                    # position-delete manifest — its parquet holds
                    # (file_path, pos) pairs, not table rows
                    continue
                entries = _read_manifest_cached(
                    os.path.join(self.table_path, m["manifest_path"])
                )
                paths += [
                    e["data_file"]["file_path"]
                    for e in entries
                    if e["status"] == ADDED
                ]
        if not paths:
            return spark.createDataFrame([], view.schema)
        return (
            spark.read.schema(view.schema)
            .option("basePath", os.path.join(self.table_path, "data"))
            .parquet(
                *[
                    os.path.join(self.table_path, p)
                    for p in sorted(set(paths))
                ]
            )
        )

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Change feed with PROPER row semantics (exclusive
        ``from_snapshot_id``): every row carries ``_change_type``
        (insert / update_preimage / update_postimage / delete) and
        ``_snapshot_id``. Unlike :meth:`read_appends`, a copy-on-write
        rewrite does NOT re-emit surviving rows: per snapshot the file
        set is diffed against its parent's; removed parts' old content
        vs added parts' new content reconstruct the true changes —
        keyed on the ``merge-keys`` the MERGE snapshot summary
        recorded, else whole-row (shared machinery:
        :mod:`aligned_spark.sources.cdc`). Cost per rewrite snapshot
        is one shuffle over only its touched parts: one full-outer
        join when keyed, one aggregate when whole-row.

        Bounds accept either domain: a snapshot id, or its monotone
        SEQUENCE NUMBER (:meth:`sequence_numbers` — what the IVM
        cursors store). The domains cannot collide: snapshot ids are
        63-bit random draws, sequence numbers count from 1."""
        from aligned_spark.sources.cdc import tag_changes

        ids = self.snapshot_ids()
        if from_snapshot_id not in ids or (
            to_snapshot_id is not None and to_snapshot_id not in ids
        ):
            q2s = {q: s for s, q in self.sequence_numbers().items()}
            if from_snapshot_id not in ids:
                if from_snapshot_id not in q2s:
                    raise ValueError(
                        f"unknown snapshot id {from_snapshot_id}"
                    )
                from_snapshot_id = q2s[from_snapshot_id]
            if to_snapshot_id is not None and to_snapshot_id not in ids:
                if to_snapshot_id not in q2s:
                    raise ValueError(
                        f"unknown snapshot id {to_snapshot_id}"
                    )
                to_snapshot_id = q2s[to_snapshot_id]
        to = ids[-1] if to_snapshot_id is None else to_snapshot_id
        lo, hi = ids.index(from_snapshot_id), ids.index(to)
        if lo > hi:
            raise ValueError("from snapshot is newer than to snapshot")
        md = self.current_metadata()
        view = self._resolve(to)
        cols = [f.name for f in view.schema.fields]

        pieces: list[DataFrame] = []
        prev_view = self._resolve(ids[lo])
        for snap in md["snapshots"][lo + 1 : hi + 1]:
            sid = snap["snapshot-id"]
            cur_view = self._resolve(sid)
            added = sorted(set(cur_view.files) - set(prev_view.files))
            removed = sorted(
                set(prev_view.files) - set(cur_view.files)
            )
            new_del = sorted(
                set(cur_view.delete_files)
                - set(prev_view.delete_files)
            )
            old_view, prev_view = prev_view, cur_view
            if not added and not removed and not new_del:
                continue
            # compaction swaps the whole file set with no logical
            # change — diffing it would flood the feed with
            # delete+insert noise for every surviving row
            if snap.get("summary", {}).get("operation") == "replace":
                continue
            cdf_dir = snap.get("summary", {}).get("change-data-dir")
            if cdf_dir:
                # commit-time change files
                pieces.append(
                    self._change_file_rows(
                        spark, view.schema, [cdf_dir], "_snapshot_id", sid
                    )
                )
                continue
            mk = snap.get("summary", {}).get("merge-keys")
            keys = mk.split(",") if mk else None
            pieces.append(
                self._commit_changes(
                    spark,
                    old_view,
                    cur_view,
                    added,
                    removed,
                    new_del,
                    cols,
                    keys,
                    "_snapshot_id",
                    sid,
                )
            )
        if not pieces:
            return tag_changes(
                spark.createDataFrame([], view.schema),
                cols,
                "insert",
                "_snapshot_id",
                0,
            ).limit(0)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    #: default orphan-file retention — matches Delta's vacuum window
    DEFAULT_RETENTION_SECONDS = 7 * 24 * 3600

    def expire_snapshots(
        self,
        keep_last: int = 1,
        retention_seconds: float | None = None,
    ) -> list[str]:
        """Snapshot lifecycle: drop all but the newest ``keep_last``
        snapshots from the metadata (one new metadata version — the
        history edit is itself versioned/atomic) and physically
        delete data files no longer referenced by ANY retained
        snapshot (Iceberg's expireSnapshots + removeOrphanFiles in
        one pass; time travel to expired snapshots stops working, the
        documented trade-off). ``retention_seconds`` (default 7 days)
        keeps files newer than the window — a concurrent writer's
        staged-but-uncommitted parts are unreferenced for a moment
        and must survive; pass 0 only when no other writer can be
        active. Returns the deleted relative paths."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if retention_seconds is None:
            retention_seconds = self.DEFAULT_RETENTION_SECONDS
        cutoff = time.time() - retention_seconds
        md = self.current_metadata()
        # Stamp position-inferred sequence-numbers into legacy
        # entries BEFORE dropping any: positions are computed over
        # the full pre-expiry list, so a stored IVM cursor resolves
        # to the same snapshot after history is truncated.
        snaps, _ = self._stamp_legacy_sequences(md.get("snapshots", []))
        if len(snaps) <= keep_last:
            kept_snaps = snaps
        else:
            kept_snaps = snaps[-keep_last:]
        kept_ids = {s["snapshot-id"] for s in kept_snaps}
        referenced: set[str] = set()
        #: retained snapshots' commit-time change-data dirs stay
        #: CDC-readable; expired commits' dirs become orphans below
        kept_cdf_dirs: set[str] = set()
        for s_ in kept_snaps:
            view = self._resolve(s_["snapshot-id"])
            referenced |= set(view.files)
            referenced |= set(view.delete_files)
            cdf_dir = s_.get("summary", {}).get("change-data-dir")
            if cdf_dir:
                kept_cdf_dirs.add(cdf_dir.rstrip("/") + "/")
        new_md = dict(md)
        new_md["snapshots"] = kept_snaps
        if md.get("last-sequence-number") is None and snaps:
            # a legacy table's next commit must continue the FULL
            # pre-expiry sequence, not restart at len(kept)+1
            new_md["last-sequence-number"] = max(
                int(s["sequence-number"]) for s in snaps
            )
        new_md["snapshot-log"] = [
            e
            for e in md.get("snapshot-log", [])
            if e["snapshot-id"] in kept_ids
        ]
        # fold expiring snapshots' idempotent-writer watermarks into
        # properties (tables written before commit-time persistence
        # carry them only in the summaries being dropped here)
        props = dict(new_md.get("properties") or {})
        for s_ in snaps:
            if s_["snapshot-id"] in kept_ids:
                continue
            sm = s_.get("summary", {})
            if "app-id" in sm and "batch-id" in sm:
                key = f"txn.{sm['app-id']}"
                b = int(sm["batch-id"])
                if props.get(key) is None or int(props[key]) < b:
                    props[key] = str(b)
        new_md["properties"] = props
        version = md[_READ_VERSION_KEY] + 1
        self._commit_metadata(new_md, version)
        doomed: list[str] = []
        walk_dirs = [
            os.path.join(self.table_path, "data"),
            # commit-time change files of expired snapshots
            os.path.join(self.table_path, "_change_data"),
        ]
        for root, _dirs, names in (
            entry
            for d in walk_dirs
            for entry in os.walk(d)
        ):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                rel = os.path.relpath(
                    os.path.join(root, name), self.table_path
                ).replace(os.sep, "/")
                if rel in referenced or any(
                    rel.startswith(d) for d in kept_cdf_dirs
                ):
                    continue
                full = os.path.join(self.table_path, rel)
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue  # inside the retention window
                except FileNotFoundError:
                    continue
                doomed.append(rel)
                try:
                    os.unlink(full)
                except FileNotFoundError:
                    pass
        # bloom sidecars are convention-addressed by data-file path:
        # reap those of expired parts (+ stale .inprogress temps)
        bloom_dir = os.path.join(self.table_path, "_bloom")
        if os.path.isdir(bloom_dir):
            live_names = {
                rel.replace("/", "%2F") for rel in referenced
            }
            for name in os.listdir(bloom_dir):
                # "<rel %2F-encoded>.<col>.bloom[...]" — the encoded
                # rel runs through the last ".parquet". An
                # .inprogress temp is NEVER referenced (a finished
                # build os.replace'd it away), so it is age-gated
                # regardless of whether its data file is live —
                # otherwise a dead task's temp for a still-live part
                # leaks forever.
                if not name.endswith(".inprogress"):
                    cut = name.rfind(".parquet")
                    stem = name[: cut + 8] if cut != -1 else name
                    if stem in live_names:
                        continue
                full = os.path.join(bloom_dir, name)
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue
                except FileNotFoundError:
                    continue
                doomed.append(f"_bloom/{name}")
                try:
                    os.unlink(full)
                except FileNotFoundError:
                    pass
        return sorted(doomed)

    # ------------------------------------------------- codec accessors

    def _head(self) -> IcebergSnapshotView:
        return self._resolve()

    @staticmethod
    def _schema_of(view: IcebergSnapshotView) -> T.StructType:
        return view.schema

    @staticmethod
    def _props_of(view: IcebergSnapshotView) -> dict[str, Any]:
        return view.metadata.get("properties") or {}

    @staticmethod
    def _id_of(view: IcebergSnapshotView) -> int:
        return view.snapshot_id

    @staticmethod
    def _file_bytes(data_file: dict[str, Any]) -> int:
        return int(data_file.get("file_size_in_bytes") or 0)

    @staticmethod
    def _file_rows(data_file: dict[str, Any]) -> int:
        return data_file.get("record_count") or 0

    _delete_rows = _file_rows

    @staticmethod
    def _range_match(
        view: IcebergSnapshotView,
        paths: list[str],
        preds: list[tuple[str, str, Any]],
    ) -> list[str]:
        fields_by_id = {
            f["id"]: f
            for f in view.metadata["schema"]["fields"]
            if isinstance(f.get("type"), str)
        }
        return [
            p
            for p in paths
            if _iceberg_file_may_match(view.files[p], fields_by_id, preds)
        ]

    def _bloom_indexed(
        self, view: IcebergSnapshotView, col: str, paths: list[str]
    ) -> bool:
        from aligned_spark.sources.bloom import bloom_columns_of

        return col in bloom_columns_of(
            {"configuration": self._props_of(view)}
        )

    def _bloom_may_contain(
        self, view: IcebergSnapshotView, path: str, col: str, pairs: Any
    ) -> bool:
        """Probe the convention-addressed, self-describing sidecar
        (the Avro manifest-entry schema is fixed, so bloom refs ride
        a tiny file header instead of metadata)."""
        from aligned_spark.sources import bloom as B

        return B.probe_sidecar_path(
            os.path.join(self.table_path, "_bloom", B.sidecar_name(path, col)),
            pairs,
        )

    @staticmethod
    def _evolve(
        view: IcebergSnapshotView, schema: T.StructType
    ) -> IcebergSnapshotView | None:
        md = _evolve_iceberg_schema(view.metadata, schema)
        if md is None:
            return None
        return replace(view, schema=_schema_to_spark(md["schema"]), metadata=md)

    @staticmethod
    def _with_props(
        view: IcebergSnapshotView, props: dict[str, Any]
    ) -> IcebergSnapshotView:
        return replace(view, metadata={**view.metadata, "properties": props})

    # ------------------------------------------------------- staging

    def _stage(
        self,
        view: IcebergSnapshotView,
        df: DataFrame,
        partition_by: list[str] | None = None,
    ) -> dict[str, StagedPart]:
        """Stage parquet parts (+ bloom sidecars) under ``data/``.
        The partition spec is fixed at CREATE, so ``partition_by`` is
        ignored."""
        parts = stage_parquet_parts(
            df,
            self.table_path,
            view.partition_columns or None,
            data_subdir="data",
        )
        self._attach_blooms(
            view,
            df,
            [{"path": p.path, "stats": p.stats} for p in parts],
            view.partition_columns,
        )
        return {p.path: p for p in parts}

    def _data_manifest(
        self, view: IcebergSnapshotView, staged: dict[str, StagedPart]
    ) -> dict[str, Any]:
        md = view.metadata
        return self._write_manifest(
            self._entries(
                list(staged.values()),
                view.partition_columns,
                ADDED,
                md["schema"],
            ),
            md["partition-specs"][0]["fields"],
            md["schema"],
        )

    def _stage_change_data(
        self, changes: DataFrame, cols: list[str]
    ) -> str | None:
        """Write one rewrite's row-level changes as ``_change_data/``
        parquet and return the directory the snapshot summary records
        (``change-data-dir`` — summaries are the Iceberg analog of
        Delta ``cdc`` actions); None for a zero-change rewrite. One
        directory per commit: the summary carries ONE short prefix
        however many change files the rewrite produced —
        metadata.json accumulates every snapshot's summary, so a
        per-file list would bloat it at 10k-file-rewrite scale."""
        subdir = f"_change_data/{uuid.uuid4().hex}"
        cparts = stage_parquet_parts(
            changes.select(*cols, "_change_type"),
            self.table_path,
            None,
            data_subdir=subdir,
        )
        return subdir if cparts else None

    def _stage_deletes(
        self, view: IcebergSnapshotView, sorted_pairs: DataFrame
    ) -> dict[str, Any]:
        """Write sorted ``(file_path, pos)`` pairs as v2
        position-delete parquet and return its content=1
        manifest-list entry."""
        parts = stage_parquet_parts(
            sorted_pairs, self.table_path, None, data_subdir="data"
        )
        md = view.metadata
        manifest = self._write_manifest(
            self._entries(parts, view.partition_columns, ADDED),
            md["partition-specs"][0]["fields"],
            md["schema"],
        )
        return {**manifest, "content": 1}

    # ---------------------------------------------------- committing

    def _commit_properties(
        self,
        view: IcebergSnapshotView,
        props: dict[str, Any],
        operation: str,
        params: dict[str, Any],
    ) -> int:
        version = view.metadata[_READ_VERSION_KEY] + 1
        self._commit_metadata(
            self._with_props(view, props).metadata, version
        )
        return version

    def _commit_rewrite(
        self,
        view: IcebergSnapshotView,
        removed: list[str],
        staged: dict[str, StagedPart],
        changes: str | None,
        kind: str,
        keys: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        target: IcebergSnapshotView | None = None,
    ) -> int:
        """Copy-on-write at MANIFEST granularity too: manifests whose
        files are all untouched carry over verbatim; only manifests
        containing a removed file are rewritten (their survivors as
        EXISTING entries), plus one new manifest for the staged
        parts. Compaction commits as ``replace``, which the change
        feeds skip."""
        md = (target or view).metadata
        operation, summary = {
            "merge": ("overwrite", {}),
            "replace_where": ("overwrite", {"mode": "replaceWhere"}),
            "delete": ("delete", {}),
            "compact": (
                "replace",
                {"bin-packed": "true", "num-small-files": str(len(removed))},
            ),
        }[kind]
        if keys:
            # merge-keys let read_changes reconstruct update pairs
            summary["merge-keys"] = ",".join(keys)
        summary.update(self._txn_summary(txn) or {})
        if changes:
            summary["change-data-dir"] = changes
        manifests = [self._data_manifest(target or view, staged)]
        removed_set = set(removed)
        if view.snapshot_id != -1:
            prev = _snapshot_entry(md, view.snapshot_id)
            for m in self._manifests_of(prev):
                entries = _read_manifest_cached(
                    os.path.join(self.table_path, m["manifest_path"])
                )
                hit = any(
                    e["status"] != DELETED
                    and e["data_file"]["file_path"] in removed_set
                    for e in entries
                )
                if not hit:
                    manifests.append(m)  # reused verbatim
                    continue
                survivors = [
                    {
                        "status": EXISTING,
                        "snapshot_id": e.get("snapshot_id"),
                        "data_file": e["data_file"],
                    }
                    for e in entries
                    if e["status"] != DELETED
                    and e["data_file"]["file_path"] not in removed_set
                ]
                if survivors:
                    manifests.append(
                        self._write_manifest(
                            survivors,
                            md["partition-specs"][0]["fields"],
                            md["schema"],
                        )
                    )
        return self._next_commit(md, manifests, operation, summary)

    def _commit_mor(
        self,
        view: IcebergSnapshotView,
        staged: dict[str, StagedPart] | None,
        deletes: dict[str, Any] | None,
        keys: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        target: IcebergSnapshotView | None = None,
    ) -> int:
        """One merge-on-read snapshot: the new position-delete
        manifest (a MERGE also adds a manifest of its staged parts; a
        DELETE has ``staged`` None) plus every manifest of the parent
        reused verbatim. Position deletes are a v2 feature, so the
        table's format-version moves to 2."""
        md = (target or view).metadata
        manifests = []
        summary = {"mode": "merge-on-read"}
        if staged is not None:
            manifests.append(self._data_manifest(view, staged))
            summary["merge-keys"] = ",".join(keys)
        if deletes is not None:
            manifests.append(deletes)
        manifests += self._manifests_of(_snapshot_entry(md, view.snapshot_id))
        summary.update(self._txn_summary(txn) or {})
        return self._next_commit(
            {**md, "format-version": 2},
            manifests,
            "delete" if staged is None else "overwrite",
            summary,
        )

    def _commit_optimize(
        self,
        view: IcebergSnapshotView,
        staged: dict[str, StagedPart],
        zorder_by: list[str] | None,
    ) -> int:
        """Compaction (Iceberg ``rewriteDataFiles``): ONE manifest of
        the rewritten parts replaces every data and delete manifest;
        the snapshot commits as ``replace``, which the change feeds
        (:meth:`read_changes`, :meth:`read_appends`) skip because no
        logical row changed. Old files stay on disk for time travel
        until :meth:`expire_snapshots`."""
        return self._next_commit(
            view.metadata,
            [self._data_manifest(view, staged)],
            "replace",
            {"zorder-by": ",".join(zorder_by or [])},
        )
