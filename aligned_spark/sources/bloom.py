"""Per-part bloom-filter sidecars for point-lookup data skipping.

Range (min/max) footer stats cannot prune equality probes on
uniformly-distributed keys — every part's range covers every key, so
a needle-in-haystack lookup or a CDC MERGE against hash-like ids
scans the whole table. Delta Lake solves this with per-file bloom
filter indexes (`delta.bloomFilter.*` table properties + `_delta_index`
sidecar files); this module is that design on the engine's log:

- a table opts columns in via the ``aligned.bloomFilter`` metadata
  configuration (survives checkpoints like every other property);
- every staged part gets one sidecar per indexed column under
  ``_bloom/``, built DISTRIBUTED (the only shuffled payload is two
  xxhash64 longs per row; each executor task writes its own group's
  sidecar — the driver never holds a bloom);
- readers and the MERGE touched-file discovery probe the sidecars of
  range-surviving candidates: a file whose bloom proves "none of
  these keys is here" drops out. Sound superset: files without a
  sidecar (pre-existing parts, disabled columns) always stay
  candidates.

Sizing: for a target false-positive rate ``p``, ``m/n = -ln(p)/ln2²``
bits per key and ``k = (m/n)·ln2`` hashes, with ``m`` rounded up to a
power of two. The default ``p = 1e-4`` (19.2 bits/key, k = 13) is
deliberately tighter than delta-spark's 0.1 default because the MERGE
discovery probes each file with up to K distinct source keys and the
file falsely survives with probability ``1-(1-p)^K`` — at K = 10⁴,
p = 1e-4 keeps false survival ≈ 63%→ per-key p matters: use
``set_bloom_filter(cols, fpp=1e-6)`` for large-K merge workloads
(28.8 bits/key) and the default for point lookups. A 1M-row part at
the default costs ~2.4 MiB of sidecar.

Hashing: ``h1 = xxhash64(col)``, ``h2 = xxhash64(lit(SALT), col)``
(both JVM-side, whole-stage-codegen), probed as the double-hash
family ``h1 + i*h2 (mod m)`` — the standard Kirsch-Mitzenmacher
construction, so build and probe agree across the Spark/driver
boundary with no Python hashing of row data anywhere.
"""

from __future__ import annotations

import math
import os
from typing import Any, Iterable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: metadata-configuration key holding the indexed columns (JSON list)
BLOOM_PROP = "aligned.bloomFilter"

#: double-hash salt for h2 — any fixed literal works; changing it
#: invalidates every existing sidecar, so never change it
_H2_SALT = "aligned.bloom.h2"

DEFAULT_FPP = 1e-4

#: MERGE discovery collects at most this many distinct source-key
#: hashes to the driver for probing; larger key sets fall back to
#: range-only pruning (bounded-driver-memory convention)
MAX_PROBE_KEYS = 100_000

_LN2 = math.log(2.0)

#: self-describing sidecar header (Iceberg variant): the manifest
#: entry record schema is fixed Avro, so instead of riding metadata
#: refs like Delta's add actions, iceberg sidecars carry their own
#: (k) in a tiny header — magic + uint32 k; m = 8 * payload bytes
#: (a power of two by construction)
SIDECAR_MAGIC = b"ABLM1"


def sidecar_name(rel_part_path: str, column: str) -> str:
    """Conventional sidecar file name for a part+column — shared by
    the Delta builder (which ALSO records refs in add actions) and
    the Iceberg convention-addressed probe."""
    return rel_part_path.replace("/", "%2F") + f".{column}.bloom"


def bloom_params(n_rows: int, fpp: float) -> tuple[int, int]:
    """(m_bits power-of-two, k hashes) for ``n_rows`` keys at
    ``fpp`` — the standard optimal-bloom sizing."""
    bits_per_key = -math.log(fpp) / (_LN2 * _LN2)
    target = max(64, int(n_rows * bits_per_key))
    m = 1 << math.ceil(math.log2(target))
    k = max(1, round(bits_per_key * _LN2))
    return m, k


def hash_pair(col: str) -> tuple[Column, Column]:
    """The (h1, h2) hash columns for an indexed column — JVM-side."""
    return (
        F.xxhash64(F.col(col)),
        F.xxhash64(F.lit(_H2_SALT), F.col(col)),
    )


def hash_pair_lit(
    col: str, value: Any, dtype: Any
) -> tuple[Column, Column]:
    """(h1, h2) for a probe LITERAL, cast to the table column's type
    — xxhash64 is type-sensitive, so an int32-column probe hashed as
    int64 would miss every bit and prune unsoundly."""
    lit = F.lit(value).cast(dtype)
    return (
        F.xxhash64(lit).alias(f"__h1_{col}"),
        F.xxhash64(F.lit(_H2_SALT), lit).alias(f"__h2_{col}"),
    )


def _bit_indices(
    h1: np.ndarray, h2: np.ndarray, m: int, k: int
) -> np.ndarray:
    """(n, k) bit positions via double hashing; inputs int64 views."""
    u1 = h1.astype(np.uint64, copy=False)
    u2 = h2.astype(np.uint64, copy=False)
    i = np.arange(k, dtype=np.uint64)
    return (u1[:, None] + i[None, :] * u2[:, None]) % np.uint64(m)


def build_sidecars(
    df_files: DataFrame,
    table_path: str,
    column: str,
    n_by_file: dict[str, int],
    fpp: float = DEFAULT_FPP,
    header: bool = False,
) -> dict[str, dict[str, Any]]:
    """Build one bloom sidecar per part for ``column``.

    ``df_files`` is a scan of exactly the staged parts carrying
    ``__file`` (table-relative path). Rows shuffle as (file, h1, h2)
    longs only; each grouped task sizes its bloom from the part's
    KNOWN row count (``n_by_file``, from footer stats — group size
    would under-size when the column has nulls), sets the bits, and
    atomically writes its own sidecar. Returns
    ``rel_part_path -> {"path", "numBits", "numHashes"}``.
    """
    os.makedirs(os.path.join(table_path, "_bloom"), exist_ok=True)
    h1, h2 = hash_pair(column)
    hashed = df_files.filter(F.col(column).isNotNull()).select(
        F.col("__file").alias("f"), h1.alias("h1"), h2.alias("h2")
    )
    sizes = dict(n_by_file)

    def _build(pdf):
        import pandas as pd  # noqa: PLC0415

        rel = pdf["f"].iloc[0]
        m, k = bloom_params(sizes.get(rel, len(pdf)), fpp)
        idx = _bit_indices(
            pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), m, k
        ).reshape(-1)
        bits = np.zeros(m >> 3, dtype=np.uint8)
        np.bitwise_or.at(
            bits, (idx >> np.uint64(3)).astype(np.int64),
            np.left_shift(
                np.uint8(1), (idx & np.uint64(7)).astype(np.uint8)
            ),
        )
        name = sidecar_name(rel, column)
        final = os.path.join(table_path, "_bloom", name)
        tmp = final + ".inprogress"
        with open(tmp, "wb") as fh:
            if header:
                import struct  # noqa: PLC0415

                fh.write(SIDECAR_MAGIC)
                fh.write(struct.pack("<I", k))
            fh.write(bits.tobytes())
        os.replace(tmp, final)  # idempotent across task retries
        return pd.DataFrame(
            {"f": [rel], "path": [f"_bloom/{name}"], "m": [m], "k": [k]}
        )

    built = (
        hashed.groupBy("f")
        .applyInPandas(_build, "f string, path string, m long, k long")
        .collect()
    )
    return {
        r["f"]: {
            "path": r["path"],
            "numBits": r["m"],
            "numHashes": r["k"],
        }
        for r in built
    }


def attach_blooms(
    spark: Any,
    table_path: str,
    adds: list[dict[str, Any]],
    columns: list[str],
    schema: Any,
    n_partition_cols: int,
    fpp: float = DEFAULT_FPP,
    data_dir: str = "",
    header: bool = False,
) -> None:
    """Decorate staged ``add`` actions (``path`` + ``stats``) with
    ``bloomFilters`` refs for every indexed column present in the
    data files (partition columns are identity-pruned already and
    never indexed). ``data_dir`` is the tables' data directory under
    ``table_path``; ``header=True`` writes self-describing sidecars
    for formats whose metadata cannot carry the refs."""
    from aligned_spark.sources.table_log import TableLog

    file_names = {f.name for f in schema.fields} if schema else set()
    cols = [c for c in columns if c in file_names]
    if not cols or not adds:
        return
    paths = [os.path.join(table_path, a["path"]) for a in adds]
    reader = spark.read.option(
        "basePath", os.path.join(table_path, data_dir).rstrip("/")
    )
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(*sorted(paths)).withColumn(
        "__file",
        TableLog._rel_file_col(n_partition_cols, int(bool(data_dir))),
    )
    if not 0.0 < fpp < 1.0:
        raise ValueError(
            f"bloom fpp must be in (0, 1), got {fpp!r}"
        )
    # a part without footer stats gets NO size entry: build_sidecars
    # then sizes its bloom from the group's row count — an n=0 entry
    # would emit a saturated 64-bit bloom that never prunes while the
    # file still counts as indexed
    n_by_file = {}
    for a in adds:
        nr = (a.get("stats") or {}).get("numRecords")
        if nr:
            n_by_file[a["path"]] = int(nr)
    for c in cols:
        built = build_sidecars(
            df, table_path, c, n_by_file, fpp, header=header
        )
        for a in adds:
            meta = built.get(a["path"])
            if meta is not None:
                a.setdefault("bloomFilters", {})[c] = meta


def probe_hashes(
    table_path: str,
    add: dict[str, Any],
    column: str,
    pairs: np.ndarray,
) -> bool:
    """True unless the part's sidecar PROVES none of the probe keys
    is present. ``pairs`` is an (n, 2) int64 array of (h1, h2).
    Missing/unreadable sidecars cannot prune (sound superset)."""
    meta = (add.get("bloomFilters") or {}).get(column)
    if meta is None or pairs.size == 0:
        return True
    try:
        with open(os.path.join(table_path, meta["path"]), "rb") as fh:
            bits = np.frombuffer(fh.read(), dtype=np.uint8)
    except OSError:
        return True
    m = int(meta["numBits"])
    if bits.size != m >> 3:
        return True  # corrupt sidecar — never prune on it
    idx = _bit_indices(
        pairs[:, 0], pairs[:, 1], m, int(meta["numHashes"])
    )
    hit = (
        bits[(idx >> np.uint64(3)).astype(np.int64)]
        >> (idx & np.uint64(7)).astype(np.uint8)
    ) & 1
    # a key is maybe-present iff ALL its k bits are set; the file
    # survives iff ANY key is maybe-present
    return bool(hit.all(axis=1).any())


def probe_sidecar_path(
    abs_path: str, pairs: np.ndarray
) -> bool:
    """Probe a SELF-DESCRIBING sidecar (header variant) by path —
    the Iceberg probe, where sidecars are found by the
    :func:`sidecar_name` convention instead of metadata refs. True
    (cannot prune) for missing, unreadable, or header-less files."""
    import struct  # noqa: PLC0415

    if pairs.size == 0:
        return True
    try:
        with open(abs_path, "rb") as fh:
            raw = fh.read()
    except OSError:
        return True
    hdr = len(SIDECAR_MAGIC) + 4
    if len(raw) <= hdr or not raw.startswith(SIDECAR_MAGIC):
        return True
    k = struct.unpack("<I", raw[len(SIDECAR_MAGIC):hdr])[0]
    bits = np.frombuffer(raw, dtype=np.uint8, offset=hdr)
    m = bits.size << 3
    if m == 0 or m & (m - 1):
        return True  # not a power of two — corrupt, never prune
    idx = _bit_indices(pairs[:, 0], pairs[:, 1], m, k)
    hit = (
        bits[(idx >> np.uint64(3)).astype(np.int64)]
        >> (idx & np.uint64(7)).astype(np.uint8)
    ) & 1
    return bool(hit.all(axis=1).any())


def collect_probe_pairs(
    src: DataFrame, column: str, cap: int = MAX_PROBE_KEYS
) -> np.ndarray | None:
    """Distinct (h1, h2) pairs of the source's keys, or None when the
    key set exceeds ``cap`` (caller falls back to range pruning)."""
    h1, h2 = hash_pair(column)
    rows = (
        src.where(F.col(column).isNotNull())  # null never equi-joins
        .select(h1.alias("h1"), h2.alias("h2"))
        .distinct()
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return None
    if not rows:
        return np.empty((0, 2), dtype=np.int64)
    return np.array([[r["h1"], r["h2"]] for r in rows], dtype=np.int64)


def bloom_config_of(
    metadata: dict[str, Any] | None,
) -> tuple[list[str], float]:
    """(indexed columns, fpp) from the table property. Accepts both
    the bare-list and the ``{"columns": [...], "fpp": p}`` forms."""
    import json  # noqa: PLC0415

    cfg = (metadata or {}).get("configuration", {}) or {}
    raw = cfg.get(BLOOM_PROP)
    if not raw:
        return [], DEFAULT_FPP
    try:
        parsed = json.loads(raw)
    except (ValueError, TypeError):
        return [], DEFAULT_FPP
    if isinstance(parsed, dict):
        cols = parsed.get("columns") or []
        try:
            fpp = float(parsed.get("fpp") or DEFAULT_FPP)
        except (TypeError, ValueError):
            fpp = DEFAULT_FPP
        if not 0.0 < fpp < 1.0:
            # a corrupt property must not crash every write (fpp<=0
            # is a math domain error in bloom_params) nor silently
            # emit degenerate 64-bit blooms (fpp>=1)
            fpp = DEFAULT_FPP
    else:
        cols, fpp = parsed, DEFAULT_FPP
    return [c for c in cols if isinstance(c, str)], fpp


def bloom_columns_of(metadata: dict[str, Any] | None) -> list[str]:
    return bloom_config_of(metadata)[0]
