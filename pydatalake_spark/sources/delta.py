"""Native Delta Lake transaction-log reader/writer (no ``delta-spark``).

``delta-spark`` is not installable in this environment (re-checked every
round — the package index has no distribution), so this module implements
the OPEN Delta table protocol directly from its public specification
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md): newline-
delimited JSON action files under ``_delta_log/``, parquet checkpoints
with a ``_last_checkpoint`` pointer, and put-if-absent commit atomicity.
It replaces the reference's implicit "Parquet via Delta Lake" stance
(SURVEY §7.0) with real on-disk interop: tables written here carry a
spec-conformant log that delta-spark / duckdb-delta / delta-rs can read,
and foreign Delta tables (reader version 1-2, no deletion vectors or
column mapping — those raise loudly) read back into Spark DataFrames.

Feature level
-------------
* reader: protocol ``minReaderVersion`` 1-3 (v3 when readerFeatures ⊆
  {deletionVectors, columnMapping, timestampNtz, vacuumProtocolCheck});
  JSON commits + parquet checkpoints; version and timestamp time
  travel; log-level partition pruning; DELETION VECTORS read via a
  ``_metadata.row_index`` anti-join (``sources/dv.py`` implements the
  Roaring bitmap codec); COLUMN MAPPING (mode ``name``/``id``) read by
  scanning the physical schema and projecting back to logical names;
  append/overwrite to CM tables stage under physical names (schema
  evolution / merge / DV-delete on them refuse loudly).
* writer: ``minWriterVersion`` 2 shape — ``delta.appendOnly`` honored,
  schema fixed per table (append with a different schema raises;
  ``overwrite_schema=True`` on overwrite evolves it), hive-layout data
  files, per-file stats (``numRecords`` + min/max/nullCount for
  numeric/temporal/bool columns, aggregated from parquet footers) that
  power ``read_delta(data_filters=...)`` file skipping, parquet
  checkpoint every ``checkpoint_interval`` commits. ``merge_delta``
  (upsert rewriting only matched files), ``compact_delta`` (OPTIMIZE,
  optionally ``zorder_by`` Morton re-clustering), ``idempotent_append``
  (txn-action exactly-once), ``delete_rows_dv`` (DELETE WHERE via
  deletion vectors — no file rewrite; auto protocol upgrade to
  reader v3/writer v7), ``rewrite_dv_files`` (REORG APPLY PURGE),
  CHECK constraints (``delta.constraints.*`` enforced with a limit(1)
  probe per batch; create advertises writer v3), and a writer-side
  protocol capability check (unknown writerFeatures / generated /
  identity / invariant columns refuse to WRITE while reads keep
  working).

Why this matters at 100 TB
--------------------------
The transaction log IS the file listing: resolving a snapshot costs
O(commits since last checkpoint) small JSON reads plus one parquet
checkpoint footer-to-rows scan — never an object-store LIST over millions
of data files. Partition pruning happens on the log's ``partitionValues``
before Spark opens a single footer. Data IO stays fully distributed, and
``_scan_files`` is the one builder of a scan over files a snapshot names:
it hands Spark the log's resolved file list and keeps the file-status
lookup on the driver, so no scan pays a Spark listing job (one task per
file once a read names more than 32 paths) to rediscover what the log
already says.

The write side has one commit path the same way: every mutation (write,
merge, compaction, deletion-vector delete/update/purge, restore, convert)
publishes through ``_commit``, and nothing else calls ``_write_commit``.
``_commit`` owns the commit format (the one ``commitInfo``), failed-attempt
cleanup (every data, ``_change_data/`` and deletion-vector file an attempt
wrote is unlinked unless its version publishes) and the checkpoint cadence
(a parquet checkpoint every ``checkpoint_interval`` versions, whichever
mutation lands there). A mutation keeps only what is its own: victim
selection, its Spark plan and its retry policy.

Driver-memory honesty: snapshot state (path, partitionValues, size per
live file) is one dict — ~200 B/file ≈ 200 MB at 1M files (100 TB at
100 MB/file). delta-spark's driver holds the same state for planning; the
documented escalation is distributed state reconstruction (checkpoint →
DataFrame, remove-set anti-join), worth it only past ~10M live files.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pydatalake_spark.sources.dv import (
    _dv_file_path,
    read_dv_descriptor,
    write_dv_file,
)

LOG_DIR = "_delta_log"
LAST_CHECKPOINT = "_last_checkpoint"
DEFAULT_CHECKPOINT_INTERVAL = 10

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}


class DeltaProtocolError(RuntimeError):
    """The table requires protocol features this reader does not implement."""


class DeltaConcurrentCommit(RuntimeError):
    """Another writer committed the same version first (put-if-absent lost)."""


# ---------------------------------------------------------------------------
# log primitives
# ---------------------------------------------------------------------------


def _log_dir(table: str) -> str:
    return os.path.join(table, LOG_DIR)


def _commit_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"{version:020d}.json")


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"{version:020d}.checkpoint.parquet")


def is_delta_table(path: str) -> bool:
    return os.path.isdir(_log_dir(path))


def _has_commits(table: str) -> bool:
    """A table exists if ANY version is reachable — via JSON commits or a
    checkpoint alone (log-retention may have cleaned the early JSON)."""
    return bool(_list_commit_versions(table)) or (
        _read_last_checkpoint(table) is not None
    )


def _list_commit_versions(table: str) -> list[int]:
    d = _log_dir(table)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.endswith(".json") and len(name) == 25:
            try:
                out.append(int(name[:20]))
            except ValueError:
                continue
    return sorted(out)


def _read_last_checkpoint(table: str) -> dict | None:
    p = os.path.join(_log_dir(table), LAST_CHECKPOINT)
    if not os.path.isfile(p):
        return None
    try:
        with open(p) as f:
            return json.load(f)
    except (json.JSONDecodeError, OSError):
        # spec: readers must fall back to listing when the pointer is
        # unreadable (it is replaced non-atomically on some stores)
        return None


_SUPPORTED_READER_FEATURES = frozenset(
    {
        "deletionVectors",
        "columnMapping",
        "timestampNtz",
        "vacuumProtocolCheck",
    }
)


def _check_protocol(proto: dict) -> None:
    if proto.get("minReaderVersion", 1) > 3:
        raise DeltaProtocolError(
            f"table requires minReaderVersion="
            f"{proto['minReaderVersion']}; this reader implements 1-3"
        )
    for feat in proto.get("readerFeatures") or []:
        if feat not in _SUPPORTED_READER_FEATURES:
            raise DeltaProtocolError(
                f"unsupported reader feature: {feat!r} "
                "(v2 checkpoints are not implemented)"
            )


def _check_metadata(meta: dict) -> None:
    conf = meta.get("configuration") or {}
    cm = conf.get("delta.columnMapping.mode", "none")
    if cm not in ("none", "", "name", "id"):
        raise DeltaProtocolError(
            f"delta.columnMapping.mode={cm!r} is not implemented"
        )
    fmt = (meta.get("format") or {}).get("provider", "parquet")
    if fmt != "parquet":
        raise DeltaProtocolError(f"non-parquet format provider: {fmt!r}")


# ---------------------------------------------------------------------------
# snapshot reconstruction
# ---------------------------------------------------------------------------


@dataclass
class DeltaSnapshot:
    table: str
    version: int
    protocol: dict = field(default_factory=lambda: dict(PROTOCOL))
    metadata: dict | None = None
    # live files: relative (url-decoded) path -> add action dict
    files: dict[str, dict] = field(default_factory=dict)
    # streaming idempotence: txn appId -> highest committed version
    txns: dict[str, int] = field(default_factory=dict)
    # remove tombstones seen during replay: relative path -> remove action
    # (latest removal wins; re-adding a path clears its tombstone). Powers
    # checkpoint tombstone retention (spec: checkpoints must carry removes
    # newer than the retention window) and vacuum's removal-time clock.
    tombstones: dict[str, dict] = field(default_factory=dict)

    @property
    def schema(self) -> StructType:
        assert self.metadata is not None
        return StructType.fromJson(json.loads(self.metadata["schemaString"]))

    @property
    def partition_columns(self) -> list[str]:
        assert self.metadata is not None
        return list(self.metadata.get("partitionColumns") or [])

    @property
    def column_mapping(self) -> dict[str, str] | None:
        """LOGICAL → PHYSICAL top-level name map when
        ``delta.columnMapping.mode`` is active, else None. Physical names
        live in each schema field's ``delta.columnMapping.physicalName``
        metadata; the data files, the add actions' ``partitionValues``
        keys, and the per-file stats keys all use PHYSICAL names, while
        ``metadata.partitionColumns`` and the user API stay logical."""
        assert self.metadata is not None
        conf = self.metadata.get("configuration") or {}
        mode = conf.get("delta.columnMapping.mode", "none")
        if mode in ("none", ""):
            return None
        return {
            f.name: (f.metadata or {}).get(
                "delta.columnMapping.physicalName", f.name
            )
            for f in self.schema.fields
        }


def _maybe_tuplelist_to_dict(v) -> dict:
    """Checkpoint ``partitionValues`` maps read back from pyarrow as
    list-of-(key, value) tuples; JSON commits carry plain dicts."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return v
    return {k: val for k, val in v}


def _apply_action(snap: DeltaSnapshot, action: dict) -> None:
    if "metaData" in action and action["metaData"] is not None:
        meta = dict(action["metaData"])
        # checkpoint map columns read back as [(k, v), ...] via pyarrow
        meta["configuration"] = _maybe_tuplelist_to_dict(
            meta.get("configuration")
        )
        if meta.get("format"):
            fmt = dict(meta["format"])
            fmt["options"] = _maybe_tuplelist_to_dict(fmt.get("options"))
            meta["format"] = fmt
        snap.metadata = meta
    elif "protocol" in action and action["protocol"] is not None:
        snap.protocol = action["protocol"]
        _check_protocol(snap.protocol)
    elif "add" in action and action["add"] is not None:
        add = dict(action["add"])
        add["partitionValues"] = _maybe_tuplelist_to_dict(
            add.get("partitionValues")
        )
        rel = unquote(add["path"])
        snap.files[rel] = add
        snap.tombstones.pop(rel, None)
    elif "remove" in action and action["remove"] is not None:
        rm = dict(action["remove"])
        rel = unquote(rm["path"])
        snap.files.pop(rel, None)
        prev = snap.tombstones.get(rel)
        if (
            prev is None
            or (rm.get("deletionTimestamp") or 0)
            >= (prev.get("deletionTimestamp") or 0)
        ):
            snap.tombstones[rel] = rm
    elif "txn" in action and action["txn"] is not None:
        t = action["txn"]
        prev = snap.txns.get(t["appId"])
        if prev is None or t["version"] > prev:
            snap.txns[t["appId"]] = t["version"]
    # commitInfo / cdc / domainMetadata: no effect on file state


def _decode_map_column(arr) -> list[dict | None]:
    """MapArray -> list of dicts via flat offsets — ~10x cheaper than
    ``to_pylist()``'s per-row tuple lists on 100k-row checkpoints."""
    try:
        out: list[dict | None] = []
        for chunk in getattr(arr, "chunks", [arr]):
            offsets = chunk.offsets.to_pylist()
            keys = chunk.keys.to_pylist()
            items = chunk.items.to_pylist()
            valid = chunk.is_valid().to_pylist()
            for i in range(len(chunk)):
                if not valid[i]:
                    out.append(None)
                    continue
                lo, hi = offsets[i], offsets[i + 1]
                out.append(
                    {keys[j]: items[j] for j in range(lo, hi)}
                    if hi > lo
                    else {}
                )
        return out
    except (AttributeError, TypeError):
        # foreign checkpoints may encode this as list<struct> instead of
        # map — fall back to the generic decoder
        return [
            _maybe_tuplelist_to_dict(v) if v is not None else None
            for v in arr.to_pylist()
        ]


def _multipart_checkpoint_paths(
    table: str, version: int, parts: int
) -> list[str]:
    """Spec naming: ``%020d.checkpoint.%010d.%010d.parquet`` (version,
    part number 1-based, total parts)."""
    d = _log_dir(table)
    return [
        os.path.join(
            d, f"{version:020d}.checkpoint.{i:010d}.{parts:010d}.parquet"
        )
        for i in range(1, parts + 1)
    ]


def _load_checkpoint(
    snap: DeltaSnapshot, cp_version: int, parts: int | None = None
) -> None:
    import pyarrow.parquet as pq

    if parts:
        paths = _multipart_checkpoint_paths(snap.table, cp_version, parts)
        missing = [p for p in paths if not os.path.isfile(p)]
        if missing:
            raise DeltaProtocolError(
                f"multi-part checkpoint {cp_version} is missing "
                f"{len(missing)} of {parts} parts, e.g. {missing[0]}"
            )
        for p in paths:
            _load_checkpoint_file(snap, pq.ParquetFile(p))
        return
    path = _checkpoint_path(snap.table, cp_version)
    if not os.path.isfile(path):
        raise DeltaProtocolError(
            f"_last_checkpoint points at missing {path}"
        )
    _load_checkpoint_file(snap, pq.ParquetFile(path))


def _load_checkpoint_file(snap: DeltaSnapshot, pf) -> None:
    import pyarrow.compute as pc
    cols = [
        c
        for c in ("protocol", "metaData", "add", "remove", "txn")
        if c in pf.schema_arrow.names
    ]
    # Stream record batches so a million-file checkpoint never holds the
    # whole table at once. The hot column (add) is decoded COLUMN-WISE —
    # row-wise batch.to_pylist() built a nested dict per row across every
    # action column (mostly nulls) and was ~5x SLOWER than raw JSON
    # replay at 100k files (caught by tools/probe_delta_log.py).
    for batch in pf.iter_batches(columns=cols):
        for key in ("protocol", "metaData", "remove", "txn"):
            if key not in cols:
                continue
            col = batch.column(batch.schema.get_field_index(key))
            if col.null_count == len(col):
                continue
            # filter-first: decoding 100k complex NULLs row-wise costs
            # ~250ms/batch; decoding the ~1 real row costs ~1ms
            for row in col.filter(col.is_valid()).to_pylist():
                if row is not None:
                    _apply_action(snap, {key: row})
        if "add" in cols:
            add = batch.column(batch.schema.get_field_index("add"))
            if add.null_count == len(add):
                continue
            present = {f.name for f in add.type}
            fields = {
                name: pc.struct_field(add, name).to_pylist()
                for name in (
                    "path", "size", "modificationTime", "dataChange",
                    "stats",
                )
                if name in present
            }
            paths = fields.get("path", [])
            pvals = (
                _decode_map_column(pc.struct_field(add, "partitionValues"))
                if "partitionValues" in present
                else [None] * len(paths)
            )
            sizes = fields.get("size", [None] * len(paths))
            mods = fields.get("modificationTime", [None] * len(paths))
            dcs = fields.get("dataChange", [None] * len(paths))
            stats = fields.get("stats", [None] * len(paths))
            dvs = (
                pc.struct_field(add, "deletionVector").to_pylist()
                if "deletionVector" in present
                else [None] * len(paths)
            )
            vmask = add.is_valid().to_pylist()
            for i, ok in enumerate(vmask):
                if not ok or paths[i] is None:
                    continue
                entry = {
                    "path": paths[i],
                    "partitionValues": pvals[i] or {},
                    "size": sizes[i],
                    "modificationTime": mods[i],
                    "dataChange": dcs[i],
                    "stats": stats[i],
                }
                if dvs[i] is not None and dvs[i].get("storageType"):
                    entry["deletionVector"] = dvs[i]
                snap.files[unquote(paths[i])] = entry


def _list_checkpoint_versions(table: str) -> list[int]:
    """Single-part checkpoints present on disk — the spec's fallback when
    ``_last_checkpoint`` is missing/unreadable (it is replaced
    non-atomically on some stores)."""
    d = _log_dir(table)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.endswith(".checkpoint.parquet") and len(name) == 39:
            try:
                out.append(int(name[:20]))
            except ValueError:
                continue
    return sorted(out)


def _read_commit_actions(table: str, version: int) -> list[dict]:
    """Parse one commit's actions, retrying briefly on an EMPTY or
    truncated file: on link-less filesystems ``_atomic_put`` publishes as
    O_EXCL zero-byte reservation → rename-with-content, so a reader can
    observe the reservation for a few microseconds. Persistent emptiness
    or JSON garbage is a real protocol error."""
    p = _commit_path(table, version)
    delay = 0.01
    for _ in range(8):
        try:
            with open(p) as f:
                text = f.read()
        except OSError as e:
            raise DeltaProtocolError(
                f"cannot read commit {version}: {e}"
            ) from e
        if text.strip():
            try:
                return [
                    json.loads(line)
                    for line in text.splitlines()
                    if line.strip()
                ]
            except json.JSONDecodeError:
                pass  # mid-publish on a non-atomic store: retry
        time.sleep(delay)
        delay *= 2
    raise DeltaProtocolError(
        f"commit {version} is empty or unparseable after retries "
        f"(in-flight writer crashed, or a non-atomic foreign publish): {p}"
    )


def snapshot(table: str, version: int | None = None) -> DeltaSnapshot:
    """Reconstruct table state at ``version`` (latest when None)."""
    versions = _list_commit_versions(table)
    cp = _read_last_checkpoint(table)
    latest = max(versions) if versions else (cp["version"] if cp else None)
    if latest is None:
        cps = _list_checkpoint_versions(table)
        latest = max(cps) if cps else None
    if latest is None:
        raise FileNotFoundError(f"not a Delta table (no log): {table}")
    target = latest if version is None else int(version)
    if target > latest or target < 0:
        raise ValueError(
            f"version {target} out of range (table is at {latest})"
        )

    snap = DeltaSnapshot(table=table, version=target)
    start = 0
    # usable checkpoint: the pointer's (<= target, all files present —
    # single- OR multi-part), else the newest listed single-part
    # checkpoint <= target
    candidates = []
    if cp and cp.get("version", -1) <= target and cp.get("parts") is None:
        candidates.append(cp["version"])
    candidates.extend(
        v for v in _list_checkpoint_versions(table) if v <= target
    )
    single = [
        v
        for v in set(candidates)
        if os.path.isfile(_checkpoint_path(table, v))
    ]
    multi: tuple[int, int] | None = None
    if cp and cp.get("version", -1) <= target and cp.get("parts"):
        mp = _multipart_checkpoint_paths(
            table, cp["version"], int(cp["parts"])
        )
        if all(os.path.isfile(p) for p in mp):
            multi = (cp["version"], int(cp["parts"]))
    best_single = max(single) if single else -1
    if multi is not None and multi[0] >= best_single:
        _load_checkpoint(snap, multi[0], parts=multi[1])
        start = multi[0] + 1
    elif single:
        cpv = best_single
        _load_checkpoint(snap, cpv)
        start = cpv + 1
    # otherwise: replay from 0 — only works if the JSON log still
    # reaches back; the gap check below raises if it doesn't
    for v in range(start, target + 1):
        if not os.path.isfile(_commit_path(table, v)):
            # any missing commit at-or-below the target makes the replay
            # incomplete — raising beats silently serving partial state
            # (the old code skipped v == start; r11 ADVICE)
            raise DeltaProtocolError(f"log has a gap at version {v}")
        for action in _read_commit_actions(table, v):
            _apply_action(snap, action)
    if snap.metadata is None:
        raise DeltaProtocolError(f"no metaData action found in log: {table}")
    _check_protocol(snap.protocol)
    _check_metadata(snap.metadata)
    return snap


def _commit_timestamp(table: str, version: int) -> float:
    """Commit time in epoch seconds: commitInfo.timestamp when present,
    else the log file's mtime (both allowed by the spec)."""
    p = _commit_path(table, version)
    try:
        with open(p) as f:
            first = f.readline()
        action = json.loads(first)
        ci = action.get("commitInfo")
        if ci and "timestamp" in ci:
            return ci["timestamp"] / 1000.0
    except (OSError, json.JSONDecodeError):
        pass
    return os.path.getmtime(p)


def resolve_timestamp(table: str, ts) -> int:
    """Delta time travel rule: the LATEST version committed at-or-before
    ``ts`` (epoch seconds or datetime). Contrast: TimeFly's as-of rule is
    first-snapshot-AFTER (SURVEY §7.3.4); the bridge documents the
    difference rather than papering over it."""
    if hasattr(ts, "timestamp"):
        ts = ts.timestamp()
    best = None
    for v in _list_commit_versions(table):
        if _commit_timestamp(table, v) <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no commit at or before {ts}; earliest is version 0"
        )
    return best


# ---------------------------------------------------------------------------
# read
# ---------------------------------------------------------------------------


_CMP = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a is not None and a < b,
    "<=": lambda a, b: a is not None and a <= b,
    ">": lambda a, b: a is not None and a > b,
    ">=": lambda a, b: a is not None and a >= b,
    "in": lambda a, b: a in b,
}


def _typed_partition_value(raw: str | None, dtype: str):
    """Protocol stores partitionValues as strings (null = None); compare
    in the column's type so numeric filters do not lex-compare."""
    if raw is None:
        return None
    if dtype in ("byte", "short", "integer", "long"):
        return int(raw)
    if dtype in ("float", "double"):
        return float(raw)
    if dtype == "boolean":
        return raw == "true"
    return raw


def _physical_type(dt):
    """Recursively rename struct fields to their columnMapping physical
    names — the schema the PARQUET FILES actually carry."""
    from pyspark.sql.types import ArrayType, MapType, StructField

    if isinstance(dt, StructType):
        out = []
        for f in dt.fields:
            phys = (f.metadata or {}).get(
                "delta.columnMapping.physicalName", f.name
            )
            out.append(
                StructField(phys, _physical_type(f.dataType), f.nullable)
            )
        return StructType(out)
    if isinstance(dt, ArrayType):
        return ArrayType(_physical_type(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _physical_type(dt.keyType),
            _physical_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _prune_files(
    snap: DeltaSnapshot,
    partition_filters: list[tuple] | None,
    mapping: dict[str, str] | None = None,
) -> dict[str, dict]:
    if not partition_filters:
        return snap.files
    types = {f.name: f.dataType.typeName() for f in snap.schema.fields}
    pcols = set(snap.partition_columns)
    for col, _, _ in partition_filters:
        if col not in pcols:
            raise ValueError(
                f"{col!r} is not a partition column {sorted(pcols)}"
            )
    phys = mapping or {}
    out = {}
    for path, add in snap.files.items():
        ok = True
        for col, op, val in partition_filters:
            pv = _typed_partition_value(
                add["partitionValues"].get(phys.get(col, col)),
                types.get(col, "string"),
            )
            if not _CMP[op](pv, val):
                ok = False
                break
        if ok:
            out[path] = add
    return out


def _resolve_path(table: str, rel: str) -> str:
    """add.path may be table-relative (normal) or absolute (the spec
    allows it, e.g. shallow-cloned tables)."""
    if rel.startswith("file://"):
        return rel[len("file://"):]
    if rel.startswith("/") or "://" in rel:
        return rel
    return os.path.join(table, rel)


def _prune_data_files(
    snap: DeltaSnapshot, files: dict[str, dict],
    data_filters: list[tuple] | None,
    mapping: dict[str, str] | None = None,
) -> dict[str, dict]:
    """Stats-based file skipping: drop files whose log ``stats``
    (minValues/maxValues) PROVE no row can satisfy every filter. Files
    without stats for a referenced column are always kept (absent stats
    are never license to skip), so the pruning is sound on foreign
    tables too. Comparisons with a NULL column can't be satisfied, so an
    all-null file (min/max absent, nullCount == numRecords) is skippable
    for any comparison filter — that case falls out of "no min/max
    recorded but nullCount present"."""
    if not data_filters:
        return files
    types = {f.name: f.dataType.typeName() for f in snap.schema.fields}
    pcols = set(snap.partition_columns)
    for col, _, _ in data_filters:
        if col not in types:
            raise ValueError(f"unknown column in data_filters: {col!r}")
        if col in pcols:
            raise ValueError(
                f"{col!r} is a partition column — use partition_filters"
            )
    phys = mapping or {}
    out = {}
    for path, add in files.items():
        try:
            stats = json.loads(add.get("stats") or "{}")
        except (TypeError, json.JSONDecodeError):
            stats = {}
        mins = stats.get("minValues") or {}
        maxs = stats.get("maxValues") or {}
        nulls = stats.get("nullCount") or {}
        n = stats.get("numRecords")
        keep = True
        for col, op, val in data_filters:
            dtype = types[col]
            pcol = phys.get(col, col)  # stats keys are PHYSICAL names
            mn = _parse_stat(mins.get(pcol), dtype)
            mx = _parse_stat(maxs.get(pcol), dtype)
            if mn is None or mx is None:
                # no usable min/max; the only sound skip is the
                # provably-all-null file vs a comparison predicate
                if (
                    n is not None
                    and nulls.get(pcol) is not None
                    and nulls[pcol] == n
                ):
                    keep = False
                    break
                continue
            vals = list(val) if op == "in" else [val]
            vals = [_parse_stat(_json_stat(v), dtype) for v in vals]
            if any(v is None for v in vals):
                continue
            if op in ("=", "in"):
                possible = any(mn <= v <= mx for v in vals)
            elif op == "<":
                possible = mn < vals[0]
            elif op == "<=":
                possible = mn <= vals[0]
            elif op == ">":
                possible = mx > vals[0]
            elif op == ">=":
                possible = mx >= vals[0]
            else:  # != can only be refuted by a constant file; min==max
                possible = not (mn == mx == vals[0])
            if not possible:
                keep = False
                break
        if keep:
            out[path] = add
    return out


def _is_hive_layout(files: dict[str, dict], pcols: list[str]) -> bool:
    """True when every live file sits under the ``col=value/`` directory
    chain its ``partitionValues`` describe — then one basePath-ed scan
    serves the whole snapshot and Spark derives partition columns from
    the directories the log itself vouches for."""
    for path, add in files.items():
        parts = path.split("/")[:-1]
        if len(parts) < len(pcols):
            return False
        for i, c in enumerate(pcols):
            want = add["partitionValues"].get(c)
            seg = parts[i]
            if not seg.startswith(c + "="):
                return False
            got = unquote(seg[len(c) + 1 :])
            if got == "__HIVE_DEFAULT_PARTITION__":
                got = None
            if (want or None) != (got or None):
                return False
    return True


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@contextmanager
def _conf_set(spark: SparkSession, key: str, value: str):
    """Set a runtime SQL conf for the block, then put back the caller's
    value (or unset it again) even if the block raises. The conf is
    session-wide, so other threads on the session see it meanwhile."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _scan_files(
    spark: SparkSession,
    table: str,
    files: dict[str, dict],
    schema: StructType,
    pcols: list[str],
    with_meta: bool = False,
) -> DataFrame:
    """One DataFrame over ``files``; every scan of files a snapshot names
    is built here. Hive layouts get a single basePath-ed scan (partition
    dirs the log vouches for); foreign layouts group files by
    partitionValues and attach the log's values as literals — unions
    bounded by DISTINCT live partitions, not files. ``with_meta`` appends
    ``__dv_fn``/``__dv_ri`` (the scan's file name and physical row index)
    for deletion-vector filtering.

    The log already names every file, so Spark's leaf-file status lookup
    runs on the driver: past ``parallelPartitionDiscovery.threshold``
    paths (32 by default) Spark would otherwise fire a listing job with
    one task per file. The log and commits go through ``os.*``, so a
    path resolved without a URI scheme is on a driver-visible filesystem
    and its lookup is one ``stat``. If any path keeps a scheme (a foreign
    absolute ``add.path``), Spark's default applies."""
    names = [f.name for f in schema.fields]
    meta = (
        [
            F.col("_metadata.file_name").alias("__dv_fn"),
            F.col("_metadata.row_index").alias("__dv_ri"),
        ]
        if with_meta
        else []
    )
    paths = [_resolve_path(table, p) for p in files]
    if any("://" in p for p in paths):
        listing = nullcontext()
    else:
        floor = int(spark.conf.get(_LISTING_THRESHOLD))
        listing = _conf_set(
            spark, _LISTING_THRESHOLD, str(max(floor, len(paths)))
        )
    with listing:
        if not pcols:
            return spark.read.schema(schema).parquet(*paths).select(
                *names, *meta
            )
        if _is_hive_layout(files, pcols):
            return (
                spark.read.schema(schema)
                .option("basePath", table)
                .parquet(*paths)
                .select(*names, *meta)
            )
        data_schema = StructType(
            [f for f in schema.fields if f.name not in pcols]
        )
        types = {f.name: f.dataType for f in schema.fields}
        groups: dict[tuple, list[str]] = {}
        for path, add in files.items():
            key = tuple(add["partitionValues"].get(c) for c in pcols)
            groups.setdefault(key, []).append(_resolve_path(table, path))
        parts = []
        for key, grp in sorted(groups.items(), key=lambda kv: str(kv[0])):
            part = spark.read.schema(data_schema).parquet(*grp)
            for c, raw in zip(pcols, key):
                part = part.withColumn(c, F.lit(raw).cast(types[c]))
            parts.append(part.select(*names, *meta))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df


def _scan_dv_files(
    spark: SparkSession,
    table: str,
    dvf: dict[str, dict],
    schema: StructType,
    pcols: list[str],
    with_meta: bool = False,
) -> DataFrame:
    """Scan deletion-vector-bearing files with deleted rows filtered out:
    the scan carries ``_metadata.file_name``/``row_index`` and an
    anti-join against the resolved (file, row) tombstone set drops
    exactly the DV-marked positions. The tombstone side is
    |deleted rows| — bounded by DV cardinality, not table size — and is
    broadcast-hinted when it provably fits (we hold its exact length on
    the driver; a stats-less local relation would otherwise sort-merge
    and shuffle the whole scan). Driver cost: one bounded DV blob read
    per file (kilobytes each, the format's design point). ``with_meta``
    keeps ``__dv_fn``/``__dv_ri`` on the output."""
    names = [f.name for f in schema.fields]
    if with_meta:
        names += ["__dv_fn", "__dv_ri"]
    basenames = [os.path.basename(p) for p in dvf]
    if len(set(basenames)) != len(basenames):
        raise DeltaProtocolError(
            "deletion-vector read requires unique data file names in the "
            "snapshot (collision across partition dirs)"
        )
    pairs = []
    for rel, add in dvf.items():
        bn = os.path.basename(rel)
        for ri in read_dv_descriptor(table, add["deletionVector"]):
            pairs.append((bn, int(ri)))
    sub = _scan_files(spark, table, dvf, schema, pcols, with_meta=True)
    if not pairs:  # empty DVs: nothing to drop
        return sub.select(*names)
    deleted = spark.createDataFrame(pairs, "__dv_fn string, __dv_ri long")
    # the tombstone side is a stats-less local relation, so the static
    # planner would sort-merge — shuffling the WHOLE DV-bearing scan.
    # We know |pairs| exactly (it was built on the driver): broadcast
    # when it genuinely fits, keep the shuffle fallback for huge DV sets
    if len(pairs) <= 2_000_000:
        deleted = F.broadcast(deleted)
    return (
        sub.join(deleted, on=["__dv_fn", "__dv_ri"], how="left_anti")
        .select(*names)
    )


def _scan_visible(
    spark: SparkSession,
    table: str,
    files: dict[str, dict],
    schema: StructType,
    pcols: list[str],
    with_meta: bool = False,
) -> DataFrame:
    """All VISIBLE rows of ``files``: plain files scanned as they are,
    deletion-vector-bearing files with their tombstoned rows dropped."""
    plain = {p: a for p, a in files.items() if not a.get("deletionVector")}
    dvf = {p: a for p, a in files.items() if a.get("deletionVector")}
    parts = []
    if plain:
        parts.append(
            _scan_files(spark, table, plain, schema, pcols, with_meta)
        )
    if dvf:
        parts.append(
            _scan_dv_files(spark, table, dvf, schema, pcols, with_meta)
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _has_dvs(files: dict[str, dict]) -> bool:
    return any(a.get("deletionVector") for a in files.values())


def read_delta(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    timestamp=None,
    partition_filters: list[tuple] | None = None,
    data_filters: list[tuple] | None = None,
) -> DataFrame:
    """Read a Delta table snapshot as a DataFrame.

    ``partition_filters``: ``[(col, op, value), ...]`` with op in
    ``= != < <= > >= in`` — applied to the LOG's partitionValues before
    any parquet footer is opened (the at-scale point of the format), and
    re-applied on the DataFrame so semantics are exact even for foreign
    logs with lying directory names.

    ``data_filters``: same triple shape over NON-partition columns —
    stats-based file skipping from the log's per-file minValues/maxValues
    (files without stats are kept), then re-applied exactly on the
    DataFrame. With z-ordered layout (``compact_delta(zorder_by=...)``)
    this drops most files for a selective predicate on ANY clustered
    column before Spark opens a single footer.
    """
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = resolve_timestamp(table, timestamp)
    snap = snapshot(table, version)
    mapping = snap.column_mapping
    files = _prune_files(snap, partition_filters, mapping)
    files = _prune_data_files(snap, files, data_filters, mapping)
    schema = snap.schema
    pcols = snap.partition_columns

    if not files:
        return spark.createDataFrame([], schema)

    # columnMapping tables: the parquet files, partition dirs and stats
    # all carry PHYSICAL names — scan physically, then project back to
    # the logical schema (nested renames ride on a positional struct
    # cast, which only renames since the types are identical)
    scan_schema = _physical_type(schema) if mapping else schema
    scan_pcols = [mapping[c] for c in pcols] if mapping else pcols

    df = _scan_visible(spark, table, files, scan_schema, scan_pcols)
    if mapping:
        df = df.select(
            [
                F.col(mapping[f.name]).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
    for col, op, val in (partition_filters or []) + (data_filters or []):
        c = F.col(col)
        if op == "in":
            cond = c.isin(list(val))
        elif op == "=":
            cond = c == val
        elif op == "!=":
            cond = c != val
        elif op == "<":
            cond = c < val
        elif op == "<=":
            cond = c <= val
        elif op == ">":
            cond = c > val
        else:
            cond = c >= val
        df = df.filter(cond)
    return df


# ---------------------------------------------------------------------------
# write
# ---------------------------------------------------------------------------


def _atomic_put(tmp: str, dst: str) -> None:
    """Put-if-absent: hard-link is atomic on POSIX and fails when dst
    exists — the property optimistic concurrency needs. Link-less
    filesystems fall back to a two-step that keeps BOTH properties
    (r11 ADVICE low): an O_EXCL zero-byte create wins the name (the
    put-if-absent), then ``os.rename`` publishes the full content
    atomically over our own reservation — a concurrent reader never sees
    a HALF-written commit, only (briefly) an empty one, which
    ``_read_commit_actions`` treats as in-flight and retries. Real
    object stores use their native conditional put instead."""
    try:
        os.link(tmp, dst)
    except FileExistsError:
        raise DeltaConcurrentCommit(
            f"version file already exists: {dst}"
        ) from None
    except OSError:
        try:
            fd = os.open(dst, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise DeltaConcurrentCommit(
                f"version file already exists: {dst}"
            ) from None
        os.close(fd)
        # tmp lives in the same _delta_log dir => same filesystem
        os.rename(tmp, dst)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _write_commit(table: str, version: int, actions: list[dict]) -> None:
    d = _log_dir(table)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
    _atomic_put(tmp, _commit_path(table, version))


def _schema_key(schema: StructType) -> list[tuple[str, str]]:
    # nullability is advisory for append-compat (parquet writers vary)
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _collect_staged_files(staging: str, pcols: list[str]) -> list[tuple]:
    """(relative hive path with a fresh uuid name, partitionValues, local
    src path) for every part file Spark staged."""
    out = []
    for root, _dirs, names in os.walk(staging):
        for name in names:
            if not name.endswith(".parquet") or name.startswith((".", "_")):
                continue
            src = os.path.join(root, name)
            rel_dir = os.path.relpath(root, staging)
            comps = [] if rel_dir == "." else rel_dir.split(os.sep)
            pvals: dict[str, str | None] = {}
            for comp in comps:
                k, _, v = comp.partition("=")
                v = unquote(v)
                pvals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
            missing = [c for c in pcols if c not in pvals]
            if missing:
                raise DeltaProtocolError(
                    f"staged file {src} lacks partition dirs {missing}"
                )
            fname = f"part-{uuid.uuid4().hex}.snappy.parquet"
            rel = "/".join(comps + [fname]) if comps else fname
            out.append((rel, pvals, src))
    return out


def _staged_write(
    df: DataFrame,
    staging: str,
    pcols: list[str],
    max_records_per_file: int | None = None,
) -> None:
    """Stage data files with Spark. Timestamps are pinned to
    TIMESTAMP_MICROS for the write: the INT96 default carries NO usable
    parquet min/max statistics (its sort order is undefined), which
    would silently disable ``data_filters`` skipping on every timestamp
    column. Runtime-settable conf, saved and restored around the job."""
    key = "spark.sql.parquet.outputTimestampType"
    with _conf_set(df.sparkSession, key, "TIMESTAMP_MICROS"):
        w = df.write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", str(max_records_per_file))
        w.parquet(staging)


# stats are written only for types whose parquet min/max round-trip
# exactly through JSON; strings are EXCLUDED on purpose (parquet writers
# may truncate long string stats, and a truncated max would make skipping
# unsound — absent stats just mean "never skip this file on that column")
_STATS_TYPES = (
    "byte", "short", "integer", "long", "float", "double",
    "boolean", "date", "timestamp", "timestamp_ntz",
)


def _json_stat(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _parse_stat(raw, dtype: str):
    """JSON stat value -> comparable python value for ``dtype``."""
    if raw is None:
        return None
    if dtype in ("timestamp", "timestamp_ntz", "date"):
        import datetime as _dt

        if isinstance(raw, str):
            s = raw.replace("Z", "+00:00")
            try:
                v = (
                    _dt.date.fromisoformat(s)
                    if dtype == "date"
                    else _dt.datetime.fromisoformat(s)
                )
            except ValueError:
                return None
            if getattr(v, "tzinfo", None) is not None:
                v = v.replace(tzinfo=None)
            return v
        return raw
    if dtype in ("byte", "short", "integer", "long"):
        return int(raw)
    if dtype in ("float", "double"):
        return float(raw)
    return raw


def _file_stats_many(
    paths: list[str], schema: StructType, pcols: list[str]
) -> dict[str, str]:
    """Footer stats for many files, threaded — the read is tiny but
    latency-bound (one open+footer parse per file), so a wide commit
    (thousands of staged files) shouldn't serialize it on the driver."""
    from concurrent.futures import ThreadPoolExecutor

    if len(paths) <= 4:
        return {p: _file_stats(p, schema, pcols) for p in paths}
    with ThreadPoolExecutor(max_workers=16) as ex:
        vals = list(
            ex.map(lambda p: _file_stats(p, schema, pcols), paths)
        )
    return dict(zip(paths, vals))


def _file_stats(path: str, schema: StructType, pcols: list[str]) -> str:
    """Protocol ``stats`` JSON for one data file: numRecords plus
    min/max/nullCount per eligible top-level column, aggregated across
    row groups from the parquet FOOTER (a bounded metadata read — the
    bytes never load)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    eligible = {
        f.name: f.dataType.typeName()
        for f in schema.fields
        if f.name not in pcols and f.dataType.typeName() in _STATS_TYPES
    }
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    complete = dict.fromkeys(eligible, True)
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in eligible:
                continue
            st = col.statistics
            # NOTE: col.num_values counts ROWS in the chunk INCLUDING
            # nulls (an all-null 1-row group reads num_values=1,
            # null_count=1) — the soundness property test caught the
            # first version treating it as the non-null count
            n_rows = col.num_values
            if st is not None and st.has_null_count:
                if nulls.get(name, 0) is not None:
                    nulls[name] = nulls.get(name, 0) + st.null_count
            elif n_rows > 0:
                nulls[name] = None  # unknown nulls in a non-empty group
            if st is not None and st.has_min_max:
                mn, mx = st.min, st.max
                if name not in mins or (mn is not None and mn < mins[name]):
                    mins[name] = mn
                if name not in maxs or (mx is not None and mx > maxs[name]):
                    maxs[name] = mx
            elif n_rows == 0 or (
                st is not None
                and st.has_null_count
                and st.null_count == n_rows
            ):
                # empty or provably all-null group: contributes nothing
                # to min/max and doesn't invalidate the other groups'
                pass
            else:
                complete[name] = False
    out = {"numRecords": md.num_rows, "minValues": {}, "maxValues": {},
           "nullCount": {}}
    for name in eligible:
        if complete[name] and name in mins:
            out["minValues"][name] = _json_stat(mins[name])
            out["maxValues"][name] = _json_stat(maxs[name])
        # default 0: a column no group contributed to (zero-row file)
        # trivially has zero nulls; explicit None = genuinely unknown
        nc = nulls.get(name, 0)
        if nc is not None:
            out["nullCount"][name] = nc
    return json.dumps(out, default=str)


# ---------------------------------------------------------------------------
# the commit path: every mutation publishes through _commit
# ---------------------------------------------------------------------------


def _remove(add: dict, now_ms: int, data_change: bool) -> dict:
    """The ``remove`` action retiring the live file ``add`` describes."""
    return {
        "remove": {
            "path": add["path"],
            "deletionTimestamp": now_ms,
            "dataChange": data_change,
            "partitionValues": add.get("partitionValues"),
            "size": add.get("size"),
        }
    }


def _adds(
    table: str,
    files: list[tuple[str, dict]],
    schema: StructType,
    pcols: list[str],
    data_change: bool,
) -> list[dict]:
    """``add`` actions for data files already in place under ``table``,
    given as (relative path, partitionValues): size and modification
    time from the file, stats from its footer."""
    full = [os.path.join(table, *rel.split("/")) for rel, _ in files]
    stats = _file_stats_many(full, schema, pcols)
    return [
        {
            "add": {
                # keep = and common filename chars readable —
                # delta-spark's URI encoding does the same
                "path": quote(rel, safe="/=.-_"),
                "partitionValues": {c: pvals.get(c) for c in pcols},
                "size": os.path.getsize(p),
                "modificationTime": int(os.path.getmtime(p) * 1000),
                "dataChange": data_change,
                "stats": stats[p],
            }
        }
        for (rel, pvals), p in zip(files, full)
    ]


def _stage(
    df: DataFrame,
    table: str,
    pcols: list[str],
    written: list[str],
    max_records_per_file: int | None = None,
    subdir: str | None = None,
) -> list[tuple[str, dict]]:
    """Write ``df`` with Spark into a staging dir under ``table``, then
    move every file to a fresh name in the table (under ``subdir`` when
    given), appending each moved path to ``written`` the moment it lands.
    Returns (relative path, partitionValues) per file."""
    staging = os.path.join(table, f"_staging-{uuid.uuid4().hex}")
    out = []
    try:
        _staged_write(df, staging, pcols, max_records_per_file)
        for rel, pvals, src in _collect_staged_files(staging, pcols):
            if subdir:
                rel = f"{subdir}/{rel}"
            dst = os.path.join(table, *rel.split("/"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
            written.append(dst)
            out.append((rel, pvals))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return out


def _stage_adds(
    df: DataFrame,
    table: str,
    pcols: list[str],
    schema: StructType,
    data_change: bool,
    written: list[str],
    max_records_per_file: int | None = None,
) -> list[dict]:
    """Stage ``df``'s data files into the table (see :func:`_stage`) and
    return their ``add`` actions with footer stats."""
    files = _stage(df, table, pcols, written, max_records_per_file)
    return _adds(table, files, schema, pcols, data_change)


def _commit(
    table: str,
    version: int,
    operation: str,
    params: dict,
    stage: Callable[[list[str], int], list[dict]],
    checkpoint_interval: int = DEFAULT_CHECKPOINT_INTERVAL,
    user_metadata: dict | None = None,
) -> int:
    """Publish ``version``: the one writer of ``commitInfo`` and the one
    caller of :func:`_write_commit`. Returns ``version``.

    ``stage(written, now_ms)`` writes the attempt's files (data,
    ``_change_data/`` and deletion-vector blobs), appends each path to
    ``written`` as it lands, and returns the commit's actions after
    ``commitInfo``. If anything raises before the version file is
    published — Spark staging, footer stats, or a lost put-if-absent race
    — every path in ``written`` is unlinked, so a failed attempt leaves
    the table's files as it found them. After a publish, a parquet
    checkpoint is written every ``checkpoint_interval`` versions (0
    disables), so no mutation lets JSON replay grow without bound."""
    now_ms = int(time.time() * 1000)
    commit_info = {
        "commitInfo": {
            "timestamp": now_ms,
            "operation": operation,
            "operationParameters": params,
            "engineInfo": "pydatalake_spark-native-delta",
        }
    }
    if user_metadata:
        commit_info["commitInfo"]["userMetadata"] = json.dumps(user_metadata)
    written: list[str] = []
    try:
        actions = stage(written, now_ms)
        _write_commit(table, version, [commit_info, *actions])
    except BaseException:
        for p in written:
            try:
                os.unlink(p)
            except OSError:
                pass
        raise
    if (
        checkpoint_interval
        and version > 0
        and version % checkpoint_interval == 0
    ):
        write_checkpoint(table, version)
    return version


class DeltaConstraintViolation(RuntimeError):
    """A batch row violates a table CHECK constraint."""


_SUPPORTED_WRITER_FEATURES = frozenset(
    {
        "appendOnly",
        "checkConstraints",
        "invariants",
        "deletionVectors",
        "changeDataFeed",
        "columnMapping",  # writes refused separately via column_mapping
        "timestampNtz",
        "vacuumProtocolCheck",
    }
)


CDF_DIR = "_change_data"


def _cdf_enabled(meta: dict | None) -> bool:
    return (
        ((meta or {}).get("configuration") or {}).get(
            "delta.enableChangeDataFeed"
        )
        == "true"
    )


def _check_writer_support(snap: "DeltaSnapshot") -> None:
    """Refuse to WRITE a foreign table whose protocol demands writer
    behavior this engine doesn't implement — appending blindly would
    corrupt its invariants (the spec's writer-version contract). Reads
    are unaffected."""
    proto = snap.protocol
    if proto.get("minWriterVersion", 1) == 7:
        for feat in proto.get("writerFeatures") or []:
            if feat not in _SUPPORTED_WRITER_FEATURES:
                raise DeltaProtocolError(
                    f"unsupported writer feature: {feat!r} — refusing "
                    "to write (reads still work)"
                )

    def walk(dt, path):
        from pyspark.sql.types import ArrayType, MapType

        if isinstance(dt, StructType):
            for f in dt.fields:
                meta = f.metadata or {}
                if "delta.invariants" in meta:
                    raise DeltaProtocolError(
                        f"column {path + f.name!r} carries a legacy "
                        "invariant this writer does not enforce — "
                        "refusing to write"
                    )
                if "delta.generationExpression" in meta:
                    raise DeltaProtocolError(
                        f"column {path + f.name!r} is a generated column"
                        " — refusing to write"
                    )
                if any(k.startswith("delta.identity.") for k in meta):
                    raise DeltaProtocolError(
                        f"column {path + f.name!r} is an identity column"
                        " — refusing to write"
                    )
                walk(f.dataType, path + f.name + ".")
        elif isinstance(dt, ArrayType):
            walk(dt.elementType, path)
        elif isinstance(dt, MapType):
            walk(dt.keyType, path)
            walk(dt.valueType, path)

    walk(snap.schema, "")


def _enforce_check_constraints(df: DataFrame, conf: dict) -> None:
    """Enforce ``delta.constraints.<name>`` (CHECK constraints, writer v3
    feature) on a batch before it stages. One ``limit(1)`` probe per
    constraint: the job aborts on the FIRST violating row found — at
    100 TB the probe is a pushed-down filter scan of the batch, not a
    full aggregate, and a clean batch costs one pass per constraint.
    NULL results don't violate (SQL CHECK semantics)."""
    for key, expr in sorted((conf or {}).items()):
        if not key.startswith("delta.constraints."):
            continue
        name = key[len("delta.constraints."):]
        bad = df.filter(~F.coalesce(F.expr(expr), F.lit(True))).limit(1)
        rows = bad.collect()
        if rows:
            raise DeltaConstraintViolation(
                f"CHECK constraint {name!r} ({expr}) violated, e.g. by "
                f"row {rows[0].asDict()}"
            )


def write_delta(
    df: DataFrame,
    table: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    checkpoint_interval: int = DEFAULT_CHECKPOINT_INTERVAL,
    overwrite_schema: bool = False,
    configuration: dict | None = None,
    user_metadata: dict | None = None,
    txn: dict | None = None,
    max_records_per_file: int | None = None,
    merge_schema: bool = False,
    _assume_version: int | None = None,
) -> int:
    """Write ``df`` as one Delta commit; returns the committed version.

    The data files are written by Spark executors (``partitionBy`` hive
    layout, partition columns stripped from the files exactly as the
    protocol's ``partitionValues`` model expects) into a staging dir,
    then moved into the table and committed as ``add`` actions with
    ``numRecords`` stats. Concurrency: the commit is put-if-absent on
    the version file; losing the race raises :class:`DeltaConcurrentCommit`
    (use :func:`append_with_retry` for blind appends).
    """
    if mode not in ("append", "overwrite", "error", "ignore"):
        raise ValueError(f"unknown mode: {mode!r}")
    exists = is_delta_table(table) and _has_commits(table)
    if exists and mode == "error":
        raise FileExistsError(f"Delta table already exists: {table}")
    if exists and mode == "ignore":
        return snapshot(table).version

    prev = snapshot(table) if exists else None
    cm = prev.column_mapping if prev is not None else None
    if cm and (merge_schema or overwrite_schema):
        raise DeltaProtocolError(
            "schema evolution on a columnMapping table is not "
            "implemented (it requires minting columnMapping ids / "
            "physical names); append or overwrite with the existing "
            "schema instead"
        )
    if cm and configuration is not None:
        raise DeltaProtocolError(
            "changing configuration on a columnMapping table is not "
            "implemented (dropping/altering the mapping mode would "
            "orphan the physical file names)"
        )
    if prev is not None:
        _check_writer_support(prev)
    if (configuration or {}).get("delta.columnMapping.mode") not in (
        None,
        "",
        "none",
    ):
        raise DeltaProtocolError(
            "creating a columnMapping table is not implemented (this "
            "engine would have to mint physicalName field metadata); "
            "foreign columnMapping tables are readable"
        )
    pcols = list(partition_by or (prev.partition_columns if prev else []))
    if prev is not None and partition_by is not None:
        if list(partition_by) != prev.partition_columns:
            raise ValueError(
                f"partition_by {list(partition_by)} != table's "
                f"{prev.partition_columns}"
            )
    evolved_schema: StructType | None = None
    if prev is not None and mode in ("append", "overwrite"):
        # column ORDER is not identity: same names+types in a different
        # order align by name to the table's order (unionByName spirit)
        if _schema_key(df.schema) != _schema_key(prev.schema) and sorted(
            _schema_key(df.schema)
        ) == sorted(_schema_key(prev.schema)):
            df = df.select([f.name for f in prev.schema.fields])
    if prev is not None and mode == "append":
        if _schema_key(df.schema) != _schema_key(prev.schema):
            if not merge_schema:
                raise ValueError(
                    "append schema mismatch (pass merge_schema=True for "
                    "additive evolution, or overwrite with "
                    f"overwrite_schema=True):\n  df:    "
                    f"{_schema_key(df.schema)}\n  table: "
                    f"{_schema_key(prev.schema)}"
                )
            # ADDITIVE evolution only (Delta's mergeSchema happy path):
            # new nullable columns appended; columns present on both
            # sides must have identical types — silent type promotion
            # would require old files to upcast at read, which the
            # vectorized parquet reader refuses for several pairs
            t_types = dict(_schema_key(prev.schema))
            d_types = dict(_schema_key(df.schema))
            clash = [
                c
                for c in t_types
                if c in d_types and d_types[c] != t_types[c]
            ]
            if clash:
                raise ValueError(
                    f"merge_schema is additive-only; type changes on "
                    f"{clash} require overwrite with overwrite_schema"
                )
            from pyspark.sql.types import StructField

            evolved_schema = StructType(
                list(prev.schema.fields)
                + [
                    StructField(f.name, f.dataType, True)
                    for f in df.schema.fields
                    if f.name not in t_types
                ]
            )
            # align the batch to the evolved schema (missing table
            # columns -> typed nulls, column order fixed)
            df = df.select(
                *[
                    F.col(f.name)
                    if f.name in d_types
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in evolved_schema.fields
                ]
            )
    if (
        prev is not None
        and mode == "overwrite"
        and not overwrite_schema
        and _schema_key(df.schema) != _schema_key(prev.schema)
    ):
        raise ValueError(
            "overwrite schema mismatch; pass overwrite_schema=True to "
            "evolve"
        )
    if (
        prev is not None
        and mode == "overwrite"
        and (prev.metadata.get("configuration") or {}).get(
            "delta.appendOnly"
        )
        == "true"
    ):
        raise DeltaProtocolError(
            "table is delta.appendOnly=true; overwrite is forbidden"
        )
    bad = [c for c in pcols if c not in df.columns]
    if bad:
        raise ValueError(f"partition_by columns missing from df: {bad}")

    # CHECK constraints (spec: delta.constraints.<name> in the table
    # configuration; legacy writer v3 feature). Enforced BEFORE staging:
    # one limit(1) probe per constraint — aborts on the first violating
    # row without scanning the rest of the batch.
    eff_conf = dict(
        (prev.metadata.get("configuration") or {}) if prev else {}
    )
    if configuration is not None:
        if prev is None or mode == "overwrite":
            eff_conf = dict(configuration)
    _enforce_check_constraints(df, eff_conf)

    os.makedirs(table, exist_ok=True)
    # columnMapping tables: stage and commit under PHYSICAL names (the
    # caller's df stays logical; partitionValues keys, hive dirs and
    # stats keys must all be physical — the protocol's on-disk contract)
    if cm:
        stage_df = df.select(
            [F.col(f.name).alias(cm[f.name]) for f in prev.schema.fields]
        )
        stage_pcols = [cm[c] for c in pcols]
        stage_schema = _physical_type(prev.schema)
    else:
        stage_df, stage_pcols, stage_schema = df, pcols, df.schema
    version = (
        _assume_version
        if _assume_version is not None
        else (prev.version + 1 if prev is not None else 0)
    )

    def stage(written: list[str], now_ms: int) -> list[dict]:
        actions: list[dict] = []
        if txn is not None:
            actions.append(
                {
                    "txn": {
                        "appId": str(txn["appId"]),
                        "version": int(txn["version"]),
                        "lastUpdated": now_ms,
                    }
                }
            )
        if prev is None:
            proto = dict(PROTOCOL)
            if any(
                k.startswith("delta.constraints.")
                for k in (configuration or {})
            ):
                # CHECK constraints are a writer-v3 legacy feature:
                # advertise it so a v2-only foreign writer can't append
                # unchecked rows
                proto["minWriterVersion"] = max(proto["minWriterVersion"], 3)
            if (configuration or {}).get(
                "delta.enableChangeDataFeed"
            ) == "true":
                # CDF is the writer-v4 legacy feature: a foreign writer
                # that doesn't emit cdc files would silently break the feed
                proto["minWriterVersion"] = max(proto["minWriterVersion"], 4)
            actions.append({"protocol": proto})
            actions.append(
                {
                    "metaData": {
                        "id": str(uuid.uuid4()),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": df.schema.json(),
                        "partitionColumns": pcols,
                        "configuration": dict(configuration or {}),
                        "createdTime": now_ms,
                    }
                }
            )
        elif evolved_schema is not None:
            meta = dict(prev.metadata)
            meta["schemaString"] = evolved_schema.json()
            actions.append({"metaData": meta})
        elif mode == "overwrite":
            meta = dict(prev.metadata)
            if overwrite_schema:
                meta["schemaString"] = df.schema.json()
            if configuration is not None:
                meta["configuration"] = dict(configuration)
            actions.append({"metaData": meta})
            actions += [_remove(a, now_ms, True) for a in prev.files.values()]
        return actions + _stage_adds(
            stage_df, table, stage_pcols, stage_schema, True, written,
            max_records_per_file,
        )

    return _commit(
        table,
        version,
        "WRITE" if prev is None else mode.upper(),
        {"mode": mode, "partitionBy": json.dumps(pcols)},
        stage,
        checkpoint_interval,
        user_metadata,
    )


def append_with_retry(
    df: DataFrame, table: str, max_retries: int = 10, **kw
) -> int:
    """Blind appends never logically conflict — on a lost race, re-read
    the head and retry at the next version (the protocol's optimistic-
    concurrency happy path)."""
    for _ in range(max_retries):
        head = (
            snapshot(table).version
            if is_delta_table(table) and _has_commits(table)
            else None
        )
        try:
            return write_delta(
                df,
                table,
                mode="append",
                _assume_version=None if head is None else head + 1,
                **kw,
            )
        except DeltaConcurrentCommit:
            continue
    raise DeltaConcurrentCommit(
        f"lost the commit race {max_retries} times on {table}"
    )


def idempotent_append(
    df: DataFrame,
    table: str,
    app_id: str,
    version: int,
    max_retries: int = 10,
    **kw,
) -> int | None:
    """Exactly-once append via the protocol's ``txn`` action: commit the
    batch together with ``{appId, version}``; a redelivery of the same
    (or an older) batch finds ``snapshot().txns[app_id] >= version`` and
    is SKIPPED (returns None). This is the Structured Streaming
    ``foreachBatch`` sink contract — batchId as the txn version — and it
    holds across job restarts because the watermark lives in the log
    itself, not in driver memory. The re-check happens inside every
    retry, so two racing instances of the same app serialize through
    put-if-absent and the loser observes the winner's txn."""
    for _ in range(max_retries):
        exists = is_delta_table(table) and _has_commits(table)
        head = snapshot(table) if exists else None
        if head is not None and head.txns.get(app_id, -1) >= version:
            return None
        try:
            return write_delta(
                df,
                table,
                mode="append",
                txn={"appId": app_id, "version": version},
                _assume_version=None if head is None else head.version + 1,
                **kw,
            )
        except DeltaConcurrentCommit:
            continue
    raise DeltaConcurrentCommit(
        f"lost the commit race {max_retries} times on {table}"
    )


def delta_stream_sink(
    table: str, app_id: str, partition_by: list[str] | None = None, **kw
):
    """``foreachBatch`` handler factory: attach with
    ``df.writeStream.foreachBatch(delta_stream_sink(path, app_id))``.
    Exactly-once per the ``txn`` watermark (see
    :func:`idempotent_append`)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_append(
            batch_df,
            table,
            app_id=app_id,
            version=int(batch_id),
            partition_by=partition_by,
            **kw,
        )

    return handle


def read_delta_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental consumption: rows ADDED in versions
    ``(from_version, to_version]`` — append-style change feed from the
    log alone (no CDC files needed for append-mostly pipelines).

    Only ``add`` actions with ``dataChange: true`` count, so an
    OPTIMIZE/ZORDER rewrite (``dataChange: false``) contributes NOTHING —
    incremental consumers don't re-see compacted rows. Commits that
    REMOVE data with ``dataChange: true`` (overwrite, merge rewrites)
    raise: their row-level deltas are not representable as pure appends,
    and silently returning the adds would double-count rewritten rows —
    the caller must re-read the snapshot across such a boundary (this is
    the same contract as Delta's CDF-less ``readChangeFeed=false``
    streaming source)."""
    snap = snapshot(table)  # metadata/schema + protocol checks at HEAD
    if snap.column_mapping:
        raise DeltaProtocolError(
            "read_delta_changes on a columnMapping table is not "
            "implemented — re-read the snapshot instead"
        )
    end = snap.version if to_version is None else int(to_version)
    if from_version > end:
        raise ValueError(
            f"from_version {from_version} > to_version {end}"
        )
    schema = snap.schema
    pcols = snap.partition_columns
    adds: dict[str, dict] = {}
    for v in range(from_version + 1, end + 1):
        p = _commit_path(table, v)
        if not os.path.isfile(p):
            raise DeltaProtocolError(
                f"commit {v} is missing (log-cleaned); incremental read "
                "must restart from a full snapshot"
            )
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if a.get("remove") and a["remove"].get("dataChange", True):
                    raise DeltaProtocolError(
                        f"version {v} rewrites data (remove with "
                        "dataChange=true); re-read the snapshot instead "
                        "of consuming it incrementally"
                    )
                if a.get("add") and a["add"].get("dataChange", True):
                    add = dict(a["add"])
                    if add.get("deletionVector"):
                        raise DeltaProtocolError(
                            f"version {v} adds a deletion-vector file; "
                            "its row-level delta is not representable as "
                            "a pure append — re-read the snapshot"
                        )
                    add["partitionValues"] = _maybe_tuplelist_to_dict(
                        add.get("partitionValues")
                    )
                    adds[unquote(add["path"])] = add
    if not adds:
        return spark.createDataFrame([], schema)
    return _scan_files(spark, table, adds, schema, pcols)


# ---------------------------------------------------------------------------
# merge (upsert) / compaction
# ---------------------------------------------------------------------------


def merge_delta(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    on: list[str],
    max_retries: int = 3,
) -> int:
    """MERGE INTO (upsert): matched target rows are REPLACED by their
    source row, unmatched source rows are INSERTED, everything else is
    untouched.

    The at-scale contract: only data files that actually CONTAIN a
    matched key are rewritten. Touched files are found with one
    semi-join over ``input_file_name()`` (ids + file names through the
    shuffle, never payloads), their surviving rows are re-written
    together with the source, and the commit removes exactly those files
    — a merge touching 1% of keys rewrites ~1% of a 100-TB table, not
    all of it. Non-hive (foreign flat-layout) tables raise: file
    attribution needs the one-scan basePath read.

    Concurrency: optimistic. The rewrite is validated against the
    snapshot it read; losing the version race re-reads and retries up to
    ``max_retries`` (merge conflicts with a concurrent overwrite are NOT
    auto-resolved — the retry recomputes from the new head, which is the
    correct semantics for idempotent upsert sources).
    """
    for col in on:
        if col not in source.columns:
            raise ValueError(f"merge key {col!r} missing from source")
    last_err: Exception | None = None
    for _ in range(max_retries):
        snap = snapshot(table)
        if _schema_key(source.schema) != _schema_key(snap.schema):
            raise ValueError(
                "merge source schema must match the table schema:\n"
                f"  source: {_schema_key(source.schema)}\n"
                f"  table:  {_schema_key(snap.schema)}"
            )
        pcols = snap.partition_columns
        if snap.column_mapping:
            raise DeltaProtocolError(
                "merge_delta on a columnMapping table is not implemented"
                " (append/overwrite are; rewrite via overwrite instead)"
            )
        if pcols and not _is_hive_layout(snap.files, pcols):
            raise DeltaProtocolError(
                "merge_delta requires the hive data layout (foreign "
                "flat-layout tables: rewrite via overwrite instead)"
            )
        if _has_dvs(snap.files):
            raise DeltaProtocolError(
                "merge_delta on a deletion-vector-bearing table is not "
                "implemented (the victim rewrite would resurrect "
                "DV-deleted rows); compact the DVs away first via "
                "rewrite_dv_files"
            )
        _check_writer_support(snap)
        _enforce_check_constraints(
            source, snap.metadata.get("configuration") or {}
        )
        target = read_delta(spark, table, version=snap.version)
        src = source.alias("s")

        # one pass: which files hold at least one matched key? ids + file
        # names only through the join; no static broadcast hint — the
        # source key set scales with the upsert batch, AQE picks the
        # build side at runtime
        tgt_files = target.withColumn("_dl_file", F.input_file_name())
        hit_rows = tgt_files.join(
            src.select(*on).distinct(), on=on, how="leftsemi"
        )
        hit_files = [
            r["_dl_file"]
            for r in hit_rows.select("_dl_file").distinct().collect()
        ]
        # normalize to the snapshot's relative paths. input_file_name()
        # returns a PERCENT-ENCODED file URI while snap.files keys are
        # unquoted paths — decode first or partition values / filenames
        # with spaces, %, or non-ASCII never match and matched rows
        # silently survive the merge (r11 ADVICE medium)
        from urllib.parse import urlparse

        rel_hits = set()
        for f in hit_files:
            if f.startswith("file:"):
                local = unquote(urlparse(f).path)
            elif "://" not in f:
                local = unquote(f)
            else:  # foreign scheme: keep the decoded path component
                local = unquote(urlparse(f).path)
            rel_hits.add(os.path.normpath(os.path.relpath(local, table)))
        victims = {
            rel: add for rel, add in snap.files.items()
            if os.path.normpath(rel) in rel_hits
        }

        if victims:
            vic_df = _scan_files(spark, table, victims, snap.schema, pcols)
            kept = vic_df.join(src, on=on, how="left_anti")
        else:
            kept = None

        # matched source rows replace; unmatched insert — all matches
        # live in victim files by construction, so one anti-join against
        # the victims' keys splits the source correctly
        new_rows = src.select([f.name for f in snap.schema.fields])
        out = new_rows if kept is None else kept.unionByName(new_rows)

        # change data feed: matched rows as update pre/post images,
        # unmatched source rows as inserts — staged as cdc files so
        # read_delta_cdf serves row-level changes for this commit
        cdc_df = None
        if _cdf_enabled(snap.metadata):
            names = [f.name for f in snap.schema.fields]
            if victims:
                skeys = src.select(*on).distinct()
                vkeys = vic_df.select(*on).distinct()
                pre = (
                    vic_df.join(skeys, on=on, how="leftsemi")
                    .select(*names)
                    .withColumn("_change_type", F.lit("update_preimage"))
                )
                post = (
                    new_rows.join(vkeys, on=on, how="leftsemi")
                    .withColumn("_change_type", F.lit("update_postimage"))
                )
                ins = new_rows.join(
                    vkeys, on=on, how="left_anti"
                ).withColumn("_change_type", F.lit("insert"))
                cdc_df = pre.unionByName(post).unionByName(ins)
            else:
                cdc_df = new_rows.withColumn(
                    "_change_type", F.lit("insert")
                )

        # removes for victims, adds for the rewrite
        def stage(written: list[str], now_ms: int) -> list[dict]:
            return (
                [_remove(a, now_ms, True) for a in victims.values()]
                + _stage_adds(out, table, pcols, snap.schema, True, written)
                + _stage_cdc_files(table, cdc_df, written)
            )

        try:
            return _commit(
                table, snap.version + 1, "MERGE",
                {"predicate": json.dumps(on)}, stage,
            )
        except DeltaConcurrentCommit as e:
            last_err = e
    raise last_err  # type: ignore[misc]


def compact_delta(
    spark: SparkSession,
    table: str,
    target_file_size: int = 128 * 1024 * 1024,
    partition_filters: list[tuple] | None = None,
    zorder_by: list[str] | None = None,
) -> int | None:
    """OPTIMIZE-style compaction: small files are bin-packed into fewer
    right-sized ones; with ``zorder_by`` the selected partitions are
    REWRITTEN in Morton-curve order (``OPTIMIZE ZORDER BY``) so every
    output file covers a narrow hyper-rectangle of the clustered columns
    — per-file minValues/maxValues stay tight on EVERY z-column and
    :func:`read_delta`'s ``data_filters`` skipping drops most files for
    a selective predicate on any of them. The commit is ``dataChange:
    false`` adds/removes (same bytes, new layout), so downstream
    incremental consumers can skip it. Returns the committed version, or
    None when nothing qualifies."""
    snap = snapshot(table)
    pcols = snap.partition_columns
    if pcols and not _is_hive_layout(snap.files, pcols):
        raise DeltaProtocolError(
            "compact_delta requires the hive data layout"
        )
    if _has_dvs(snap.files):
        raise DeltaProtocolError(
            "compact_delta on a deletion-vector-bearing table is not "
            "implemented (bin-packing victim files would resurrect "
            "DV-deleted rows); run rewrite_dv_files first"
        )
    if snap.column_mapping:
        raise DeltaProtocolError(
            "compact_delta on a columnMapping table is not implemented"
            " (read-only support)"
        )
    if zorder_by:
        bad = [
            c
            for c in zorder_by
            if c in pcols
            or c not in [f.name for f in snap.schema.fields]
        ]
        if bad:
            raise ValueError(
                f"zorder_by columns must be non-partition table columns; "
                f"bad: {bad}"
            )
    candidates = _prune_files(snap, partition_filters)
    # group by partition; plain compaction packs the >1 small-file tail,
    # zorder rewrites every selected group with >=1 file (re-clustering
    # right-sized files is the point of OPTIMIZE ZORDER BY)
    groups: dict[tuple, list[tuple[str, dict]]] = {}
    for rel, add in candidates.items():
        key = tuple(
            (add.get("partitionValues") or {}).get(c) for c in pcols
        )
        groups.setdefault(key, []).append((rel, add))
    victims: dict[str, dict] = {}
    for key, members in groups.items():
        if zorder_by:
            victims.update(dict(members))
            continue
        small = [
            (rel, add)
            for rel, add in members
            if (add.get("size") or 0) < target_file_size
        ]
        if len(small) > 1:
            victims.update(dict(small))
    if not victims:
        return None

    vic_df = _scan_files(spark, table, victims, snap.schema, pcols)
    total = sum((a.get("size") or 0) for a in victims.values())
    n_out = max(1, -(-total // target_file_size))  # ceil
    if zorder_by:
        from pydatalake_spark.dataset.zorder import zorder_key

        z = zorder_key(vic_df, zorder_by)
        vic_df = (
            vic_df.withColumn("_z", z)
            .repartitionByRange(int(n_out), "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    else:
        vic_df = vic_df.coalesce(int(n_out))

    def stage(written: list[str], now_ms: int) -> list[dict]:
        return [
            _remove(a, now_ms, False) for a in victims.values()
        ] + _stage_adds(vic_df, table, pcols, snap.schema, False, written)

    return _commit(
        table, snap.version + 1, "OPTIMIZE",
        {"targetSize": target_file_size}, stage,
    )


# ---------------------------------------------------------------------------
# deletion vectors: delete-without-rewrite + purge
# ---------------------------------------------------------------------------


DV_PROTOCOL = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}


def _stage_cdc_files(
    table: str, cdc_df: DataFrame | None, written: list[str]
) -> list[dict]:
    """Stage change rows (table columns + ``_change_type``) as parquet
    under ``_change_data/`` and return their ``cdc`` actions (none when
    ``cdc_df`` is None: CDF is off). cdc files are ``dataChange: false``
    by definition and never partition-staged (all columns inline,
    ``partitionValues`` empty — the spec allows either form)."""
    if cdc_df is None:
        return []
    return [
        {
            "cdc": {
                "path": rel,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(table, rel)),
                "dataChange": False,
            }
        }
        for rel, _ in _stage(cdc_df, table, [], written, subdir=CDF_DIR)
    ]


def read_delta_cdf(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change Data Feed: row-level changes in ``(from_version,
    to_version]`` with ``_change_type`` (insert / update_preimage /
    update_postimage / delete) and ``_commit_version`` columns — the
    table-valued ``table_changes()`` surface.

    Pure-append commits derive their ``insert`` rows from the add files
    directly (no cdc files needed — same as Delta); DELETE/UPDATE/MERGE
    commits made while ``delta.enableChangeDataFeed=true`` read their
    staged cdc files; a data-changing commit WITHOUT cdc files (CDF was
    off when it ran) raises rather than under-reporting changes.
    One bounded scan per version in the range — CDF is for incremental
    tails, not full-history replays."""
    from pyspark.sql.types import LongType, StringType, StructField

    snap = snapshot(table)
    if snap.column_mapping:
        raise DeltaProtocolError(
            "read_delta_cdf on a columnMapping table is not implemented"
        )
    end = snap.version if to_version is None else int(to_version)
    if from_version > end:
        raise ValueError(f"from_version {from_version} > to_version {end}")
    schema = snap.schema
    pcols = snap.partition_columns
    cdc_schema = StructType(
        list(schema.fields) + [StructField("_change_type", StringType())]
    )
    parts: list[DataFrame] = []
    for v in range(from_version + 1, end + 1):
        if not os.path.isfile(_commit_path(table, v)):
            raise DeltaProtocolError(
                f"commit {v} is missing (log-cleaned); CDF must restart "
                "from a full snapshot"
            )
        actions = _read_commit_actions(table, v)
        # cdc files hold every column inline, partition columns too
        cdc_files = {
            unquote(a["cdc"]["path"]): a["cdc"]
            for a in actions
            if a.get("cdc")
        }
        adds = [
            a["add"]
            for a in actions
            if a.get("add") and a["add"].get("dataChange", True)
        ]
        has_data_removes = any(
            a.get("remove") and a["remove"].get("dataChange", True)
            for a in actions
        )
        if cdc_files:
            df = _scan_files(spark, table, cdc_files, cdc_schema, [])
        elif has_data_removes:
            raise DeltaProtocolError(
                f"version {v} changed data without cdc files (CDF was "
                "not enabled when it committed); re-read the snapshot"
            )
        elif adds:
            sub = {
                unquote(a["path"]): {
                    **a,
                    "partitionValues": _maybe_tuplelist_to_dict(
                        a.get("partitionValues")
                    ),
                }
                for a in adds
            }
            df = _scan_files(spark, table, sub, schema, pcols).withColumn(
                "_change_type", F.lit("insert")
            )
        else:
            continue
        parts.append(
            df.withColumn("_commit_version", F.lit(v).cast("long"))
        )
    if not parts:
        return spark.createDataFrame(
            [],
            StructType(
                list(cdc_schema.fields)
                + [StructField("_commit_version", LongType())]
            ),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _dv_mutation_commit(
    spark: SparkSession,
    table: str,
    predicate,
    set_exprs: dict | None,
    max_retries: int,
) -> tuple[int | None, int]:
    """Shared worker for DV DELETE (``set_exprs is None``) and UPDATE:
    matched visible rows are tombstoned in per-file bitmaps; for UPDATE
    the same commit also ADDS new files holding the updated rows —
    one atomic version, no unmatched data rewritten."""
    op = "DELETE" if set_exprs is None else "UPDATE"
    fname = "delete_rows_dv" if set_exprs is None else "update_rows_dv"
    last_err: Exception | None = None
    for _ in range(max_retries):
        snap = snapshot(table)
        pcols = snap.partition_columns
        if snap.column_mapping:
            raise DeltaProtocolError(
                f"{fname} on a columnMapping table is not implemented"
            )
        if pcols and not _is_hive_layout(snap.files, pcols):
            raise DeltaProtocolError(
                f"{fname} requires the hive data layout"
            )
        basenames = [os.path.basename(p) for p in snap.files]
        if len(set(basenames)) != len(basenames):
            raise DeltaProtocolError(
                f"{fname} requires unique data file names in the snapshot"
            )
        rel_by_name = {os.path.basename(p): p for p in snap.files}
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate

        # every file's basename is unique (checked above), so the
        # tombstone anti-join on __dv_fn is exact
        visible = _scan_visible(
            spark, table, snap.files, snap.schema, pcols, with_meta=True
        )
        matched = visible.filter(cond).persist()
        try:
            hits = matched.select("__dv_fn", "__dv_ri").collect()
            if not hits:
                return None, 0
            updated = None
            if set_exprs is not None:
                updated = matched.drop("__dv_fn", "__dv_ri")
                for col, expr in set_exprs.items():
                    if col not in updated.columns:
                        raise ValueError(
                            f"update target {col!r} is not a table column"
                        )
                    updated = updated.withColumn(
                        col,
                        F.expr(expr) if isinstance(expr, str) else expr,
                    )
                # keep types schema-exact after arbitrary expressions
                updated = updated.select(
                    *[
                        F.col(f.name).cast(f.dataType).alias(f.name)
                        for f in snap.schema.fields
                    ]
                )
                _enforce_check_constraints(
                    updated,
                    snap.metadata.get("configuration") or {},
                )
            cdc_df = None
            if _cdf_enabled(snap.metadata):
                names = [f.name for f in snap.schema.fields]
                if updated is None:
                    cdc_df = matched.select(*names).withColumn(
                        "_change_type", F.lit("delete")
                    )
                else:
                    pre = matched.select(*names).withColumn(
                        "_change_type", F.lit("update_preimage")
                    )
                    post = updated.withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                    cdc_df = pre.unionByName(post)
            by_name: dict[str, set[int]] = {}
            for r in hits:
                by_name.setdefault(r["__dv_fn"], set()).add(int(r["__dv_ri"]))
            upgrade = (snap.protocol.get("minReaderVersion", 1) < 3) or (
                "deletionVectors"
                not in (snap.protocol.get("readerFeatures") or [])
            )

            def stage(written: list[str], now_ms: int) -> list[dict]:
                actions: list[dict] = (
                    [{"protocol": dict(DV_PROTOCOL)}] if upgrade else []
                )
                for bn, rows in sorted(by_name.items()):
                    add = snap.files[rel_by_name[bn]]
                    merged = set(rows)
                    if add.get("deletionVector"):
                        merged |= set(
                            read_dv_descriptor(table, add["deletionVector"])
                        )
                    desc = write_dv_file(table, merged)
                    written.append(_dv_file_path(table, desc))
                    kept = {
                        k: v
                        for k, v in add.items()
                        if k in (
                            "path", "partitionValues", "size",
                            "modificationTime", "stats",
                        )
                    }
                    actions.append(_remove(add, now_ms, True))
                    actions.append(
                        {
                            "add": {
                                **kept,
                                "dataChange": True,
                                "deletionVector": desc,
                            }
                        }
                    )
                if updated is not None:
                    actions += _stage_adds(
                        updated, table, pcols, snap.schema, True, written
                    )
                return actions + _stage_cdc_files(table, cdc_df, written)

            n_matched = sum(len(rows) for rows in by_name.values())
            try:
                version = _commit(
                    table, snap.version + 1, op,
                    {"predicate": str(predicate)}, stage,
                )
                return version, n_matched
            except DeltaConcurrentCommit as e:
                last_err = e
        finally:
            matched.unpersist()
    raise last_err  # type: ignore[misc]


def delete_rows_dv(
    spark: SparkSession,
    table: str,
    predicate,
    max_retries: int = 3,
) -> tuple[int | None, int]:
    """``DELETE FROM table WHERE predicate`` via deletion vectors: rows
    matching ``predicate`` (a Column or SQL string) are tombstoned in
    per-file Roaring bitmaps — NO data file is rewritten. Returns
    ``(committed version | None when nothing matched, rows deleted)``.

    The at-scale contract: deleting 0.1% of a 100-TB table writes
    kilobytes of bitmap and one commit, instead of rewriting every hit
    file (what :func:`merge_delta`-style copy-on-write would do). Files
    already carrying a DV get a MERGED bitmap (old ∪ new positions) —
    the spec requires one DV per file, and re-deleting an already-dead
    row is a no-op. The commit upgrades the table protocol to
    reader v3 / writer v7 with the ``deletionVectors`` feature the first
    time, exactly like delta-spark's automatic feature enablement.

    Driver memory: the matched (file, row-index) positions materialize
    on the driver to build the bitmaps — bounded by rows DELETED, not
    table size (~16 B/row; 10M deletes ≈ 160 MB). For bulk deletes of a
    partition, prefer a partition overwrite.
    """
    return _dv_mutation_commit(spark, table, predicate, None, max_retries)


def update_rows_dv(
    spark: SparkSession,
    table: str,
    predicate,
    set_exprs: dict,
    max_retries: int = 3,
) -> tuple[int | None, int]:
    """``UPDATE table SET col = expr, ... WHERE predicate`` at
    deletion-vector speed: matched rows are tombstoned in per-file
    bitmaps and their UPDATED versions land as new files in the SAME
    atomic commit — unmatched data is never rewritten (updating 0.1% of
    a 100-TB table touches bitmaps plus 0.1%-worth of new rows, not the
    hit files wholesale like copy-on-write). ``set_exprs`` maps column
    name → SQL string or Column (may reference any table column,
    including partition columns — updated rows re-stage through
    ``partitionBy`` and move partitions naturally). Updated rows are
    cast back to the exact table schema and validated against the
    table's CHECK constraints. Returns ``(version | None, rows
    updated)``."""
    if not set_exprs:
        raise ValueError("update_rows_dv requires a non-empty set_exprs")
    return _dv_mutation_commit(
        spark, table, predicate, dict(set_exprs), max_retries
    )


def rewrite_dv_files(spark: SparkSession, table: str) -> int | None:
    """REORG-style purge (``REORG TABLE ... APPLY (PURGE)``): rewrite
    every deletion-vector-bearing file to a plain file holding only its
    surviving rows, clearing the DVs. The commit is ``dataChange: false``
    (logical content unchanged — incremental consumers skip it). Returns
    the committed version, or None when the table carries no DVs.

    This is the maintenance escape hatch the merge/compact guards point
    at, and the long-term hygiene op: DVs trade write amplification for
    read-side filtering, and purging rewrites ONLY the DV-bearing files
    — never the clean ones."""
    snap = snapshot(table)
    pcols = snap.partition_columns
    dvf = {p: a for p, a in snap.files.items() if a.get("deletionVector")}
    if not dvf:
        return None
    if pcols and not _is_hive_layout(snap.files, pcols):
        raise DeltaProtocolError(
            "rewrite_dv_files requires the hive data layout"
        )
    if snap.column_mapping:
        raise DeltaProtocolError(
            "rewrite_dv_files on a columnMapping table is not "
            "implemented (read-only support)"
        )
    out = _scan_dv_files(spark, table, dvf, snap.schema, pcols)

    def stage(written: list[str], now_ms: int) -> list[dict]:
        return [
            _remove(a, now_ms, False) for a in dvf.values()
        ] + _stage_adds(out, table, pcols, snap.schema, False, written)

    return _commit(
        table, snap.version + 1, "REORG", {"applyPurge": True}, stage
    )


# ---------------------------------------------------------------------------
# checkpoint / history / vacuum
# ---------------------------------------------------------------------------


def write_checkpoint(
    table: str,
    version: int | None = None,
    tombstone_retention_hours: float = 168.0,
) -> str:
    """Write a single-part parquet checkpoint + ``_last_checkpoint``.

    One row per action, struct columns per the spec; ``partitionValues``
    as a string→string map so delta-rs/Spark checkpoints read back the
    same way ours do. Remove TOMBSTONES within the retention window are
    retained in the checkpoint (spec requirement — r11 ADVICE low: a
    foreign engine reading a tombstone-less checkpoint may vacuum
    recently-removed files before their retention elapses)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = snapshot(table, version)
    tomb_cutoff_ms = (time.time() - tombstone_retention_hours * 3600) * 1000
    tombs = sorted(
        (rel, rm)
        for rel, rm in snap.tombstones.items()
        if (rm.get("deletionTimestamp") or 0) >= tomb_cutoff_ms
    )
    pv_type = pa.map_(pa.string(), pa.string())
    dv_type = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    add_type = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pv_type),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", dv_type),
        ]
    )
    meta_type = pa.struct(
        [
            ("id", pa.string()),
            ("name", pa.string()),
            ("description", pa.string()),
            (
                "format",
                pa.struct(
                    [
                        ("provider", pa.string()),
                        ("options", pa.map_(pa.string(), pa.string())),
                    ]
                ),
            ),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    proto_type = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )
    txn_type = pa.struct(
        [
            ("appId", pa.string()),
            ("version", pa.int64()),
            ("lastUpdated", pa.int64()),
        ]
    )

    rm_type = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )

    meta = snap.metadata or {}
    n_rows = 2 + len(snap.txns) + len(snap.files) + len(tombs)
    rows_proto = [snap.protocol] + [None] * (n_rows - 1)
    rows_meta = [
        None,
        {
            "id": meta.get("id"),
            "name": meta.get("name"),
            "description": meta.get("description"),
            "format": {
                "provider": (meta.get("format") or {}).get(
                    "provider", "parquet"
                ),
                "options": list(
                    ((meta.get("format") or {}).get("options") or {}).items()
                ),
            },
            "schemaString": meta.get("schemaString"),
            "partitionColumns": meta.get("partitionColumns") or [],
            "configuration": list(
                (meta.get("configuration") or {}).items()
            ),
            "createdTime": meta.get("createdTime"),
        },
    ] + [None] * (n_rows - 2)
    rows_txn: list[dict | None] = [None, None]
    for app_id, ver in sorted(snap.txns.items()):
        rows_txn.append(
            {"appId": app_id, "version": ver, "lastUpdated": None}
        )
    rows_txn += [None] * (len(snap.files) + len(tombs))
    rows_add: list[dict | None] = [None] * (2 + len(snap.txns))
    for _rel, add in sorted(snap.files.items()):
        dv = add.get("deletionVector")
        rows_add.append(
            {
                "path": add["path"],
                "partitionValues": list(
                    (add.get("partitionValues") or {}).items()
                ),
                "size": add.get("size"),
                "modificationTime": add.get("modificationTime"),
                "dataChange": False,
                "stats": add.get("stats"),
                "deletionVector": (
                    {
                        "storageType": dv.get("storageType"),
                        "pathOrInlineDv": dv.get("pathOrInlineDv"),
                        "offset": dv.get("offset"),
                        "sizeInBytes": dv.get("sizeInBytes"),
                        "cardinality": dv.get("cardinality"),
                    }
                    if dv
                    else None
                ),
            }
        )
    rows_add += [None] * len(tombs)
    rows_rm: list[dict | None] = [None] * (
        2 + len(snap.txns) + len(snap.files)
    )
    for _rel, rm in tombs:
        rows_rm.append(
            {
                "path": rm["path"],
                "deletionTimestamp": rm.get("deletionTimestamp"),
                "dataChange": False,
            }
        )
    t = pa.table(
        {
            "protocol": pa.array(rows_proto, type=proto_type),
            "metaData": pa.array(rows_meta, type=meta_type),
            "txn": pa.array(rows_txn, type=txn_type),
            "add": pa.array(rows_add, type=add_type),
            "remove": pa.array(rows_rm, type=rm_type),
        }
    )
    cp = _checkpoint_path(table, snap.version)
    pq.write_table(t, cp)
    ptr = os.path.join(_log_dir(table), LAST_CHECKPOINT)
    tmp = ptr + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump({"version": snap.version, "size": t.num_rows}, f)
    os.replace(tmp, ptr)
    return cp


def convert_to_delta(
    spark: SparkSession,
    path: str,
    partition_schema: StructType | None = None,
    configuration: dict | None = None,
) -> int:
    """CONVERT TO DELTA: adopt an existing parquet dataset in place — a
    one-time directory walk builds add actions (size, partitionValues
    from hive dirs, numRecords + min/max stats from each footer) and
    commits version 0; NO data bytes are rewritten or moved. This is the
    single LIST the table will ever need: every later read resolves its
    file list from the log. Hive-partitioned layouts need
    ``partition_schema`` (a StructType of the partition columns — Spark
    can no longer infer them once reads go through the log); flat
    layouts need nothing."""
    if is_delta_table(path) and _has_commits(path):
        raise FileExistsError(f"already a Delta table: {path}")
    pcols = [f.name for f in (partition_schema or StructType([]))]
    data_files: list[tuple[str, dict]] = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in sorted(names):
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            full = os.path.join(root, name)
            rel_dir = os.path.relpath(root, path)
            comps = [] if rel_dir == "." else rel_dir.split(os.sep)
            pvals: dict[str, str | None] = {}
            for comp in comps:
                k, eq, v = comp.partition("=")
                if not eq:
                    raise DeltaProtocolError(
                        f"non-hive subdirectory {comp!r} under {path}; "
                        "convert supports flat or key=value layouts"
                    )
                v = unquote(v)
                pvals[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else v
                )
            if sorted(pvals) != sorted(pcols):
                raise DeltaProtocolError(
                    f"file {full!r} has partition dirs {sorted(pvals)} "
                    f"but partition_schema names {sorted(pcols)} — pass "
                    "the matching partition_schema"
                )
            rel = "/".join(comps + [name]) if comps else name
            data_files.append((rel, pvals))
    if not data_files:
        raise FileNotFoundError(f"no parquet files under {path}")

    # schema from the data files (distributed read of footers), with the
    # partition columns appended from the caller's declaration
    sample = spark.read.parquet(
        *[_resolve_path(path, rel) for rel, _ in data_files[:1]]
    )
    data_fields = [f for f in sample.schema.fields if f.name not in pcols]
    full_schema = StructType(
        data_fields + list((partition_schema or StructType([])).fields)
    )

    def stage(written: list[str], now_ms: int) -> list[dict]:
        return [
            {"protocol": dict(PROTOCOL)},
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": full_schema.json(),
                    "partitionColumns": pcols,
                    "configuration": dict(configuration or {}),
                    "createdTime": now_ms,
                }
            },
        ] + _adds(path, data_files, full_schema, pcols, True)

    return _commit(
        path, 0, "CONVERT", {"numFiles": len(data_files)}, stage
    )


def restore_delta(table: str, version: int) -> int:
    """RESTORE TABLE TO VERSION AS OF: one METADATA-ONLY commit that
    re-adds the target snapshot's files and removes the current ones —
    no data bytes move, and the restore itself is time-travelable /
    revertible like any other commit. Raises if vacuum already deleted
    any file the target snapshot references."""
    old = snapshot(table, version)
    head = snapshot(table)
    if version == head.version:
        return head.version
    missing = [
        rel
        for rel in old.files
        if not os.path.isfile(_resolve_path(table, rel))
    ]
    missing += [
        rel
        for rel, add in old.files.items()
        if (add.get("deletionVector") or {}).get("storageType")
        in ("u", "p")
        and not os.path.isfile(
            _dv_file_path(table, add["deletionVector"])
        )
    ]
    if missing:
        raise DeltaProtocolError(
            f"cannot restore to version {version}: {len(missing)} file(s) "
            f"were vacuumed, e.g. {missing[0]!r}"
        )

    def stage(written: list[str], now_ms: int) -> list[dict]:
        return (
            [{"metaData": old.metadata}]
            + [
                _remove(add, now_ms, True)
                for rel, add in head.files.items()
                if rel not in old.files
            ]
            + [
                {"add": {**add, "dataChange": True}}
                for rel, add in old.files.items()
                if rel not in head.files
            ]
        )

    return _commit(
        table, head.version + 1, "RESTORE", {"version": version}, stage
    )


def describe_delta(table: str) -> dict:
    """DESCRIBE DETAIL: bounded scalars from the snapshot — no data
    read."""
    snap = snapshot(table)
    meta = snap.metadata or {}
    return {
        "version": snap.version,
        "numFiles": len(snap.files),
        "sizeInBytes": sum(
            (a.get("size") or 0) for a in snap.files.values()
        ),
        # logical rows: physical footer counts minus DV tombstones
        "numRecords": sum(
            json.loads(a["stats"]).get("numRecords", 0)
            for a in snap.files.values()
            if a.get("stats")
        )
        - sum(
            (a.get("deletionVector") or {}).get("cardinality") or 0
            for a in snap.files.values()
        ),
        "partitionColumns": snap.partition_columns,
        "configuration": meta.get("configuration") or {},
        "protocol": snap.protocol,
        "id": meta.get("id"),
        "createdTime": meta.get("createdTime"),
    }


def cleanup_delta_log(
    table: str, retention_hours: float = 720.0
) -> list[int]:
    """Log retention: delete JSON commits that are (a) at or before the
    last checkpoint — the checkpoint supersedes them — AND (b) older
    than the retention window. Time travel to a cleaned version stops
    working (same contract as delta.logRetentionDuration); the current
    snapshot and everything after the checkpoint are untouched. Returns
    the versions removed."""
    cp = _read_last_checkpoint(table)
    if cp is None:
        return []
    cutoff = time.time() - retention_hours * 3600
    removed = []
    for v in _list_commit_versions(table):
        if v > cp["version"]:
            break
        p = _commit_path(table, v)
        if _commit_timestamp(table, v) >= cutoff:
            continue
        os.unlink(p)
        removed.append(v)
    return removed


def delta_history(table: str) -> list[dict]:
    """[{version, timestamp, operation, userMetadata}] oldest-first."""
    out = []
    for v in _list_commit_versions(table):
        rec = {"version": v, "timestamp": _commit_timestamp(table, v)}
        try:
            with open(_commit_path(table, v)) as f:
                for line in f:
                    a = json.loads(line)
                    if "commitInfo" in a:
                        ci = a["commitInfo"]
                        rec["operation"] = ci.get("operation")
                        um = ci.get("userMetadata")
                        if um:
                            try:
                                rec["userMetadata"] = json.loads(um)
                            except json.JSONDecodeError:
                                rec["userMetadata"] = um
                        break
        except OSError:
            pass
        out.append(rec)
    return out


def _removal_times(table: str, snap: DeltaSnapshot) -> dict[str, float]:
    """Epoch-seconds REMOVAL time per unreferenced path: the remove
    action's deletionTimestamp (the spec's retention clock), from the
    snapshot's replayed tombstones (checkpoint + post-checkpoint commits)
    plus any pre-checkpoint JSON commits still on disk. Latest removal
    wins (remove → restore → remove tracks the second removal)."""
    removal: dict[str, float] = {}
    for rel, rm in snap.tombstones.items():
        ts = rm.get("deletionTimestamp")
        if ts:
            removal[os.path.normpath(rel)] = ts / 1000.0
    for v in _list_commit_versions(table):
        try:
            actions = _read_commit_actions(table, v)
        except DeltaProtocolError:
            continue
        for a in actions:
            rm = a.get("remove")
            if not (rm and rm.get("path")):
                continue
            ts = rm.get("deletionTimestamp")
            t = ts / 1000.0 if ts else _commit_timestamp(table, v)
            rel = os.path.normpath(unquote(rm["path"]))
            removal[rel] = max(removal.get(rel, 0.0), t)
    return removal


def vacuum_delta(
    table: str, retention_hours: float = 168.0, dry_run: bool = False
) -> list[str]:
    """Delete data files no snapshot can reference anymore: not live at
    HEAD and REMOVED longer ago than the retention window (time travel
    inside the window keeps working, same contract as Delta's VACUUM).

    Retention is measured from the remove action's ``deletionTimestamp``
    — NOT the data file's mtime (r11 ADVICE medium: a file written long
    ago but tombstoned recently by overwrite/merge/restore must survive
    the full window after its REMOVAL, or time travel inside the window
    breaks and ``restore_delta`` raises). The mtime is only the fallback
    for files no log record tracks (crashed-writer orphans)."""
    snap = snapshot(table)
    live = {os.path.normpath(p) for p in snap.files}
    # live DV bitmap files (referenced by current adds) must survive too
    live_dv = set()
    for add in snap.files.values():
        dv = add.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p"):
            live_dv.add(
                os.path.normpath(
                    os.path.relpath(_dv_file_path(table, dv), table)
                )
            )
    removal = _removal_times(table, snap)
    cutoff = time.time() - retention_hours * 3600
    victims = []
    for root, dirs, names in os.walk(table):
        if LOG_DIR in root.split(os.sep):
            continue
        # skip the log AND in-flight writer staging dirs (all _-prefixed)
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for name in names:
            is_dv_bin = name.startswith("deletion_vector_") and (
                name.endswith(".bin")
            )
            if not (name.endswith(".parquet") or is_dv_bin):
                continue
            full = os.path.join(root, name)
            rel = os.path.normpath(os.path.relpath(full, table))
            if rel in live or rel in live_dv:
                continue
            removed_at = removal.get(rel)
            if removed_at is None:
                # DV bins are never named in remove actions; orphans age
                # by mtime (the bitmap is written once, at removal time)
                removed_at = os.path.getmtime(full)
            if removed_at >= cutoff:
                continue
            victims.append(rel)
            if not dry_run:
                os.unlink(full)
    if not dry_run:
        # prune now-empty partition dirs
        for root, dirs, names in os.walk(table, topdown=False):
            if LOG_DIR in root.split(os.sep) or root == table:
                continue
            if not os.listdir(root):
                os.rmdir(root)
    return sorted(victims)


# ---------------------------------------------------------------------------
# delta-spark-shaped facade
# ---------------------------------------------------------------------------


class DeltaTable:
    """Object facade over the functional API, shaped like delta-spark's
    public ``DeltaTable`` (forPath / toDF / history / optimize /
    restoreToVersion / vacuum / merge / detail) so its users can switch
    with minimal edits. Each method is a thin delegate — the behavior
    contracts live on (and are tested against) the module functions."""

    def __init__(self, spark: SparkSession, path: str):
        if not (is_delta_table(path) and _has_commits(path)):
            raise FileNotFoundError(f"not a Delta table: {path}")
        self._spark = spark
        self._path = path

    # --- constructors ---------------------------------------------------
    @classmethod
    def forPath(cls, spark: SparkSession, path: str) -> "DeltaTable":
        return cls(spark, path)

    @classmethod
    def isDeltaTable(cls, spark: SparkSession, path: str) -> bool:
        return is_delta_table(path) and _has_commits(path)

    @classmethod
    def convertToDelta(
        cls,
        spark: SparkSession,
        path: str,
        partition_schema: StructType | None = None,
    ) -> "DeltaTable":
        convert_to_delta(spark, path, partition_schema=partition_schema)
        return cls(spark, path)

    # --- reads ----------------------------------------------------------
    def toDF(self, **kw) -> DataFrame:
        return read_delta(self._spark, self._path, **kw)

    def version(self) -> int:
        return snapshot(self._path).version

    def history(self) -> list[dict]:
        return delta_history(self._path)

    def detail(self) -> dict:
        return describe_delta(self._path)

    # --- maintenance ----------------------------------------------------
    def optimize(
        self,
        target_file_size: int = 128 * 1024 * 1024,
        zorder_by: list[str] | None = None,
        partition_filters: list[tuple] | None = None,
    ) -> int | None:
        return compact_delta(
            self._spark,
            self._path,
            target_file_size=target_file_size,
            partition_filters=partition_filters,
            zorder_by=zorder_by,
        )

    def vacuum(self, retention_hours: float = 168.0) -> list[str]:
        return vacuum_delta(self._path, retention_hours=retention_hours)

    def restoreToVersion(self, version: int) -> int:
        return restore_delta(self._path, version)

    def checkpoint(self) -> str:
        return write_checkpoint(self._path)

    # --- writes ---------------------------------------------------------
    def merge(self, source: DataFrame, on: list[str]) -> int:
        """Upsert (matched rows replaced, unmatched inserted) — the one
        merge shape the engine implements; conditional update/delete
        clauses are not supported and raise via the functional API."""
        return merge_delta(self._spark, self._path, source, on=on)

    def append(self, df: DataFrame, **kw) -> int:
        return write_delta(df, self._path, mode="append", **kw)

    def delete(self, predicate) -> tuple[int | None, int]:
        """``DeltaTable.delete(condition)`` — deletion-vector DELETE (no
        file rewrite); see :func:`delete_rows_dv`."""
        return delete_rows_dv(self._spark, self._path, predicate)

    def update(self, predicate, set_exprs: dict) -> tuple[int | None, int]:
        """``DeltaTable.update(condition, set)`` — deletion-vector
        UPDATE (tombstone + re-add in one commit); see
        :func:`update_rows_dv`."""
        return update_rows_dv(self._spark, self._path, predicate, set_exprs)

    def purge(self) -> int | None:
        """REORG APPLY PURGE — materialize DV deletes; see
        :func:`rewrite_dv_files`."""
        return rewrite_dv_files(self._spark, self._path)


# ---------------------------------------------------------------------------
# TimeFly bridge
# ---------------------------------------------------------------------------


def export_timefly_to_delta(
    tf, dest: str, checkpoint_interval: int = DEFAULT_CHECKPOINT_INTERVAL
) -> list[int]:
    """Materialize a TimeFly dataset's snapshot history as a Delta table:
    one OVERWRITE commit per snapshot, oldest-first, each stamped with
    ``userMetadata={"timefly_snapshot": id}`` so the mapping is exact.

    As-of semantics differ BY DESIGN and are preserved, not translated:
    Delta time travel resolves latest-commit-at-or-before a timestamp,
    TimeFly resolves first-snapshot-AFTER (reference ``timefly.py:16-51``,
    SURVEY §7.3.4). Query the exported table by snapshot id (via
    :func:`delta_history`) when you need TimeFly-identical reads.
    """
    from pydatalake_spark.sources.read import read_dataset

    versions = []
    for snap_id in tf.snapshots():
        # read the snapshot's manifest-resolved state directly (the as-of
        # API takes a timestamp, not an id)
        df = read_dataset(
            tf.spark, os.path.join(tf.snapshot_root, snap_id), fmt=tf.fmt
        )
        v = write_delta(
            df,
            dest,
            mode="overwrite",
            checkpoint_interval=checkpoint_interval,
            user_metadata={"timefly_snapshot": snap_id},
        )
        versions.append(v)
    return versions
