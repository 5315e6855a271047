"""Transaction log for the Spark-native Delta-like table format.

The reference delegates ACID table storage to delta-rs
(dd/dagster_delta/handler.py:23-27); since this engine is pure
PySpark, the transaction log is re-implemented here from first
principles, following the public Delta Lake log protocol *shape*
(JSON actions, optimistic concurrency, parquet checkpoints) while
staying intentionally minimal.

Layout::

    <table_uri>/
        _spark_delta_log/
            00000000000000000000.json        # one JSON action per line
            00000000000000000010.checkpoint.parquet
            _last_checkpoint
        <partition dirs>/part-....parquet    # data files (hive-style dirs)

Scale notes (100 TB design):

- Log actions are O(number of files) metadata, never data.  Snapshot
  replay reads the latest checkpoint + JSON tail only.
- Per-file min/max stats enable data skipping without touching data.
- Commits are optimistic: writers prepare data files first (the
  expensive, distributed part), then race on an atomic
  create-if-absent of the next version file; losers rebase and retry
  driver-side only.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from dataclasses import dataclass, field, replace
from typing import Any, Optional

CHECKPOINT_INTERVAL = 10
LOG_DIR = "_spark_delta_log"
LAST_CHECKPOINT = "_last_checkpoint"
#: SetTransaction appId namespace for the copy_into file ledger — one
#: entry per ingested source file, version = a 56-bit fingerprint of
#: the file's (mtime_ns, size).  Carried through checkpoints like
#: every other txn; last-write-wins on replay (see load_snapshot) so
#: FORCE reloads re-record fingerprints.
COPY_INTO_APP_PREFIX = "dds.copyInto:"


class LogTruncatedError(Exception):
    """The requested version's commit file was deleted by log
    retention (``cleanup_metadata``) — the version is older than the
    earliest replayable checkpoint.  Pointed so a time-travel read,
    ``read_changes``, or a streaming resume below the boundary fails
    with the cause and the earliest version that still works."""


class TableNotFoundError(Exception):
    pass


class VersionConflictError(Exception):
    """Another writer committed this version first; rebase and retry."""


class ConcurrentDeleteError(Exception):
    """A file this transaction depends on was removed concurrently."""


class ConcurrentAppendError(Exception):
    """A concurrent commit added files this transaction's read set may
    depend on (Delta's ConcurrentAppendException analogue): committing
    anyway could lose the new rows' updates or insert duplicate keys."""


class UnsupportedProtocolError(Exception):
    """The table's protocol action demands a newer reader or writer
    than this engine implements (Delta's InvalidProtocolVersionException
    analogue).  Reading a future format would silently mis-decode it
    (e.g. an unknown row-filter feature makes every masked row
    reappear); writing to one could corrupt invariants a newer writer
    maintains.  Refuse loudly instead."""


#: Protocol versions + table features THIS engine implements —
#: the delta-rs reader/writer gate analogue.  Feature names follow
#: the public Delta table-features vocabulary where the semantics
#: match what the engine actually does.
CURRENT_READER_VERSION = 3
CURRENT_WRITER_VERSION = 7
SUPPORTED_READER_FEATURES = frozenset({
    # merge-on-read sidecar masks applied in _read_files
    "deletionVectors",
    # frozen physical names; logical renames/drops are metadata-only
    "columnMapping",
})
SUPPORTED_WRITER_FEATURES = SUPPORTED_READER_FEATURES | frozenset({
    "identityColumns",     # dense GENERATED ALWAYS ids + marks
    "generatedColumns",    # compute-if-absent / validate-if-provided
    "checkConstraints",    # dds.constraints.* single-pass enforcement
    "invariants",          # dds.notNullColumns
    "appendOnly",          # dds.appendOnly DML/overwrite freeze
})


@dataclass
class AddFile:
    """A live data file. ``partition_values`` are string-rendered (the
    schema gives the real types); ``stats`` hold per-column min/max and
    null counts harvested from the parquet footer.  ``base`` is None
    for table-local files (``path`` relative to the table root); a
    shallow CLONE sets it to the SOURCE table's root, so the clone's
    log references the original data files without copying them (the
    Delta shallow-clone analogue — absolute-path add actions)."""

    path: str  # relative to `base` (default: the table root)
    size: int
    num_records: int
    partition_values: dict[str, Optional[str]] = field(default_factory=dict)
    stats: dict[str, Any] = field(default_factory=dict)  # minValues/maxValues/nullCount
    modification_time: int = 0
    base: Optional[str] = None  # foreign root for shallow-cloned files
    #: merge-on-read DELETION VECTOR (Delta DV analogue): ``dv_path``
    #: is a parquet of (log_key, row_index) rows to EXCLUDE from this
    #: file on read, relative to ``dv_base`` (default: the owning
    #: table's root — a clone of a DV'd file pins dv_base to the
    #: source root, same rule as ``base``).  ``dv_count`` is the
    #: number of this file's rows the DV masks, so
    #: ``live_records`` = num_records - dv_count without reading it.
    dv_path: Optional[str] = None
    dv_count: int = 0
    dv_base: Optional[str] = None

    @property
    def live_records(self) -> int:
        return self.num_records - self.dv_count

    def to_action(self) -> dict[str, Any]:
        add = {
            "path": self.path,
            "size": self.size,
            "numRecords": self.num_records,
            "partitionValues": self.partition_values,
            "stats": self.stats,
            "modificationTime": self.modification_time,
        }
        # key present only when set: pre-clone logs stay byte-stable
        # and pre-clone readers of new logs only break on tables that
        # actually contain cloned files
        if self.base is not None:
            add["base"] = self.base
        if self.dv_path is not None:
            add["dvPath"] = self.dv_path
            add["dvCount"] = self.dv_count
            if self.dv_base is not None:
                add["dvBase"] = self.dv_base
        return {"add": add}

    @staticmethod
    def from_action(d: dict[str, Any]) -> "AddFile":
        return AddFile(
            path=d["path"],
            size=d["size"],
            num_records=d["numRecords"],
            partition_values=d.get("partitionValues", {}),
            stats=d.get("stats", {}),
            modification_time=d.get("modificationTime", 0),
            base=d.get("base"),
            dv_path=d.get("dvPath"),
            dv_count=d.get("dvCount", 0),
            dv_base=d.get("dvBase"),
        )

    @property
    def log_key(self) -> str:
        """Identity of the file within THIS table's log — used to key
        add/remove reconciliation.  Includes the base so a cloned
        foreign file can never collide with (or be removed by) a
        same-named table-local file."""
        return self.path if self.base is None else f"{self.base}::{self.path}"

    def remove_action(self, deletion_timestamp: int) -> dict[str, Any]:
        """The remove action that exactly cancels this file's add —
        carries ``base`` for cloned files so replay pops the right
        log entry."""
        rm: dict[str, Any] = {
            "path": self.path, "deletionTimestamp": deletion_timestamp,
        }
        if self.base is not None:
            rm["base"] = self.base
        return {"remove": rm}


def remove_key(remove: dict[str, Any]) -> str:
    """Reconciliation key of a remove action (mirrors
    ``AddFile.log_key``)."""
    base = remove.get("base")
    return remove["path"] if base is None else f"{base}::{remove['path']}"


@dataclass
class Protocol:
    """Protocol action: the reader/writer capability contract a table
    demands (the public Delta protocol action's shape).  Tables this
    engine creates declare its full capability set at version 0
    (``default_protocol``); tables written before the gate existed
    carry no protocol action and replay to these permissive defaults
    — grandfathered, like Delta's protocol (1, 2) legacy floor."""

    min_reader_version: int = 1
    min_writer_version: int = 2
    reader_features: list[str] = field(default_factory=list)
    writer_features: list[str] = field(default_factory=list)

    def to_action(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "minReaderVersion": self.min_reader_version,
            "minWriterVersion": self.min_writer_version,
        }
        if self.reader_features or self.min_reader_version >= 3:
            d["readerFeatures"] = sorted(self.reader_features)
        if self.writer_features or self.min_writer_version >= 7:
            d["writerFeatures"] = sorted(self.writer_features)
        return {"protocol": d}

    @staticmethod
    def from_action(d: dict[str, Any]) -> "Protocol":
        return Protocol(
            min_reader_version=int(d.get("minReaderVersion", 1)),
            min_writer_version=int(d.get("minWriterVersion", 2)),
            reader_features=list(d.get("readerFeatures") or []),
            writer_features=list(d.get("writerFeatures") or []),
        )


def default_protocol() -> Protocol:
    """The protocol this engine stamps on tables it creates."""
    return Protocol(
        CURRENT_READER_VERSION, CURRENT_WRITER_VERSION,
        sorted(SUPPORTED_READER_FEATURES),
        sorted(SUPPORTED_WRITER_FEATURES),
    )


def check_read_support(p: Protocol, table_uri: str) -> None:
    """Refuse to materialize a snapshot whose protocol this engine
    cannot READ faithfully — version gate first, then the feature
    list (a future reader feature could change how existing bytes
    decode, e.g. a new deletion encoding)."""
    unknown = sorted(set(p.reader_features) - SUPPORTED_READER_FEATURES)
    if p.min_reader_version > CURRENT_READER_VERSION or unknown:
        raise UnsupportedProtocolError(
            f"table {table_uri} requires minReaderVersion="
            f"{p.min_reader_version} with reader features "
            f"{sorted(p.reader_features)}; this engine supports "
            f"reader version {CURRENT_READER_VERSION} with "
            f"{sorted(SUPPORTED_READER_FEATURES)} "
            f"(unsupported: {unknown or 'version'})")


def check_write_support(p: Protocol, table_uri: str) -> None:
    """Refuse to COMMIT to a table whose protocol demands writer
    capabilities this engine lacks — a naive write could break an
    invariant only newer writers maintain."""
    unknown = sorted(set(p.writer_features) - SUPPORTED_WRITER_FEATURES)
    if p.min_writer_version > CURRENT_WRITER_VERSION or unknown:
        raise UnsupportedProtocolError(
            f"table {table_uri} requires minWriterVersion="
            f"{p.min_writer_version} with writer features "
            f"{sorted(p.writer_features)}; this engine supports "
            f"writer version {CURRENT_WRITER_VERSION} with "
            f"{sorted(SUPPORTED_WRITER_FEATURES)} "
            f"(unsupported: {unknown or 'version'})")


@dataclass
class Metadata:
    """Table metadata action: schema + partitioning + properties."""

    schema_json: str  # Spark StructType JSON
    partition_columns: list[str] = field(default_factory=list)
    configuration: dict[str, str] = field(default_factory=dict)
    table_id: str = ""
    created_time: int = 0

    def __post_init__(self) -> None:
        # assign identity ONCE at construction, not per serialization:
        # generating inside to_action() logged a fresh uuid every
        # commit (the cached snapshot kept "" while the log recorded a
        # different random id each version, so nothing could use the
        # id as a stable table identity)
        if not self.table_id:
            self.table_id = str(uuid.uuid4())
        if not self.created_time:
            self.created_time = int(time.time() * 1000)

    def to_action(self) -> dict[str, Any]:
        return {"metaData": {
            "id": self.table_id,
            "schemaString": self.schema_json,
            "partitionColumns": self.partition_columns,
            "configuration": self.configuration,
            "createdTime": self.created_time,
        }}

    @staticmethod
    def from_action(d: dict[str, Any]) -> "Metadata":
        return Metadata(
            schema_json=d["schemaString"],
            partition_columns=d.get("partitionColumns", []),
            configuration=d.get("configuration", {}),
            table_id=d.get("id", ""),
            created_time=d.get("createdTime", 0),
        )


@dataclass
class CommitInfo:
    operation: str
    operation_parameters: dict[str, Any] = field(default_factory=dict)
    operation_metrics: dict[str, Any] = field(default_factory=dict)
    user_metadata: Optional[dict[str, str]] = None
    timestamp: int = 0

    def to_action(self) -> dict[str, Any]:
        return {"commitInfo": {
            "timestamp": self.timestamp or int(time.time() * 1000),
            "operation": self.operation,
            "operationParameters": self.operation_parameters,
            "operationMetrics": self.operation_metrics,
            "userMetadata": self.user_metadata,
        }}


@dataclass
class Snapshot:
    """Materialized table state at one version.  ``app_versions``
    tracks the highest ``txn`` action per application id — the
    exactly-once ledger streaming sinks check before committing a
    micro-batch (Delta's SetTransaction analogue)."""

    version: int
    metadata: Metadata
    files: list[AddFile]
    timestamp: int = 0
    app_versions: dict[str, int] = field(default_factory=dict)
    # protocol-action-less legacy tables replay to the permissive
    # defaults; tables this engine creates carry default_protocol()
    protocol: Protocol = field(default_factory=Protocol)

    @property
    def schema_json(self) -> str:
        return self.metadata.schema_json

    @property
    def partition_columns(self) -> list[str]:
        return self.metadata.partition_columns


def _log_dir(table_uri: str) -> str:
    return os.path.join(table_uri, LOG_DIR)


def _version_path(table_uri: str, version: int) -> str:
    return os.path.join(_log_dir(table_uri), f"{version:020d}.json")


def _checkpoint_path(table_uri: str, version: int) -> str:
    return os.path.join(_log_dir(table_uri), f"{version:020d}.checkpoint.parquet")


def _legacy_checkpoint_path(table_uri: str, version: int) -> str:
    return os.path.join(_log_dir(table_uri), f"{version:020d}.checkpoint.json")


def table_exists(table_uri: str) -> bool:
    # version 0 is the fast path; a log-retention-cleaned table no
    # longer has it, so fall back to the directory listing
    return (os.path.isfile(_version_path(table_uri, 0))
            or latest_version(table_uri) >= 0)


def latest_version(table_uri: str) -> int:
    """Latest committed version, or -1 if the table does not exist."""
    d = _log_dir(table_uri)
    if not os.path.isdir(d):
        return -1
    best = -1
    for name in os.listdir(d):
        if name.endswith(".json") and not name.endswith(".checkpoint.json"):
            try:
                best = max(best, int(name[:-5]))
            except ValueError:
                continue
    return best


def earliest_version(table_uri: str) -> int:
    """Earliest commit file still in the log (0 unless
    ``cleanup_metadata`` has truncated it), or -1 if no table."""
    d = _log_dir(table_uri)
    if not os.path.isdir(d):
        return -1
    best = -1
    for name in os.listdir(d):
        if name.endswith(".json") and not name.endswith(".checkpoint.json"):
            try:
                v = int(name[:-5])
            except ValueError:
                continue
            if best < 0 or v < best:
                best = v
    return best


def read_version_actions(table_uri: str, version: int) -> list[dict[str, Any]]:
    try:
        with open(_version_path(table_uri, version), "r",
                  encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        if os.path.isdir(_log_dir(table_uri)):
            raise LogTruncatedError(
                f"version {version} of {table_uri} is no longer in the "
                "log (removed by cleanup_metadata log retention); the "
                f"earliest available version is "
                f"{earliest_version(table_uri)}"
            ) from None
        raise


def _best_checkpoint_version(table_uri: str, target: int) -> Optional[int]:
    """Newest on-disk checkpoint version <= ``target`` (parquet or
    legacy JSON) — the time-travel fast path when the `_last_checkpoint`
    pointer is ahead of the target."""
    d = _log_dir(table_uri)
    try:
        names = os.listdir(d)
    except OSError:
        return None
    best: Optional[int] = None
    for name in names:
        if not (name.endswith(".checkpoint.parquet")
                or name.endswith(".checkpoint.json")):
            continue  # excludes in-flight .tmp-* writes
        try:
            v = int(name.split(".", 1)[0])
        except ValueError:
            continue
        if v <= target and (best is None or v > best):
            best = v
    return best


def _read_last_checkpoint(table_uri: str) -> Optional[int]:
    p = os.path.join(_log_dir(table_uri), LAST_CHECKPOINT)
    if not os.path.isfile(p):
        return None
    try:
        with open(p, "r", encoding="utf-8") as f:
            return int(json.load(f)["version"])
    except (ValueError, KeyError, json.JSONDecodeError):
        return None


def _load_checkpoint(table_uri: str, version: int) -> Optional[Snapshot]:
    """Read a checkpoint, or None when absent OR unreadable — a torn
    or corrupt checkpoint (crash mid-replace, foreign parquet) must
    degrade to a full JSON-log replay, never make an intact table
    unreadable (the `_read_last_checkpoint` pointer already has the
    same corruption tolerance)."""
    p = _checkpoint_path(table_uri, version)
    if os.path.isfile(p):
        import pyarrow.parquet as pq

        try:
            t = pq.read_table(p)
            meta = t.schema.metadata or {}
            metadata = Metadata.from_action(json.loads(meta[b"dds.metaData"]))
            ts = int(meta.get(b"dds.timestamp", b"0"))
            files = [
                AddFile(
                    path=row["path"],
                    size=row["size"],
                    num_records=row["numRecords"],
                    partition_values=json.loads(row["partitionValues"]),
                    stats=json.loads(row["stats"]),
                    modification_time=row["modificationTime"],
                    # pre-clone checkpoints have no base column
                    base=row.get("base"),
                    # pre-DV checkpoints have no dv columns
                    dv_path=row.get("dvPath"),
                    dv_count=row.get("dvCount") or 0,
                    dv_base=row.get("dvBase"),
                )
                for row in t.to_pylist()
            ]
            return Snapshot(
                version=version, metadata=metadata, files=files,
                timestamp=ts,
                # pre-txn checkpoints have no ledger
                app_versions=json.loads(meta.get(b"dds.appTxns", b"{}")),
                # pre-gate checkpoints have no protocol -> defaults;
                # it MUST ride checkpoints: log retention truncates
                # the version-0 JSON that carried the action
                protocol=Protocol.from_action(
                    json.loads(meta.get(b"dds.protocol", b"{}"))),
            )
        except Exception:
            import sys

            print(f"warning: unreadable checkpoint {p}; replaying the "
                  "JSON log instead", file=sys.stderr)
            return None
    # pre-upgrade tables wrote JSON checkpoints; keep reading them
    lp = _legacy_checkpoint_path(table_uri, version)
    if not os.path.isfile(lp):
        return None
    try:
        with open(lp, "r", encoding="utf-8") as f:
            d = json.load(f)
        return Snapshot(
            version=version,
            metadata=Metadata.from_action(d["metaData"]),
            files=[AddFile.from_action(a) for a in d["adds"]],
            timestamp=d.get("timestamp", 0),
        )
    except (OSError, ValueError, KeyError):
        return None


def write_checkpoint(table_uri: str, snap: Snapshot) -> None:
    """Checkpoint the snapshot so future replays skip the JSON tail.

    Parquet checkpoint, one row per live file (columnar + compressed:
    at millions of files a JSON checkpoint dominates snapshot-load
    time; this mirrors the public Delta protocol's parquet
    checkpoints).  Table metadata rides in the parquet schema
    key-value metadata."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = _checkpoint_path(table_uri, snap.version)
    tmp = p + f".tmp-{uuid.uuid4().hex}"
    table = pa.table({
        "path": pa.array([a.path for a in snap.files], pa.string()),
        "size": pa.array([a.size for a in snap.files], pa.int64()),
        "numRecords": pa.array([a.num_records for a in snap.files], pa.int64()),
        "partitionValues": pa.array(
            [json.dumps(a.partition_values) for a in snap.files], pa.string()
        ),
        "stats": pa.array([json.dumps(a.stats) for a in snap.files], pa.string()),
        "modificationTime": pa.array(
            [a.modification_time for a in snap.files], pa.int64()
        ),
        # null for table-local files; the source root for cloned ones
        "base": pa.array([a.base for a in snap.files], pa.string()),
        # deletion-vector sidecar reference (null when the file has none)
        "dvPath": pa.array([a.dv_path for a in snap.files], pa.string()),
        "dvCount": pa.array([a.dv_count for a in snap.files], pa.int64()),
        "dvBase": pa.array([a.dv_base for a in snap.files], pa.string()),
    })
    table = table.replace_schema_metadata({
        b"dds.appTxns": json.dumps(snap.app_versions),
        b"dds.metaData": json.dumps(
            snap.metadata.to_action()["metaData"]
        ).encode(),
        b"dds.timestamp": str(snap.timestamp).encode(),
        b"dds.protocol": json.dumps(
            snap.protocol.to_action()["protocol"]).encode(),
    })
    pq.write_table(table, tmp, compression="zstd")
    _fsync_path(tmp)
    os.replace(tmp, p)
    lp = os.path.join(_log_dir(table_uri), LAST_CHECKPOINT)
    tmp2 = lp + f".tmp-{uuid.uuid4().hex}"
    with open(tmp2, "w", encoding="utf-8") as f:
        f.write(json.dumps({"version": snap.version}))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp2, lp)
    _fsync_dir(_log_dir(table_uri))


def _fsync_path(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _fsync_dir(path: str) -> None:
    """Durably record directory entries (renames/links) — without this
    an OS crash after a 'successful' commit can lose the version file
    while its data files survive."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return  # platform without directory open support
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


# (uri, version) -> (version-file stat fingerprint, snapshot).  The
# fingerprint guards against a table deleted and recreated at the same
# URI: the new version file has a different (mtime_ns, size), so the
# stale snapshot misses.  Guarded by a lock — concurrent assets in one
# process share this dict.
_SNAPSHOT_CACHE: dict[tuple[str, int], tuple[tuple[int, int], Snapshot]] = {}
_SNAPSHOT_CACHE_MAX = 64
_SNAPSHOT_CACHE_LOCK = threading.Lock()


def _version_fingerprint(table_uri: str, version: int) -> Optional[tuple[int, int]]:
    try:
        st = os.stat(_version_path(table_uri, version))
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _copy_snapshot(snap: Snapshot) -> Snapshot:
    """Snapshot state is mutable (files list, AddFile dicts incl. the
    NESTED minValues/maxValues/nullCount dicts, Metadata's list/dict
    fields); the cache must never share any of it with a caller — a
    caller mutating table.snapshot() (or a writer reusing its
    snapshot_after) would silently corrupt every later read of that
    version in-process."""
    return Snapshot(
        version=snap.version,
        metadata=replace(
            snap.metadata,
            partition_columns=list(snap.metadata.partition_columns),
            configuration=dict(snap.metadata.configuration),
        ),
        files=[
            replace(
                a,
                partition_values=dict(a.partition_values),
                stats={k: dict(v) if isinstance(v, dict) else v
                       for k, v in a.stats.items()},
            )
            for a in snap.files
        ],
        timestamp=snap.timestamp,
        app_versions=dict(snap.app_versions),
        protocol=replace(
            snap.protocol,
            reader_features=list(snap.protocol.reader_features),
            writer_features=list(snap.protocol.writer_features),
        ),
    )


def _cache_put(table_uri: str, version: int, snap: Snapshot) -> None:
    fp = _version_fingerprint(table_uri, version)
    if fp is None:
        return
    snap = _copy_snapshot(snap)
    with _SNAPSHOT_CACHE_LOCK:
        if len(_SNAPSHOT_CACHE) >= _SNAPSHOT_CACHE_MAX:
            _SNAPSHOT_CACHE.pop(next(iter(_SNAPSHOT_CACHE)))
        _SNAPSHOT_CACHE[(table_uri, version)] = (fp, snap)


def _cache_get(table_uri: str, version: int) -> Optional[Snapshot]:
    key = (table_uri, version)
    with _SNAPSHOT_CACHE_LOCK:
        hit = _SNAPSHOT_CACHE.get(key)
        if hit is not None:
            # LRU refresh: re-insert so eviction (which pops the oldest
            # insertion) spares hot entries — FIFO would evict the
            # constantly-read head snapshot while cold time-travel
            # entries survived
            _SNAPSHOT_CACHE.pop(key, None)
            _SNAPSHOT_CACHE[key] = hit
    if hit is None:
        return None
    fp, snap = hit
    if fp != _version_fingerprint(table_uri, version):
        with _SNAPSHOT_CACHE_LOCK:
            _SNAPSHOT_CACHE.pop(key, None)
        return None
    return _copy_snapshot(snap)


def load_snapshot(table_uri: str, version: Optional[int] = None) -> Snapshot:
    """Replay the log (checkpoint + tail) into a Snapshot.

    ``version`` pins time travel (reference S3 contract:
    dd/dagster_delta/resource.py:48-77 — version=0 returns pre-append
    contents).

    Snapshots are cached per (uri, version): version files are
    immutable once committed (put-if-absent), so a cached replay can
    never go stale — a new commit is a new version and misses the
    cache.  ``latest_version`` still hits the filesystem every call,
    so concurrent writers are observed immediately.
    """
    head = latest_version(table_uri)
    if head < 0:
        raise TableNotFoundError(f"no table at {table_uri}")
    target = head if version is None else version
    if target > head or target < 0:
        raise ValueError(f"version {target} out of range [0, {head}]")

    cached = _cache_get(table_uri, target)
    if cached is not None:
        return cached

    start = 0
    metadata: Optional[Metadata] = None
    files: dict[str, AddFile] = {}
    app_versions: dict[str, int] = {}
    ts = 0
    protocol = Protocol()

    cp_version = _read_last_checkpoint(table_uri)
    cp = (
        _load_checkpoint(table_uri, cp_version)
        if cp_version is not None and cp_version <= target
        else None
    )
    if cp is None:
        # the pointer's checkpoint is ahead of a time-travel target,
        # missing, or unreadable — scan for the newest on-disk
        # checkpoint at or below the target instead of replaying the
        # whole JSON log from version 0
        alt = _best_checkpoint_version(table_uri, target)
        if alt is not None and alt != cp_version:
            cp = _load_checkpoint(table_uri, alt)
            cp_version = alt
    if cp is not None:
        metadata = cp.metadata
        files = {a.log_key: a for a in cp.files}
        app_versions = dict(cp.app_versions)
        ts = cp.timestamp
        start = cp_version + 1
        protocol = cp.protocol

    for v in range(start, target + 1):
        for action in read_version_actions(table_uri, v):
            if "metaData" in action:
                metadata = Metadata.from_action(action["metaData"])
            elif "protocol" in action:
                protocol = Protocol.from_action(action["protocol"])
            elif "add" in action:
                a = AddFile.from_action(action["add"])
                files[a.log_key] = a
            elif "remove" in action:
                files.pop(remove_key(action["remove"]), None)
            elif "txn" in action:
                t = action["txn"]
                if t["appId"].startswith(COPY_INTO_APP_PREFIX):
                    # copy_into file-ledger entries are last-write-wins
                    # (replay is version-ordered): a FORCE reload must
                    # record the file's new mtime even when it moved
                    # backwards — max-folding would pin the old one and
                    # every later run would see a phantom modification
                    app_versions[t["appId"]] = t["version"]
                else:
                    app_versions[t["appId"]] = max(
                        app_versions.get(t["appId"], -1), t["version"])
            elif "commitInfo" in action:
                ts = action["commitInfo"].get("timestamp", ts)

    if metadata is None:
        raise TableNotFoundError(f"no metaData action found for {table_uri}")
    # the READER gate: refuse before caching — a future-format
    # snapshot must never be materialized, even once
    check_read_support(protocol, table_uri)
    snap = Snapshot(version=target, metadata=metadata,
                    files=list(files.values()), timestamp=ts,
                    app_versions=app_versions, protocol=protocol)
    _cache_put(table_uri, target, snap)
    return snap


def commit(
    table_uri: str,
    version: int,
    actions: list[dict[str, Any]],
    snapshot_after: Optional[Snapshot] = None,
) -> None:
    """Atomically publish ``version``.

    Local-FS put-if-absent via ``open(..., 'x')``; on object stores this
    maps to a conditional PUT (S3 If-None-Match / ABFS etag), which is
    how open-source Delta commits on those stores too.  Raises
    :class:`VersionConflictError` for the single optimistic-retry loop,
    ``DeltaSparkTable._commit`` in ``table.py``.

    GATE CONTRACT: the writer-protocol gate and the version-0 protocol
    stamp run ONLY when ``snapshot_after`` is provided.  Every
    table-layer commit path passes it; a ``snapshot_after=None`` call
    is the deliberate low-level escape hatch (protocol-upgrade tooling
    and tests crafting future-format tables use it) and BYPASSES both.
    New callers committing data actions MUST pass ``snapshot_after``
    — without it the commit neither refuses future-writer tables nor
    stamps a protocol on version 0.
    """
    if snapshot_after is not None:
        if version == 0 and not any("protocol" in a for a in actions):
            # stamp the engine's capability contract at creation —
            # every version-0 path (write / create_or_replace / clone
            # / convert_to_table) funnels through here, so none can
            # forget the action
            proto = default_protocol()
            actions = [proto.to_action()] + list(actions)
            snapshot_after.protocol = proto
        # the WRITER gate: refuse BEFORE publishing — committing to a
        # future-writer table could break invariants only newer
        # writers maintain.  snapshot_after carries the table's
        # protocol forward (or the upgrade this commit itself makes),
        # so checking it covers both.
        check_write_support(snapshot_after.protocol, table_uri)
    log_dir = _log_dir(table_uri)
    os.makedirs(log_dir, exist_ok=True)
    path = _version_path(table_uri, version)
    payload = "\n".join(json.dumps(a, separators=(",", ":")) for a in actions) + "\n"
    # Publish atomically: write + fsync a private tmp file, then LINK
    # it to the version name.  A direct open('x') + buffered write
    # exposes an empty/partial version file to concurrent readers
    # (latest_version lists it, read_version_actions returns [] — a
    # silently wrong snapshot that the cache or the streaming source's
    # offset tracking would make permanent), and a writer crash
    # mid-write would leave a truncated file that counts as committed.
    # link() is the put-if-absent: it fails with FileExistsError when a
    # rival published first, and the tmp file is unlinked either way.
    tmp = os.path.join(log_dir, f".{version:020d}.tmp-{uuid.uuid4().hex}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise VersionConflictError(
            f"version {version} of {table_uri} was committed concurrently"
        ) from None
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass
    _fsync_dir(log_dir)
    if snapshot_after is not None:
        _cache_put(table_uri, version, snapshot_after)
        if version > 0 and version % CHECKPOINT_INTERVAL == 0:
            # checkpointing is an optimization over an already-durable
            # commit: its failure must not fail the commit (the caller
            # would retry a published version and duplicate data) —
            # the next interval commit simply tries again
            try:
                write_checkpoint(table_uri, snapshot_after)
            except Exception as exc:
                import sys

                print(f"warning: checkpoint at version {version} failed "
                      f"({exc}); log tail replay continues to work",
                      file=sys.stderr)


def cleanup_log(
    table_uri: str,
    *,
    retention_ms: int,
    floor_versions: int = 0,
    dry_run: bool = False,
) -> dict[str, Any]:
    """Physically delete expired commit files and superseded
    checkpoints (Delta's ``delta.logRetentionDuration`` cleanup).

    Picks the boundary B = the newest on-disk checkpoint version such
    that (a) the newest commit file BELOW it is older than
    ``retention_ms`` (commit mtimes are version-ordered, so checking
    the newest deletable file covers them all), and (b) B is at most
    ``head - floor_versions`` (the CDC retention floor's protected
    window keeps its JSON so feed decodes and vacuum's floor walk keep
    working).  Deletes every commit file ``< B`` and every checkpoint
    ``< B``; version B stays fully replayable (checkpoint B + JSON
    tail), anything below raises :class:`LogTruncatedError`.

    Crash-safe ordering: checkpoints below B go first (while all JSON
    survives, everything is still replayable from version 0), then
    JSON from high to low (a crash leaves a contiguous [0, m] prefix —
    every surviving version is still replayable; rerunning finishes).

    Scale note: the log directory listing and the deletions are
    O(commits being removed) driver-side metadata work — no data files
    are touched (that is vacuum's job) and no snapshot replays run.
    """
    d = _log_dir(table_uri)
    head = latest_version(table_uri)
    if head < 0:
        raise TableNotFoundError(f"no table at {table_uri}")
    limit = head - max(0, floor_versions)
    cutoff = time.time() * 1000 - retention_ms

    versions: list[int] = []
    ckpts: list[int] = []
    for name in os.listdir(d):
        try:
            if name.endswith(".checkpoint.parquet") or name.endswith(
                    ".checkpoint.json"):
                ckpts.append(int(name.split(".", 1)[0]))
            elif name.endswith(".json"):
                versions.append(int(name[:-5]))
        except ValueError:
            continue
    versions.sort()

    def _mtime_ms(path: str) -> Optional[float]:
        try:
            return os.stat(path).st_mtime_ns / 1e6
        except OSError:
            return None

    boundary: Optional[int] = None
    for c in sorted(set(ckpts)):
        if c <= 0 or c > limit:
            continue
        below = [v for v in versions if v < c]
        if below:
            mt = _mtime_ms(_version_path(table_uri, below[-1]))
            if mt is not None and mt > cutoff:
                continue  # the newest deletable commit is too young
        boundary = c

    doomed_json = [v for v in versions
                   if boundary is not None and v < boundary]
    doomed_ckpts = sorted({c for c in ckpts
                           if boundary is not None and c < boundary})
    if dry_run or boundary is None:
        return {
            "dry_run": dry_run,
            "boundary_version": boundary,
            "deleted_commits": len(doomed_json),
            "deleted_checkpoints": len(doomed_ckpts),
        }
    for c in doomed_ckpts:
        for p in (_checkpoint_path(table_uri, c),
                  _legacy_checkpoint_path(table_uri, c)):
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass
    for v in sorted(doomed_json, reverse=True):
        try:
            os.unlink(_version_path(table_uri, v))
        except FileNotFoundError:
            pass
    _fsync_dir(d)
    return {
        "dry_run": False,
        "boundary_version": boundary,
        "deleted_commits": len(doomed_json),
        "deleted_checkpoints": len(doomed_ckpts),
    }


def classify_commit(operation: str) -> str:
    """Incremental-consumption contract shared by
    ``DeltaSparkTable.read_changes`` and the ``dds_table`` streaming
    source: ``compaction`` commits re-add existing rows (skip),
    ``rewrite`` commits replace data (not new-rows-only), anything
    else is an append whose added files are exactly the new rows.
    One definition so the two consumers can never drift."""
    if operation.startswith("OPTIMIZE"):
        return "compaction"
    # DELETE/UPDATE/RESTORE re-add surviving/modified/old rows — their
    # added files are NOT new-rows-only (a DELETE's keep-file copy or
    # deletion-vector re-add would stream as phantom inserts)
    # FSCK drops lost files: rows disappear with no decodable change
    # feed, so incremental consumers must refuse and rebuild
    if operation in ("MERGE", "CREATE OR REPLACE", "WRITE overwrite",
                     "DELETE", "UPDATE", "RESTORE", "FSCK",
                     "REPLACE WHERE"):
        return "rewrite"
    return "append"


def history(table_uri: str, limit: Optional[int] = None) -> list[dict[str, Any]]:
    """Commit history, newest first (reference O4:
    dd/dagster_delta/handler.py:271-291 reads history(1) metrics)."""
    head = latest_version(table_uri)
    if head < 0:
        raise TableNotFoundError(f"no table at {table_uri}")
    out = []
    for v in range(head, -1, -1):
        info: dict[str, Any] = {"version": v}
        try:
            actions = read_version_actions(table_uri, v)
        except LogTruncatedError:
            # log retention removed everything below here — history
            # simply ends at the cleanup boundary, like Delta's
            break
        for action in actions:
            if "commitInfo" in action:
                info.update(action["commitInfo"])
        out.append(info)
        if limit is not None and len(out) >= limit:
            break
    return out
