"""deltalite: a minimal transaction-log table format on plain parquet.

The lakehouse pattern from the public Delta Lake paper (Armbrust et al.,
VLDB 2020) and the Apache Iceberg spec, re-expressed in ~400 lines on
Spark's own parquet writer — the metadata layer a 100 TB training-data
pipeline needs that a bare parquet directory cannot give:

- **Atomic, versioned commits.** A write lands data files first (Spark's
  task-committed parquet write into a commit-unique subdirectory), then
  publishes ONE log record ``_txn_log/{version:020d}.json`` via
  exclusive-create. Readers never see a half-written table: a commit is
  either fully visible or absent. This closes the task-retry /
  concurrent-writer hazard class a raw ``df.write.parquet(dir,
  mode="append")`` has at scale.
- **Snapshot isolation + time travel.** A read resolves a VERSION first,
  then scans exactly that version's live file set — concurrent appends
  or overwrites cannot tear it. ``read_table(..., version=N)`` is time
  travel for free.
- **Optimistic concurrency.** Two writers racing for the same version:
  one wins the exclusive create, the loser retries at the next version.
  Appends never conflict (disjoint file sets); an overwrite/compact that
  lost the race re-validates that the files it intends to REMOVE are
  still live and raises ``ConcurrentWriteError`` if the table moved.
- **File-level data skipping.** Each ``add`` action carries per-file
  min/max/null-count statistics for the requested columns, harvested
  from the parquet FOOTERS the write already produced (metadata-only
  reads, no data pages). ``read_table(..., predicate=...)`` prunes files
  whose stats prove exclusion BEFORE Spark plans the scan — the
  log-level analog of Delta/Iceberg data skipping; Catalyst's row-group
  pruning still applies inside surviving files. Skipping is an
  optimization only: the same predicate is also applied as a real Spark
  filter, so correctness never depends on the stats.
- **O(checkpoint-interval) log replay.** Every ``checkpoint_every``
  commits the full live set is snapshotted to
  ``{version:020d}.checkpoint.json``; a reader replays from the latest
  checkpoint at-or-before its target version, so resolving a snapshot
  stays O(K) as the table ages into thousands of commits.
- **Compaction (OPTIMIZE) and vacuum.** ``compact`` rewrites the live
  set into fewer, larger files in one atomic remove+add commit — old
  versions still read the old files. ``vacuum`` physically deletes files
  unreferenced by the last ``keep_versions`` versions.

Scale posture: the log is O(files) metadata, never data; every data
byte moves through Spark's distributed parquet writer/reader. Stats
harvesting for large commits fans out as a Spark job over the file
list (driver-serial only below ``_DRIVER_HARVEST_MAX`` files), and all
commit-log I/O goes through a pluggable ``LogStore`` whose one hard
requirement is put-if-absent — ``LocalLogStore`` (os.link) for POSIX,
a conditional-PUT backend for S3/GCS/ABFS — so the driver-side work
per commit is one small JSON publish, the same cost profile as Delta's
commit service.

Reference parity note: the reference (rapidsai cudf) has no table
format — this is a §2.12 net-new capability row (training pipelines
need reproducible snapshots of the corpus they trained on).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re as _re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG_DIR = "_txn_log"
_DV_DIR = "dv"
_VERSION_WIDTH = 20

# commit operations that carry no logical row change: compact/purge
# rewrite files without changing rows (the dataChange=false analog) and
# constraint commits carry no add/remove actions. The change feed and
# both lake stream sources skip these by name.
_NO_DATA_CHANGE_OPS = frozenset(
    {"compact", "purge", "set_constraint", "drop_constraint"}
)


class ConcurrentWriteError(RuntimeError):
    """The table moved underneath an overwrite/compact transaction."""


# ------------------------------------------------------------ LogStore seam
#
# All commit-log I/O (never data-file I/O — data moves through Spark's
# own readers/writers) goes through a 5-method LogStore, mirroring the
# public Delta LogStore SPI. The contract each backend must supply:
#
#   put_if_absent  — EXCLUSIVE create of one log object: the whole
#                    optimistic-concurrency protocol rests on exactly
#                    this primitive. Local FS = os.link; S3 =
#                    conditional PUT with If-None-Match:* (native since
#                    2024); GCS = x-goog-if-generation-match: 0;
#                    HDFS/ABFS = atomic create-no-overwrite.
#   write_atomic   — overwrite-allowed atomic publish (checkpoints,
#                    which are derived data and may be rewritten).
#   read_bytes     — read one log object.
#   list_names     — names in the log directory ([] if absent).
#   exists         — one-object existence probe.
#
# The default LocalLogStore is the POSIX implementation used by every
# test; an object-store deployment plugs its backend in with
# ``set_log_store`` without touching the transaction protocol above it.


class LogStore:
    """Abstract commit-log backend (see module comment for contract)."""

    def put_if_absent(self, path: str, data: bytes) -> None:
        raise NotImplementedError

    def write_atomic(self, path: str, data: bytes) -> None:
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def list_names(self, directory: str) -> list[str]:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def stat_token(self, path: str):
        """Cheap identity token of a log file, or None when the backend
        cannot provide one. Used ONLY to key the snapshot memo: a
        published commit file's CONTENT at a path is immutable
        (put-if-absent), so a changed token means the whole table was
        replaced on disk (a test/bench rmtree+rebuild) and any memo
        entry must miss. None disables memoization — always safe."""
        return None


class LocalLogStore(LogStore):
    """POSIX backend: exclusive create via ``os.link`` (hard-link to a
    fsynced temp file fails with FileExistsError if another writer took
    the name — the local-FS put-if-absent)."""

    def put_if_absent(self, path: str, data: bytes) -> None:
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)  # exclusive create
        finally:
            os.unlink(tmp)

    def write_atomic(self, path: str, data: bytes) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def list_names(self, directory: str) -> list[str]:
        if not os.path.isdir(directory):
            return []
        return os.listdir(directory)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def stat_token(self, path: str):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return (st.st_ino, st.st_mtime_ns, st.st_size)


_LOG_STORE: LogStore = LocalLogStore()


def set_log_store(store: LogStore) -> LogStore:
    """Install a LogStore backend (returns the previous one). The
    production slot for object stores whose put-if-absent is a
    conditional PUT rather than a POSIX hard link."""
    global _LOG_STORE
    prev, _LOG_STORE = _LOG_STORE, store
    return prev


def get_log_store() -> LogStore:
    return _LOG_STORE


# ---------------------------------------------------------------- log I/O


def _log_dir(table: str) -> str:
    return os.path.join(table, _LOG_DIR)


def _version_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"{version:0{_VERSION_WIDTH}d}.json")


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(
        _log_dir(table), f"{version:0{_VERSION_WIDTH}d}.checkpoint.json"
    )


def _log_exists(table: str, version: int) -> bool:
    """Does version N's commit record exist (False once vacuumed)?"""
    return _LOG_STORE.exists(_version_path(table, version))


def _list_versions(table: str) -> list[int]:
    out = []
    for name in _LOG_STORE.list_names(_log_dir(table)):
        if name.endswith(".json") and not name.endswith(".checkpoint.json"):
            stem = name[: -len(".json")]
            if stem.isdigit():
                out.append(int(stem))
    return sorted(out)


def table_version(table: str) -> int:
    """Latest committed version, or -1 for a nonexistent/empty table."""
    versions = _list_versions(table)
    return versions[-1] if versions else -1


def _read_actions(path: str) -> list[dict]:
    text = _LOG_STORE.read_bytes(path).decode("utf-8")
    return [json.loads(line) for line in text.splitlines() if line.strip()]


def _publish(table: str, version: int, actions: list[dict]) -> None:
    """Atomically publish one commit via the LogStore's put-if-absent:
    it raises FileExistsError if another writer took the version — the
    optimistic-concurrency primitive."""
    data = "".join(
        json.dumps(a, separators=(",", ":")) + "\n" for a in actions
    ).encode("utf-8")
    _LOG_STORE.put_if_absent(_version_path(table, version), data)


# ------------------------------------------------------------- snapshots


def _resolve_version(table: str, version: int | None) -> int:
    latest = table_version(table)
    if latest < 0:
        raise FileNotFoundError(f"deltalite table has no commits: {table}")
    if version is None:
        return latest
    if version < 0 or version > latest:
        raise ValueError(
            f"version {version} out of range [0, {latest}] for {table}"
        )
    if not _log_exists(table, version):
        raise ValueError(f"version {version} missing from the log: {table}")
    return version


def _latest_checkpoint_at_or_before(table: str, version: int) -> int | None:
    best = None
    for name in _LOG_STORE.list_names(_log_dir(table)):
        if name.endswith(".checkpoint.json"):
            stem = name[: -len(".checkpoint.json")]
            if stem.isdigit() and int(stem) <= version:
                if best is None or int(stem) > best:
                    best = int(stem)
    return best


# (table, version) → (stat token of the version file, snapshot).
# METADATA-ONLY memo (r8, r7-verdict #5; guide §6 — the table-format
# analogue of Spark's own catalog/file-index caching, never rows or
# results): a snapshot at a FIXED version is logically immutable —
# commit files are published put-if-absent and never rewritten, and
# vacuum/checkpoint only change which PHYSICAL files the replay reads,
# not the replayed content. The one way a (table, version) pair can go
# stale is the whole table being replaced on disk (tests and the bench
# rmtree+rebuild per run) — caught by keying on the version file's
# identity token (inode, mtime_ns, size): the rebuilt file is a new
# inode, so the memo misses and replays fresh. New commits create new
# versions (new keys), so writers invalidate by construction. Backends
# that return no token (base LogStore) skip memoization entirely.
# Bounded FIFO so long sessions over many tables cannot grow it.
_SNAPSHOT_MEMO: dict = {}
_SNAPSHOT_MEMO_MAX = 64


def _snapshot(table: str, version: int) -> dict:
    key = (table, version)
    token = _LOG_STORE.stat_token(_version_path(table, version))
    if token is not None:
        hit = _SNAPSHOT_MEMO.get(key)
        if hit is not None and hit[0] == token:
            return hit[1]
    snap = _snapshot_replay(table, version)
    if token is not None:
        if len(_SNAPSHOT_MEMO) >= _SNAPSHOT_MEMO_MAX:
            _SNAPSHOT_MEMO.pop(next(iter(_SNAPSHOT_MEMO)))
        _SNAPSHOT_MEMO[key] = (token, snap)
    return snap


def _snapshot_replay(table: str, version: int) -> dict:
    """Replay the log up to ``version``: {'adds': {relpath: add-action},
    'schema': ddl, 'version': v}. Starts from the newest checkpoint at
    or before the target so replay cost is bounded by the checkpoint
    interval, not the table's age."""
    adds: dict[str, dict] = {}
    schema = None
    partition_by = None
    partition_exprs = None
    column_mapping = None
    protocol = None
    type_widening = None
    constraints: dict[str, str] = {}
    copy_sources: set[str] = set()
    start = 0
    ckpt = _latest_checkpoint_at_or_before(table, version)
    if ckpt is not None:
        snap = json.loads(
            _LOG_STORE.read_bytes(_checkpoint_path(table, ckpt))
        )
        adds = {a["path"]: a for a in snap["adds"]}
        schema = snap.get("schema")
        partition_by = snap.get("partition_by")
        partition_exprs = snap.get("partition_exprs")
        column_mapping = snap.get("column_mapping")
        protocol = snap.get("protocol")
        type_widening = snap.get("type_widening")
        constraints = dict(snap.get("constraints") or {})
        copy_sources = set(snap.get("copy_sources") or [])
        start = ckpt + 1
    for v in range(start, version + 1):
        p = _version_path(table, v)
        if not _log_exists(table, v):  # vacuumed / never written
            continue
        for action in _read_actions(p):
            if "commit" in action:
                schema = action["commit"].get("schema", schema)
                partition_by = action["commit"].get(
                    "partition_by", partition_by
                )
                partition_exprs = action["commit"].get(
                    "partition_exprs", partition_exprs
                )
                column_mapping = action["commit"].get(
                    "column_mapping", column_mapping
                )
                protocol = action["commit"].get("protocol", protocol)
                type_widening = action["commit"].get(
                    "type_widening", type_widening
                )
                copy_sources.update(
                    action["commit"].get("copy_into") or ()
                )
            elif "add" in action:
                adds[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                adds.pop(action["remove"]["path"], None)
            elif "constraint" in action:
                constraints[action["constraint"]["name"]] = (
                    action["constraint"]["expr"]
                )
            elif "drop_constraint" in action:
                constraints.pop(action["drop_constraint"]["name"], None)
    return {"adds": adds, "schema": schema, "version": version,
            "constraints": constraints, "partition_by": partition_by,
            "partition_exprs": partition_exprs,
            "column_mapping": column_mapping, "protocol": protocol,
            "type_widening": type_widening,
            "copy_sources": sorted(copy_sources)}


def live_files(table: str, version: int | None = None) -> list[dict]:
    """The live ``add`` actions (path + stats) at a version."""
    v = _resolve_version(table, version)
    return sorted(_snapshot(table, v)["adds"].values(), key=lambda a: a["path"])


def table_partition_by(
    table: str, version: int | None = None
) -> list[str] | None:
    """The table's partition-column spec at ``version`` (default: head;
    None/[] for unpartitioned) — recorded in commit headers like the
    schema; changes only through ``set_partition_spec`` (partition
    evolution)."""
    if table_version(table) < 0:
        return None
    return _snapshot(table, _resolve_version(table, version))["partition_by"]


def table_partition_exprs(
    table: str, version: int | None = None
) -> dict | None:
    """Generated-partition-column expressions ({col: SQL expr}, the
    Delta generated-columns partitioning pattern) — recorded with the
    spec; a write whose frame lacks a generated column derives it."""
    if table_version(table) < 0:
        return None
    return _snapshot(table, _resolve_version(table, version))["partition_exprs"]


# table features THIS build understands; a table whose protocol lists
# anything newer is fenced off instead of silently mis-read/mis-written
# (the Delta protocol-versioning contract)
_READER_FEATURES = {
    "columnMapping", "deletionVectors", "checkConstraints",
    "generatedColumns", "partitionColumns", "timeTravel",
    "changeDataFeed", "shallowClone",
}
_WRITER_FEATURES = set(_READER_FEATURES)


def table_protocol(table: str, version: int | None = None) -> dict | None:
    """{'reader_features': [...], 'writer_features': [...]} or None."""
    v = table_version(table) if version is None else version
    if v < 0:
        return None
    return _snapshot(table, v)["protocol"]


def set_protocol(
    table: str, reader_features=(), writer_features=(),
    checkpoint_every: int = 10,
) -> int:
    """Declare the feature set required to read/write this table — a
    metadata-only commit. An engine build that does not know a listed
    reader feature REFUSES to read (mis-reading would silently return
    wrong rows, e.g. ignoring deletion vectors); an unknown writer
    feature refuses to commit (a blind write could corrupt invariants
    the feature maintains) while reads keep working. This build cannot
    fence ITSELF: requested features must be known here."""
    unknown = (set(reader_features) - _READER_FEATURES) | (
        set(writer_features) - _WRITER_FEATURES
    )
    if unknown:
        raise ValueError(
            f"set_protocol: features unknown to this build: "
            f"{sorted(unknown)}"
        )
    base = table_version(table)
    if base < 0:
        raise FileNotFoundError(f"no such table: {table}")
    snap = _snapshot(table, base)
    return _commit_retry(
        table, "set_protocol", [], [], snap["schema"], base,
        checkpoint_every, expect_head=base,
        protocol={"reader_features": sorted(set(reader_features)),
                  "writer_features": sorted(set(writer_features))},
    )


def _check_reader(proto: dict | None, table: str) -> None:
    unknown = set((proto or {}).get("reader_features") or ()) \
        - _READER_FEATURES
    if unknown:
        raise RuntimeError(
            f"deltalite table {table} requires reader features this "
            f"build does not implement: {sorted(unknown)} — upgrade "
            "the engine (refusing to mis-read)"
        )


def _check_writer(proto: dict | None, table: str) -> None:
    unknown = set((proto or {}).get("writer_features") or ()) \
        - _WRITER_FEATURES
    if unknown:
        raise RuntimeError(
            f"deltalite table {table} requires writer features this "
            f"build does not implement: {sorted(unknown)} — the table "
            "stays readable; refusing to commit"
        )


def table_column_mapping(
    table: str, version: int | None = None
) -> dict | None:
    """The table's column mapping (the Delta column-mapping analog):
    ``{"map": {logical: physical}, "retired": [physical, ...]}`` or
    None. ``rename_column``/``drop_column`` are METADATA-ONLY commits —
    file bytes and footer stats always carry PHYSICAL names; readers
    translate physical→logical at the scan boundary and writers
    logical→physical just before landing bytes, so a rename/drop on a
    100 TB table moves zero data. ``retired`` lists physical columns
    whose logical column was dropped (projected away on read; a later
    re-add of the same logical name allocates a FRESH physical name so
    dropped data can never resurface through mergeSchema)."""
    if version is None:
        version = table_version(table)
    if version < 0:
        return None
    return _snapshot(table, version)["column_mapping"]


def _cm_active(cm: dict | None) -> bool:
    return bool(cm and (cm.get("map") or cm.get("retired")))


def _cm_phys(cm: dict | None, col: str) -> str:
    """Logical column name → the physical name stored in file bytes."""
    return (cm or {}).get("map", {}).get(col, col)


def _cm_tuples(cm: dict | None, tuples):
    """Translate a (col, op, literal) conjunction to physical names
    (stats/bloom/partition entries in add actions are keyed physical)."""
    if not tuples or not _cm_active(cm):
        return tuples
    return [(_cm_phys(cm, c), op, v) for c, op, v in tuples]


def _to_physical_df(df: DataFrame, cm: dict | None) -> DataFrame:
    """Rename mapped logical columns to their physical names — one
    simultaneous projection (physical names are unique by construction,
    so no sequential-rename collisions)."""
    if not _cm_active(cm):
        return df
    from pyspark.sql import functions as F

    m = cm.get("map") or {}
    return df.select(*[F.col(c).alias(m.get(c, c)) for c in df.columns])


def _to_logical_df(df: DataFrame, cm: dict | None, keep=()) -> DataFrame:
    """Scan-boundary translation: drop retired physical columns (their
    logical column was dropped — mergeSchema may still surface them
    from pre-drop files) and rename physical→logical. ``keep`` protects
    internal lineage columns (``__dl_*``) from the retired filter."""
    if not _cm_active(cm):
        return df
    from pyspark.sql import functions as F

    retired = set(cm.get("retired") or ())
    p2l = {p: l for l, p in (cm.get("map") or {}).items()}
    cols = [c for c in df.columns if c not in retired or c in keep]
    return df.select(*[F.col(c).alias(p2l.get(c, c)) for c in cols])


def history(table: str) -> list[dict]:
    """Commit headers, oldest first (the DESCRIBE HISTORY analog)."""
    out = []
    for v in _list_versions(table):
        for action in _read_actions(_version_path(table, v)):
            if "commit" in action:
                out.append(action["commit"])
                break
    return out


def version_as_of_timestamp(table: str, ts) -> int:
    """TIMESTAMP AS OF resolution: the newest version whose commit
    timestamp is <= ``ts`` (ISO-8601 string or datetime; naive inputs
    are taken as UTC, matching the log's timestamps). Raises if the
    table's first commit is later than ``ts`` — same contract as
    Delta's timestamp time travel. Vacuumed early commit headers fall
    back conservatively (a missing header can only hide an OLDER
    version, never select a newer one)."""
    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    best = -1
    for h in history(table):
        h_ts = h.get("ts")
        if h_ts is None:
            continue
        if _dt.datetime.fromisoformat(h_ts) <= ts:
            best = max(best, int(h["version"]))
    if best < 0:
        raise ValueError(
            f"no version of {table} at or before {ts.isoformat()} "
            "(first commit is newer)"
        )
    return best


def history_df(spark: SparkSession, table: str) -> DataFrame:
    """DESCRIBE HISTORY as a DataFrame: version, operation, timestamp,
    txn app/batch (nulls where absent) — the audit surface operators
    page through."""
    rows = [
        (
            int(h["version"]), h["operation"], h.get("ts"),
            (h.get("txn") or {}).get("app"),
            (h.get("txn") or {}).get("batch"),
        )
        for h in history(table)
    ]
    return spark.createDataFrame(
        rows,
        "version long, operation string, ts string, "
        "txn_app string, txn_batch long",
    )


def last_txn_batch(table: str, app_id: str) -> int:
    """Highest streaming batch id committed for ``app_id`` (the Delta
    'txn' action's high-water mark), or -1. Drives idempotent
    foreachBatch sinks: a replayed micro-batch at or below this mark
    must be skipped, not re-appended."""
    best = -1
    for h in history(table):
        txn = h.get("txn")
        if txn and txn.get("app") == app_id:
            best = max(best, int(txn.get("batch", -1)))
    return best


# ------------------------------------------------------- stats harvesting

_STATS_SAFE = (int, float, str, bool)


def _json_safe(v):
    if isinstance(v, _STATS_SAFE) or v is None:
        return v
    if isinstance(v, (_dt.date, _dt.datetime)):
        return v.isoformat()  # ISO order == value order, lexicographic
    if isinstance(v, bytes):
        return None  # no portable total order worth persisting
    try:
        return float(v)  # Decimal and friends
    except (TypeError, ValueError):
        return None


def _file_stats(path: str, stat_cols: list[str], pf=None) -> dict:
    """Per-file min/max/null-count from the parquet footer (metadata-only
    read: no data pages are touched). Columns whose chunks lack stats
    get no entry — absence of stats means 'cannot skip', never 'skip'.
    ``pf`` reuses an already-open ParquetFile (opt r7: the harvest used
    to open each file's footer three times — rows, stats, bloom — which
    is three metadata GETs per file on an object store)."""
    import pyarrow.parquet as pq

    meta = (pf or pq.ParquetFile(path)).metadata
    names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
    out: dict[str, dict] = {}
    for col in stat_cols:
        i = names.get(col)
        if i is None:
            continue
        mn = mx = None
        nulls = 0
        ok = True
        nulls_ok = True
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(i).statistics
            if st is None:
                ok = nulls_ok = False
                break
            if st.null_count is None:
                nulls_ok = False
            else:
                nulls += st.null_count
            if not st.has_min_max:
                ok = False  # e.g. an all-null chunk: nulls still count
                continue
            lo, hi = _json_safe(st.min), _json_safe(st.max)
            if lo is None or hi is None:
                ok = False
                continue
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
        if ok and mn is not None:
            # 'nulls' only when EVERY row group reported a null_count:
            # a partial sum under-counts, and isnull pruning treats
            # nulls==0 as proof of absence — absence of the key means
            # 'cannot skip', an under-count means silent data loss
            out[col] = {"min": mn, "max": mx}
            if nulls_ok:
                out[col]["nulls"] = nulls
        elif nulls_ok:
            # no usable min/max (e.g. all-null column) — the null count
            # alone still powers isnull/notnull pruning
            out[col] = {"nulls": nulls}
    return out


# ------------------------------------------------- per-file bloom index

_BLOOM_MAX_KEYS = 50_000  # above this, skip the index (log-size hygiene)


def _bloom_key(value) -> str:
    """Canonical hash key: write-side column values and probe-side
    predicate literals must collide for SQL-equal values. Integral
    floats fold onto ints (``col = 1`` matches 1.0 in the engine, so
    the bloom must too — a "1" vs "1.0" split would be a silent FALSE
    NEGATIVE that prunes a matching file); bools are tagged apart from
    ints; everything else rides its _json_safe string form."""
    v = _json_safe(value)
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float) and v.is_integer():
        return f"i:{int(v)}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return f"f:{v!r}"
    return f"s:{v}"


def _bloom_hashes(value, m: int, k: int) -> list[int]:
    """k bit positions for a value: md5 double hashing over the
    canonical key."""
    import hashlib

    h = hashlib.md5(_bloom_key(value).encode("utf-8")).digest()
    h1 = int.from_bytes(h[:8], "little")
    h2 = int.from_bytes(h[8:], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _file_bloom(path: str, cols: list[str], fpp: float, pf=None) -> dict:
    """Per-column bloom bitsets over a written file's DISTINCT values —
    one columnar read of just ``cols`` (the write-time cost of a
    point-lookup index min/max stats cannot give on unclustered
    high-cardinality columns). Stored base64 in the add action;
    columns with > _BLOOM_MAX_KEYS distinct values get no entry
    (absence means 'cannot skip', never 'skip'). Production note: at
    thousands of files per commit the bitsets belong in a sidecar like
    the DVs; inline keeps the demo log self-contained."""
    import base64
    import math

    import pyarrow.parquet as pq

    avail = set((pf or pq.ParquetFile(path)).schema_arrow.names)
    out: dict[str, dict] = {}
    for col in cols:
        if col not in avail:
            continue
        values = [
            v for v in pq.read_table(path, columns=[col])
            .column(col).unique().to_pylist() if v is not None
        ]
        n = len(values)
        if n == 0 or n > _BLOOM_MAX_KEYS:
            continue
        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2)))
        bits = bytearray((m + 7) // 8)
        for v in values:
            for pos in _bloom_hashes(v, m, k):
                bits[pos >> 3] |= 1 << (pos & 7)
        out[col] = {
            "m": m, "k": k,
            "bits": base64.b64encode(bytes(bits)).decode("ascii"),
        }
    return out


def _bloom_may_contain(bloom: dict, value) -> bool:
    import base64

    bits = base64.b64decode(bloom["bits"])
    return all(
        bits[pos >> 3] & (1 << (pos & 7))
        for pos in _bloom_hashes(value, bloom["m"], bloom["k"])
    )


def _file_rows(path: str) -> int:
    """Row count from the parquet footer (metadata-only read)."""
    import pyarrow.parquet as pq

    return int(pq.ParquetFile(path).metadata.num_rows)


def table_stats(table: str, version: int | None = None) -> dict:
    """O(log) table statistics — no data scan: files, bytes, rows
    (add-action footer counts minus deletion-vector counts; files
    written before row harvesting report rows=None and are excluded
    from the exact row total, flagged via 'rows_exact')."""
    adds = live_files(table, version)
    rows = 0
    exact = True
    for a in adds:
        if a.get("rows") is None:
            exact = False
            continue
        rows += int(a["rows"]) - sum(
            d.get("count", 0) for d in (a.get("dv") or [])
        )
    return {
        "files": len(adds),
        "bytes": sum(a.get("bytes", 0) for a in adds),
        "rows": rows,
        "rows_exact": exact,
    }


# ------------------------------------------------------------ predicates

_OPS = ("<", "<=", ">", ">=", "=", "==", "!=", "isnull", "notnull")


def _kinds_compatible(val, stored) -> bool:
    """True when a predicate literal and a stored stat value are the
    same comparison kind (numeric-with-numeric, or same type, bools
    apart from ints). A mismatch means Spark would implicitly CAST at
    query time — our stats/bloom keys cannot model that, so skipping
    must stand down ('cannot skip', never 'skip')."""
    if isinstance(val, bool) != isinstance(stored, bool):
        return False
    if isinstance(val, (int, float)) and isinstance(stored, (int, float)):
        return True
    return type(val) is type(stored)


def _file_may_match(add: dict, predicate: list[tuple]) -> bool:
    """Conservative skip test: False only when the file's [min,max]
    PROVES no row can satisfy EVERY conjunct. Missing stats → True."""
    stats = add.get("stats") or {}
    blooms = add.get("bloom") or {}
    for col, op, val in predicate:
        if op == "isnull":
            s = stats.get(col)
            if s is not None and s.get("nulls", None) == 0:
                return False  # zero nulls in this file -> cannot match
            continue
        if op == "notnull":
            s = stats.get(col)
            rows = add.get("rows")
            if (s is not None and rows is not None
                    and s.get("nulls", None) == rows):
                return False  # every row null -> cannot match
            continue
        # bloom probe: an equality literal absent from the file's
        # bitset PROVES exclusion (FPs scan, FNs impossible) — but
        # ONLY when the literal's canonical kind matches the stored
        # column kind, witnessed by the zone-map min. A kind mismatch
        # (e.g. the string '42' probing an int column) is SQL-equal
        # after Spark's implicit cast yet hashes to a different
        # _bloom_key, which would falsely prune a matching file — and
        # delete_where's candidate pruning rides this same path, so a
        # false prune there is silent data loss, not just a perf miss.
        if op in ("=", "==") and col in blooms and val is not None:
            s = stats.get(col)
            probe = _json_safe(val)
            if (s is not None and "min" in s and probe is not None
                    and _kinds_compatible(probe, s["min"])):
                if not _bloom_may_contain(blooms[col], val):
                    return False
        s = stats.get(col)
        if s is None or "min" not in s:
            continue  # no zone map (possibly nulls-only entry)
        val = _json_safe(val)
        if val is None:
            continue
        mn, mx = s["min"], s["max"]
        # mixed-kind guard: only compare numeric-with-numeric or
        # same-type values; anything else → cannot skip
        if not _kinds_compatible(val, mn):
            continue
        if op in ("=", "=="):
            if val < mn or val > mx:
                return False
        elif op == "<":
            if mn >= val:
                return False
        elif op == "<=":
            if mn > val:
                return False
        elif op == ">":
            if mx <= val:
                return False
        elif op == ">=":
            if mx < val:
                return False
        # '!=' can only exclude a file where min==max==val
        elif op == "!=" and mn == mx == val:
            return False
    return True


def _single_value(add: dict, col: str):
    """(decided, value): the file's single value for ``col`` when the
    log PROVES single-valuedness — min==max with zero nulls, or
    all-null. Partitioned writes guarantee this for partition columns;
    anything else (missing stats, straddling range, mixed nulls) is
    undecidable."""
    rows = add.get("rows")
    s = (add.get("stats") or {}).get(col)
    if s is None or not rows:
        return False, None
    nulls = s.get("nulls")
    if "min" not in s:
        return nulls == rows, None  # all-null single "value"
    if nulls == 0 and s["min"] == s["max"]:
        return True, s["min"]
    return False, None


def _eval_single(value, op: str, lit) -> bool | None:
    """Evaluate one conjunct against a known single value with SQL
    semantics (NULL comparisons are not-matched). None = undecidable
    (kind mismatch → Spark's implicit cast would decide; fall back)."""
    if op == "isnull":
        return value is None
    if op == "notnull":
        return value is not None
    lit = _json_safe(lit)
    if value is None or lit is None:
        return False
    if not _kinds_compatible(lit, value):
        return None
    if op in ("=", "=="):
        return value == lit
    if op == "!=":
        return value != lit
    if op == "<":
        return value < lit
    if op == "<=":
        return value <= lit
    if op == ">":
        return value > lit
    if op == ">=":
        return value >= lit
    return None


def _metadata_match_split(
    table: str, adds: list[dict], predicate: list[tuple] | None
) -> tuple[list[dict], list[dict]]:
    """Per-file LOG-only classification against a partition-column
    predicate: ``(wholly_matching, undecidable)``. Files provably
    single-valued on every conjunct land in the first list (match) or
    in neither (non-match — they ride through untouched); files the log
    cannot decide land in the second (callers scan only those).

    The split is what makes DML correct AND cheap under PARTITION
    EVOLUTION (``set_partition_spec``): files written before the
    current spec usually carry no stats/partition values for the new
    spec columns, so they classify as undecidable and take the scan
    path, while current-era files still delete/backfill as pure
    metadata — a hybrid commit instead of losing the fast path for the
    whole table. A predicate touching any non-partition column sends
    everything to the scan path (no file-level match proof exists)."""
    pcols = set(table_partition_by(table) or ())
    if (
        not pcols
        or not predicate
        or any(col not in pcols for col, _op, _v in predicate)
    ):
        return [], list(adds)
    matched: list[dict] = []
    undecided: list[dict] = []
    for a in adds:
        verdict: bool | None = True
        for col, op, lit in predicate:
            decided, value = _single_value(a, col)
            r = _eval_single(value, op, lit) if decided else None
            if r is None:
                verdict = None
                break
            verdict = verdict and r
        if verdict is None:
            undecided.append(a)
        elif verdict:
            matched.append(a)
    return matched, undecided


def _predicate_to_expr(predicate: list[tuple]) -> str:
    parts = []
    for col, op, val in predicate:
        if op not in _OPS:
            raise ValueError(f"unsupported predicate op {op!r}")
        if op == "isnull":
            parts.append(f"(`{col}` IS NULL)")
            continue
        if op == "notnull":
            parts.append(f"(`{col}` IS NOT NULL)")
            continue
        op = "=" if op == "==" else op
        if isinstance(val, str):
            lit = "'" + val.replace("'", "''") + "'"
        elif isinstance(val, bool):
            lit = "true" if val else "false"
        else:
            lit = repr(val)
        parts.append(f"(`{col}` {op} {lit})")
    return " AND ".join(parts)


def plan_adds(
    table: str, version: int | None = None, predicate: list[tuple] | None = None
) -> tuple[list[dict], int]:
    """(selected add actions, total live count) after stats pruning —
    the scan-planning half of ``read_table``. Actions (not bare paths)
    so DV-aware readers can see attached deletion vectors."""
    adds = live_files(table, version)
    total = len(adds)
    if predicate:
        # stats/bloom are keyed by PHYSICAL names; predicates arrive
        # logical — translate through the at-version column mapping
        predicate = _cm_tuples(
            table_column_mapping(table, _resolve_version(table, version)),
            predicate,
        )
        adds = [a for a in adds if _file_may_match(a, predicate)]
    return adds, total


def plan_files(
    table: str, version: int | None = None, predicate: list[tuple] | None = None
) -> tuple[list[str], int]:
    """(selected file paths, total live count) after stats pruning —
    exposed so tests and tooling can assert how many files a predicate
    actually skips."""
    adds, total = plan_adds(table, version, predicate)
    return [os.path.join(table, a["path"]) for a in adds], total


# ------------------------------------------------------------- transactions


def _harvest_add(
    full: str, rel: str, stat_cols: list[str] | None,
    bloom_cols: list[str] | None, bloom_fpp: float,
) -> dict:
    """One file's ``add`` action: size + footer row count + min/max/
    null-count stats + optional bloom bitsets. Pure function of the
    file — safe to run on EXECUTORS (only os/pyarrow inside), which is
    where a large commit runs it."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(full)  # ONE footer open for rows+stats+bloom
    add = {
        "path": rel,
        "bytes": os.path.getsize(full),
        "rows": int(pf.metadata.num_rows),
    }
    if stat_cols:
        add["stats"] = _file_stats(full, stat_cols, pf=pf)
    if bloom_cols:
        bloom = _file_bloom(full, bloom_cols, bloom_fpp, pf=pf)
        if bloom:
            add["bloom"] = bloom
    return add


# commits up to this many files harvest stats on the driver (a handful
# of footer reads is cheaper than a Spark job); above it the harvest
# fans out across executors
_DRIVER_HARVEST_MAX = 16

# the size a rewriter packs its output files to: compaction bin-packs
# small files up to it, merge sizes its output from it
_TARGET_FILE_BYTES = 128 << 20


def _partition_values_from_rel(rel: str) -> dict:
    """Parse ``__p_<col>=<value>`` hive segments out of a log-relative
    file path. Values are the hive STRING encoding (display only —
    typed pruning rides the auto-harvested per-file stats);
    __HIVE_DEFAULT_PARTITION__ decodes to None."""
    from urllib.parse import unquote

    out = {}
    for seg in rel.split("/")[:-1]:
        if seg.startswith("__p_") and "=" in seg:
            k, _, v = seg.partition("=")
            v = unquote(v)
            out[k[len("__p_"):]] = (
                None if v == "__HIVE_DEFAULT_PARTITION__" else v
            )
    return out


def _write_data_files(
    df: DataFrame, table: str, version_hint: int, stat_cols: list[str] | None,
    cluster_by: list[str] | None, bloom_cols: list[str] | None = None,
    bloom_fpp: float = 0.01, partition_by: list[str] | None = None,
    partition_exprs: dict | None = None,
    column_mapping: dict | str | None = "inherit",
    target_files: int | None = None,
) -> list[dict]:
    """Write the data files for one commit into a commit-unique subdir
    (no filename collisions across commits, ever) and return their
    ``add`` actions with footer-harvested stats (and, for
    ``bloom_cols``, per-file bloom bitsets for point-lookup skipping
    on columns whose min/max ranges overlap across files).

    Stats harvesting is DISTRIBUTED above ``_DRIVER_HARVEST_MAX``
    files: a 100 TB initial load or a large OPTIMIZE lands O(10^4-10^5)
    files, and a driver-serial footer-read loop over an object store is
    tens of minutes of dead time — the harvest instead fans out as one
    Spark map over the file list (the same shape as Delta/Iceberg's
    task-commit stats). The collected result is O(files) small dicts —
    log metadata, bounded by design."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    token = uuid.uuid4().hex[:8]
    rel_dir = os.path.join("data", f"{version_hint:05d}-{token}")
    out_dir = os.path.join(table, rel_dir)
    # a partitioned table STAYS partitioned through every rewrite
    # (compact / merge / delete / update / replaceWhere all call this
    # writer), so the spec is inherited from the table when not given
    if partition_by is None:
        partition_by = table_partition_by(table)
    if partition_by:
        if partition_exprs is None:
            partition_exprs = table_partition_exprs(table) or {}
        # generated partition columns (the Delta generated-columns
        # pattern): a partition column with a recorded SQL expression
        # is ALWAYS recomputed by the engine — writers keep landing raw
        # frames while the table stays partitioned on the derived
        # dimension, and a mixed-era rewrite (compact after partition
        # evolution reads pre-spec files whose rows carry the column as
        # NULL through the schema union) re-derives instead of landing
        # the nulls in __HIVE_DEFAULT_PARTITION__. The derived column
        # is materialized in the data (same as Delta).
        for c in partition_by:
            if c in partition_exprs:
                df = df.withColumn(c, F.expr(partition_exprs[c]))
        missing = [c for c in partition_by if c not in df.columns]
        if missing:
            raise ValueError(
                f"partition columns absent from the frame: {missing}"
            )
        # partition columns auto-join the stats set: each file is
        # single-valued on them (min==max), which makes the ordinary
        # zone-map pruning EXACT on partition predicates and is what
        # the metadata-only DELETE/replaceWhere fast path keys on
        stat_cols = list(stat_cols or []) + [
            c for c in partition_by if c not in (stat_cols or [])
        ]
        # hive layout on DUPLICATED internal columns: the writer strips
        # its partitionBy columns from the files, so partitioning on
        # __p_<col> copies keeps the REAL columns in the data — readers
        # need no path-reconstruction, and every non-partition-aware
        # code path (DV anti-joins, merge lineage, stats) is unchanged.
        # A constant column per file costs ~bytes after RLE/dictionary.
        pdup = [f"__p_{c}" for c in partition_by]
        for c, d in zip(partition_by, pdup):
            df = df.withColumn(d, F.col(c))
    if cluster_by:
        # tight, non-overlapping zone maps per file → skipping actually
        # bites; explicit partition count so AQE can't coalesce the
        # range exchange into one giant file. ``target_files`` is the
        # preferred source of that count (opt r7, guide §1.2/§7.3): the
        # ``df.rdd.getNumPartitions()`` fallback FORCES execution of
        # every upstream query stage under AQE, so a caller-side
        # ``repartition(n)`` seed shuffle ran twice — once for the
        # count, once recomputed under the range exchange.
        n = target_files or df.rdd.getNumPartitions()
        df = df.repartitionByRange(n, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    elif target_files:
        # unclustered rewrites (compact, compact_where, merge without
        # stat_cols) size their output here too: one file per input
        # partition otherwise, whatever the caller's byte budget
        df = df.coalesce(target_files)
    # column mapping: everything above (partition derivation, dup
    # columns, clustering) ran on LOGICAL names; the file bytes and the
    # footer stats below carry PHYSICAL names (rename/drop never touch
    # data — see table_column_mapping)
    cm = (
        table_column_mapping(table)
        if column_mapping == "inherit" else column_mapping
    )
    if _cm_active(cm):
        df = _to_physical_df(df, cm)
        if stat_cols:
            stat_cols = [_cm_phys(cm, c) for c in stat_cols]
        if bloom_cols:
            bloom_cols = [_cm_phys(cm, c) for c in bloom_cols]
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*pdup)
    w.parquet(out_dir)
    files = sorted(
        (os.path.join(dirpath, name),
         os.path.relpath(os.path.join(dirpath, name), table))
        for dirpath, _dirs, names in os.walk(out_dir)
        for name in names
        if name.endswith(".parquet")
    )
    if len(files) <= _DRIVER_HARVEST_MAX:
        adds = [
            _harvest_add(full, rel, stat_cols, bloom_cols, bloom_fpp)
            for full, rel in files
        ]
    else:
        sc = spark.sparkContext
        n_slices = min(len(files), sc.defaultParallelism * 4)
        adds = (
            sc.parallelize(files, n_slices)
            .map(lambda t: _harvest_add(
                t[0], t[1], stat_cols, bloom_cols, bloom_fpp
            ))
            .collect()
        )
        adds.sort(key=lambda a: a["path"])
    if partition_by:
        for a in adds:
            a["partition"] = _partition_values_from_rel(a["path"])
    # never publish 0-row shards (a sparsely-partitioned frame writes
    # empty part files): they pollute the live set and every scan plan.
    # Same behavior as Delta's writer — empty tasks commit nothing.
    kept = []
    for a in adds:
        if a["rows"]:
            kept.append(a)
        else:
            try:
                os.unlink(os.path.join(table, a["path"]))
            except OSError:
                pass
    return kept


def _maybe_checkpoint(table: str, version: int, every: int) -> None:
    if every and version > 0 and version % every == 0:
        snap = _snapshot(table, version)
        data = json.dumps(
            {
                "version": version,
                "schema": snap["schema"],
                "partition_by": snap["partition_by"],
                "partition_exprs": snap["partition_exprs"],
                "column_mapping": snap["column_mapping"],
                "protocol": snap["protocol"],
                "type_widening": snap["type_widening"],
                "constraints": snap["constraints"],
                "copy_sources": snap["copy_sources"],
                "adds": sorted(snap["adds"].values(), key=lambda a: a["path"]),
            },
        ).encode("utf-8")
        # checkpoints are derived (re-derivable) data: overwrite-allowed
        _LOG_STORE.write_atomic(_checkpoint_path(table, version), data)


# a commit that loses the put-if-absent race this many times in a row
# gives up: a LogStore whose listing lags its put-if-absent would
# otherwise retry the same version forever
_MAX_COMMIT_ATTEMPTS = 100


def _commit_attempts(table: str, operation: str):
    """Attempt counter for a publish loop: yields up to
    ``_MAX_COMMIT_ATTEMPTS`` times, then raises ConcurrentWriteError."""
    yield from range(_MAX_COMMIT_ATTEMPTS)
    raise ConcurrentWriteError(
        f"{operation} on {table}: lost the commit race "
        f"{_MAX_COMMIT_ATTEMPTS} times in a row — giving up"
    )


def _commit_retry(
    table: str, operation: str, adds: list[dict], removes: list[str],
    schema: str, base_version: int, checkpoint_every: int,
    txn: tuple[str, int] | None = None,
    require_unchanged: dict | None = None,
    expect_head: int | None = None,
    partition_by: list[str] | None = None,
    partition_exprs: dict | None = None,
    column_mapping: dict | None = None,
    protocol: dict | None = None,
    type_widening: dict | None = None,
    copy_into: list[str] | None = None,
) -> int:
    """Publish adds/removes, retrying version collisions. Appends
    (no removes) are always safe to replay at a later version; a
    remove-bearing commit re-validates its remove set is still live.
    ``require_unchanged`` maps path → the add action this commit's
    replacement was DERIVED from: a deletion-vector commit re-ADDS a
    live file's action with a fatter DV, and must neither resurrect a
    file a concurrent compact/overwrite removed NOR clobber a
    concurrent DV that consolidated from the same base (two racing
    deletes would silently lose one another's positions — the classic
    lost-update; the loser must raise and re-derive instead).
    A ``txn=(app_id, batch_id)`` commit is idempotent: if a commit with
    the same txn already landed (a concurrent retry of the same
    micro-batch won the race), this one is dropped and the winner's
    version returned."""
    version = table_version(table) + 1
    # writer fence: an unknown writer feature refuses to commit (the
    # table stays readable). One snapshot read, checkpoint-bounded.
    if version > 0:
        _check_writer(_snapshot(table, version - 1)["protocol"], table)
    for _attempt in _commit_attempts(table, operation):
        if expect_head is not None and version - 1 != expect_head:
            # a whole-table-state commit (restore) is only meaningful
            # against the exact head it was computed from
            raise ConcurrentWriteError(
                f"{operation} on {table}: head moved {expect_head} -> "
                f"{version - 1}; recompute against the current snapshot"
            )
        if txn is not None and last_txn_batch(table, txn[0]) >= txn[1]:
            return table_version(table)  # duplicate micro-batch replay
        # spec-revert fence: a write that resolved its partition spec
        # BEFORE a concurrent set_partition_spec landed must not replay
        # its (now stale) spec into the header — that would silently
        # undo the evolution. Only the evolution commit itself may
        # change a non-None spec; everyone else loses loudly.
        if (
            partition_by is not None
            and operation != "set partition spec"
            and version > 0
        ):
            prev = _snapshot(table, version - 1)
            cur_pby, cur_pex = prev["partition_by"], prev["partition_exprs"]
            # exprs compare only when this commit asserts them (the
            # streaming sink carries partition_by alone and inherits
            # exprs via header carry-forward)
            if (cur_pby is not None and list(cur_pby) != list(partition_by)) \
               or (partition_exprs is not None and cur_pex is not None
                   and dict(cur_pex) != dict(partition_exprs)):
                raise ConcurrentWriteError(
                    f"{operation} on {table}: partition spec changed "
                    f"({list(partition_by)} -> {cur_pby}) since this write "
                    "was planned — re-plan against the current spec"
                )
        if removes or require_unchanged:
            adds_now = (
                _snapshot(table, version - 1)["adds"] if version else {}
            )
            if not set(removes) <= set(adds_now):
                raise ConcurrentWriteError(
                    f"{operation} on {table}: files to remove are no "
                    f"longer live (table moved past version {base_version})"
                )
            for path, expected in (require_unchanged or {}).items():
                if adds_now.get(path) != expected:
                    raise ConcurrentWriteError(
                        f"{operation} on {table}: {path} changed or was "
                        f"removed since version {base_version} — re-derive "
                        "against the current snapshot"
                    )
        header = {"version": version, "operation": operation,
                  "schema": schema,
                  "ts": _dt.datetime.now(_dt.timezone.utc).isoformat()}
        if partition_by is not None:
            header["partition_by"] = list(partition_by)
        if partition_exprs is not None:
            header["partition_exprs"] = dict(partition_exprs)
        if column_mapping is not None:
            header["column_mapping"] = {
                "map": dict(column_mapping.get("map") or {}),
                "retired": list(column_mapping.get("retired") or []),
            }
        if protocol is not None:
            header["protocol"] = dict(protocol)
        if type_widening is not None:
            header["type_widening"] = dict(type_widening)
        if copy_into is not None:
            header["copy_into"] = list(copy_into)
        if txn is not None:
            header["txn"] = {"app": txn[0], "batch": int(txn[1])}
        actions = [{"commit": header}]
        actions += [{"add": a} for a in adds]
        actions += [{"remove": {"path": p}} for p in removes]
        try:
            _publish(table, version, actions)
        except FileExistsError:
            version = table_version(table) + 1  # lost the race; retry
            continue
        _maybe_checkpoint(table, version, checkpoint_every)
        return version


def _rewrite_commit(
    spark: SparkSession, table: str, operation: str, base: int,
    frames: list[DataFrame], replaced: list[dict], schema: str,
    checkpoint_every: int, stat_cols: list[str] | None = None,
    cluster_by: list[str] | None = None, target_files: int | None = None,
    dropped: tuple | list = (), check: bool = False,
    txn: tuple[str, int] | None = None,
) -> int:
    """The one commit every rewriter (DML, compaction, purge) ends in:
    write ``frames`` as this commit's files, validate CHECK constraints
    when ``check`` (the caller writes new values), and publish a commit
    that removes ``dropped`` paths plus every ``replaced`` add action.
    The ``replaced`` actions are what the written rows were DERIVED
    from, so each must still be live and unchanged at publish time — a
    concurrent DV-delete re-adding one with a fatter vector would
    otherwise have its tombstones resurrected (the lost update).
    ``dropped`` files are removed whole, which is safe against such a
    race: all their rows go either way."""
    adds: list[dict] = []
    for df in frames:
        adds += _write_data_files(df, table, base + 1, stat_cols, cluster_by,
                                  target_files=target_files)
    if check:
        _validate_constraints(spark, table, adds)
    return _commit_retry(
        table, operation, adds, [*dropped, *(a["path"] for a in replaced)],
        schema, base, checkpoint_every, txn=txn,
        require_unchanged={a["path"]: a for a in replaced},
    )


def _evolve_column_mapping(table: str, df: DataFrame, hint: int):
    """Schema evolution under column mapping: an incoming column whose
    logical name collides with a RETIRED physical (a previously-dropped
    column) or another column's mapped physical gets a FRESH physical
    name — otherwise mergeSchema would resurrect the dropped column's
    old bytes under the new name. Returns (mapping-for-write,
    mapping-for-header-or-None-if-unchanged)."""
    cm = table_column_mapping(table)
    cm = {"map": dict((cm or {}).get("map") or {}),
          "retired": list((cm or {}).get("retired") or [])}
    taken = set(cm["retired"]) | set(cm["map"].values())
    changed = False
    for c in df.columns:
        if c in cm["map"] or c not in taken:
            continue
        phys = f"{c}__r{hint}"
        while phys in taken:
            phys += "x"
        cm["map"][c] = phys
        taken.add(phys)
        changed = True
    active = cm if (cm["map"] or cm["retired"]) else None
    return active, (cm if changed else None)


def append(
    df: DataFrame, table: str, stat_cols: list[str] | None = None,
    cluster_by: list[str] | None = None, checkpoint_every: int = 10,
    txn: tuple[str, int] | None = None,
    bloom_cols: list[str] | None = None, bloom_fpp: float = 0.01,
    partition_by: list[str] | None = None,
    partition_exprs: dict | None = None,
    target_files: int | None = None,
) -> int:
    """Atomically append ``df`` as a new version; returns the version.
    ``txn=(app_id, batch_id)`` makes the append idempotent for
    streaming foreachBatch replays (see ``last_txn_batch``).
    ``bloom_cols`` attaches per-file bloom indexes for equality-literal
    file skipping on unclustered high-cardinality columns.

    ``partition_by`` (first commit, or after ``set_partition_spec``
    evolved the spec) lays the table out hive-style with every data file
    single-valued on the partition columns and per-file partition
    values in the log: predicates on partition columns then prune
    files from the LOG alone, and a partition-scoped DELETE /
    replaceWhere is a pure metadata commit — zero data scanned or
    moved (see ``delete_where``). Later appends inherit the spec.
    ``partition_exprs`` ({col: SQL expr}) declares GENERATED partition
    columns: a frame lacking such a column derives it at write time
    (Delta's generated-columns partitioning)."""
    base = table_version(table)
    pby = _resolve_partition_by(table, partition_by)
    pex = _resolve_partition_exprs(table, partition_exprs)
    if txn is not None and last_txn_batch(table, txn[0]) >= txn[1]:
        return table_version(table)  # replayed micro-batch: no-op
    df = _derive_generated_cols(df, pby, pex)
    cm_w, cm_hdr = _evolve_column_mapping(table, df, base + 1)
    adds = _write_data_files(df, table, base + 1, stat_cols, cluster_by,
                             bloom_cols, bloom_fpp, partition_by=pby,
                             partition_exprs=pex, column_mapping=cm_w,
                             target_files=target_files)
    _validate_constraints(df.sparkSession, table, adds)
    snap_prev = _snapshot(table, base) if base >= 0 else None
    decl = _union_decl_schema(
        snap_prev["schema"] if snap_prev else None, df.schema,
    )
    # an append that WIDENS a column's type implicitly (long frame into
    # an int column) is a widening like any other: record it, so every
    # reader (explicit-schema JVM scan AND the Arrow DataSource casts)
    # reconciles the narrow-era files
    tw_hdr = _implicit_widenings(snap_prev, decl, cm_w)
    return _commit_retry(
        table, "append", adds, [], decl, base,
        checkpoint_every, txn=txn, partition_by=pby, partition_exprs=pex,
        column_mapping=cm_hdr, type_widening=tw_hdr,
        # a mapping/widening-extending append must not replay past a
        # concurrent schema commit (it would clobber the newer state);
        # plain appends keep their always-replayable property
        expect_head=(
            base if (cm_hdr is not None or tw_hdr is not None) else None
        ),
    )


def _derive_generated_cols(df: DataFrame, pby, pex) -> DataFrame:
    """Derive GENERATED partition columns onto the incoming frame
    before schema/mapping resolution: generated columns are part of the
    table's declared schema (the Delta generated-columns model), and
    the log's schema is the read authority (_physical_read_schema) —
    a derived column that lived only in file bytes would be invisible
    to explicit-schema reads. Engine-recomputed even when present
    (user-supplied values are never trusted); _write_data_files
    re-derives identically at write time (idempotent)."""
    from pyspark.sql import functions as F

    for c in pby or []:
        if pex and c in pex:
            df = df.withColumn(c, F.expr(pex[c]))
    return df


def _resolve_partition_by(
    table: str, requested: list[str] | None
) -> list[str] | None:
    """Inherit-or-validate the partition spec: every write inherits the
    table's CURRENT spec; asking for a DIFFERENT spec on a write raises
    (the spec changes only through the explicit evolution commit)."""
    existing = table_partition_by(table)
    if requested is None:
        return existing
    if existing is not None and list(requested) != list(existing):
        raise ValueError(
            f"table is partitioned by {existing}; cannot write with "
            f"partition_by={list(requested)} — evolve the spec first "
            "with set_partition_spec()"
        )
    return list(requested)


def _resolve_partition_exprs(
    table: str, requested: dict | None
) -> dict | None:
    """Same inherit-or-validate contract for generated-partition-column
    expressions (immutable alongside the spec — two writers deriving
    the same column differently would corrupt pruning)."""
    existing = table_partition_exprs(table)
    if requested is None:
        return existing
    if existing is not None and dict(requested) != dict(existing):
        raise ValueError(
            f"table's generated partition expressions are {existing}; "
            f"cannot write with {dict(requested)} (immutable)"
        )
    return dict(requested)


def overwrite(
    df: DataFrame, table: str, stat_cols: list[str] | None = None,
    cluster_by: list[str] | None = None, checkpoint_every: int = 10,
    partition_by: list[str] | None = None,
    partition_exprs: dict | None = None,
) -> int:
    """Atomically replace the table's contents. Old versions still read
    the old files (snapshot isolation); raises ConcurrentWriteError if
    the live set changed between snapshot and publish."""
    base = table_version(table)
    pby = _resolve_partition_by(table, partition_by)
    pex = _resolve_partition_exprs(table, partition_exprs)
    removes = [a["path"] for a in live_files(table)] if base >= 0 else []
    df = _derive_generated_cols(df, pby, pex)
    cm_w, cm_hdr = _evolve_column_mapping(table, df, base + 1)
    adds = _write_data_files(df, table, base + 1, stat_cols, cluster_by,
                             partition_by=pby, partition_exprs=pex,
                             column_mapping=cm_w)
    _validate_constraints(df.sparkSession, table, adds)
    return _commit_retry(
        table, "overwrite", adds, removes, df.schema.json(), base,
        checkpoint_every, partition_by=pby, partition_exprs=pex,
        column_mapping=cm_hdr,
        expect_head=base if cm_hdr is not None else None,
    )


def copy_into(
    spark: SparkSession, table: str, source: str,
    file_format: str = "parquet", options: dict | None = None,
    stat_cols: list[str] | None = None, checkpoint_every: int = 10,
) -> dict:
    """COPY INTO — Delta's idempotent bulk-file ingestion: load the
    files matching the ``source`` glob into the table EXACTLY ONCE.
    Every loaded file's absolute path is recorded in the commit
    (``copy_into`` header, accumulated through checkpoints), so
    re-running the same statement after a partial failure, or on a
    GROWING landing directory, ingests only the not-yet-loaded files —
    the at-scale ingestion loop (`landing/ -> COPY INTO -> table`)
    needs no external bookkeeping. ``file_format`` is any Spark
    DataFrameReader format (parquet/json/csv/orc); ``options`` pass
    through to the reader.

    Concurrency: the commit is pinned to the head it computed its
    skip-set against (``expect_head``) — two racing COPY INTOs of the
    same files cannot double-load; the loser raises and a re-run
    recomputes the skip-set (loading nothing if the winner covered it).
    Returns {"version", "files_loaded", "files_skipped", "rows_loaded"}.
    """
    import glob as _glob

    base = table_version(table)
    already = (
        set(_snapshot(table, base)["copy_sources"]) if base >= 0 else set()
    )
    files = sorted(
        os.path.abspath(f)
        for f in _glob.glob(source, recursive=True)
        if os.path.isfile(f)
    )
    if not files:
        raise FileNotFoundError(f"COPY INTO: no files match {source!r}")
    new = [f for f in files if f not in already]
    if not new:
        return {"version": base, "files_loaded": 0,
                "files_skipped": len(files), "rows_loaded": 0}
    reader = spark.read
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.format(file_format).load(new)
    pby = _resolve_partition_by(table, None)
    pex = _resolve_partition_exprs(table, None)
    df = _derive_generated_cols(df, pby, pex)
    cm_w, cm_hdr = _evolve_column_mapping(table, df, base + 1)
    adds = _write_data_files(df, table, base + 1, stat_cols, None,
                             partition_by=pby, partition_exprs=pex,
                             column_mapping=cm_w)
    _validate_constraints(spark, table, adds)
    snap_prev = _snapshot(table, base) if base >= 0 else None
    decl = _union_decl_schema(
        snap_prev["schema"] if snap_prev else None, df.schema
    )
    tw_hdr = _implicit_widenings(snap_prev, decl, cm_w)
    version = _commit_retry(
        table, "copy_into", adds, [], decl, base, checkpoint_every,
        partition_by=pby, partition_exprs=pex, column_mapping=cm_hdr,
        type_widening=tw_hdr, copy_into=new, expect_head=base,
    )
    return {"version": version, "files_loaded": len(new),
            "files_skipped": len(files) - len(new),
            "rows_loaded": int(sum(a["rows"] for a in adds))}


def compact(
    spark: SparkSession, table: str, num_files: int = 1,
    stat_cols: list[str] | None = None, cluster_by: list[str] | None = None,
    checkpoint_every: int = 10,
) -> int:
    """OPTIMIZE: rewrite the live set into ``num_files`` files in one
    atomic remove+add commit. Pure metadata swap for readers — any
    version's result set is unchanged."""
    base = table_version(table)
    current = live_files(table)
    # DV-aware: compacting a table with outstanding deletion vectors
    # must materialize the deletes, never resurrect the deleted rows
    df = _read_adds(spark, table, current)
    # OPTIMIZE is the migration op for a spec evolved to GENERATED
    # columns: derive them here so the committed declared schema —
    # the read authority — gains the column even when no append ran
    # between the evolution and this rewrite
    df = _derive_generated_cols(
        df, table_partition_by(table), table_partition_exprs(table)
    )
    # the writer sizes the output: a range exchange into num_files
    # when clustered, a coalesce(num_files) otherwise
    return _rewrite_commit(
        spark, table, "compact", base, [df], current, df.schema.json(),
        checkpoint_every, stat_cols, cluster_by, target_files=num_files,
    )


def set_partition_spec(
    table: str, partition_by: list[str],
    partition_exprs: dict | None = None, checkpoint_every: int = 10,
) -> int:
    """ALTER TABLE ... SET PARTITION SPEC — Iceberg-style PARTITION
    EVOLUTION as a pure metadata commit (zero data scanned or moved).

    The current spec changes for writes FROM NOW ON; existing files
    keep their layout and their per-file partition values. This works
    because the format never derives partition values from paths at
    read time: pruning and the metadata-DML fast path consume PER-FILE
    evidence (partition values + single-valued stats recorded at write
    time), so a table whose files span several spec eras stays exactly
    readable, and partition-predicate DML turns HYBRID — current-era
    files classify from the log, pre-spec files fall back to the
    scan path (see ``_metadata_match_split``). ``compact``/``optimize``
    rewrites migrate old files into the current spec (the Iceberg
    ``rewrite_data_files`` migration story); ``show_partitions``
    reports pre-spec files under null partition values until then.

    ``partition_by=[]`` evolves the table to unpartitioned. Columns
    must exist in the declared schema or be derivable via
    ``partition_exprs``; a column renamed under column mapping cannot
    become a partition column (partition specs bind physical=logical —
    same restriction that stops renaming a current partition column).
    Concurrency: the commit is pinned to the head it validated against
    (``expect_head``), so a racing writer loses loudly, never silently.
    """
    base = table_version(table)
    if base < 0:
        raise FileNotFoundError(f"no such table: {table}")
    snap = _snapshot(table, base)
    pex = dict(partition_exprs or {})
    fields = (
        {f["name"] for f in json.loads(snap["schema"])["fields"]}
        if snap["schema"] else set()
    )
    cm = (snap["column_mapping"] or {}).get("map") or {}
    for c in partition_by:
        if c not in fields and c not in pex:
            raise KeyError(
                f"set_partition_spec {table}: no such column {c!r} "
                "(declare a generated expression via partition_exprs "
                "to partition on a derived dimension)"
            )
        if cm.get(c, c) != c:
            raise ValueError(
                f"set_partition_spec {table}: {c!r} was renamed under "
                "column mapping (logical != physical) — partition specs "
                "bind physical names; rewrite into a new table instead"
            )
    for c, e in pex.items():
        if c not in partition_by:
            raise ValueError(
                f"set_partition_spec {table}: partition_exprs declares "
                f"{c!r} which is not in partition_by"
            )
        for ref in fields:
            if cm.get(ref, ref) != ref and _expr_references(e, ref):
                raise ValueError(
                    f"set_partition_spec {table}: expression for {c!r} "
                    f"references renamed column {ref!r}"
                )
    return _commit_retry(
        table, "set partition spec", [], [], snap["schema"], base,
        checkpoint_every, partition_by=list(partition_by),
        partition_exprs=pex, expect_head=base,
    )


def show_partitions(spark: SparkSession, table: str,
                    version: int | None = None) -> DataFrame:
    """SHOW PARTITIONS from the LOG alone (zero data I/O): one row per
    live partition-value combination with file/row/byte counts — the
    operational view a 100 TB table is managed by. Values are the hive
    string encoding (NULL partition → null)."""
    pby = table_partition_by(table, version)
    if not pby:
        raise ValueError(f"table is not partitioned: {table}")
    agg: dict = {}
    for a in live_files(table, version):
        key = tuple((a.get("partition") or {}).get(c) for c in pby)
        n_files, n_rows, n_bytes = agg.get(key, (0, 0, 0))
        agg[key] = (n_files + 1, n_rows + int(a.get("rows") or 0),
                    n_bytes + int(a.get("bytes") or 0))
    rows = [
        (*key, nf, nr, nb) for key, (nf, nr, nb) in sorted(
            agg.items(), key=lambda kv: tuple(str(k) for k in kv[0])
        )
    ]
    schema = ", ".join(f"`{c}` string" for c in pby) + \
        ", n_files long, n_rows long, n_bytes long"
    return spark.createDataFrame(rows, schema)


def compact_where(
    spark: SparkSession, table: str, predicate: list[tuple],
    target_bytes: int = _TARGET_FILE_BYTES, stat_cols: list[str] | None = None,
    checkpoint_every: int = 10,
) -> dict:
    """OPTIMIZE ... WHERE: bin-pack ONLY the files matching a partition
    (or stats-decidable) predicate — the maintenance form for tables
    where streaming lands many small files into the ACTIVE partition
    while cold partitions are already well-packed. Candidate selection
    is log-only; files at or above ``target_bytes`` ride through
    untouched. Same atomicity/conflict rules as compact (rewrites
    require their derived-from actions unchanged)."""
    base = table_version(table)
    live = live_files(table)
    predicate = _cm_tuples(table_column_mapping(table), predicate)
    matched, undecided = _metadata_match_split(table, live, predicate)
    # hybrid scope: log-proven matches plus a conservative stats prune
    # of whatever the log cannot decide (pre-evolution files, non-
    # partition predicates)
    in_scope = matched + [a for a in undecided if _file_may_match(a, predicate)]
    small = [a for a in in_scope if a.get("bytes", 0) < target_bytes]
    if len(small) < 2:
        return {"version": base, "files_compacted": 0,
                "files_total": len(live)}
    total = sum(a.get("bytes", 0) for a in small)
    n_out = max(1, -(-total // target_bytes))  # ceil
    df = _read_adds(spark, table, small)
    version = _rewrite_commit(
        spark, table, "compact", base, [df], small, df.schema.json(),
        checkpoint_every, stat_cols, target_files=n_out,
    )
    return {"version": version, "files_compacted": len(small),
            "files_total": len(live)}


def compact_small_files(
    spark: SparkSession, table: str, target_bytes: int = _TARGET_FILE_BYTES,
    stat_cols: list[str] | None = None, checkpoint_every: int = 10,
) -> dict:
    """Size-tiered OPTIMIZE (the Delta bin-packing semantic): rewrite
    ONLY files smaller than ``target_bytes`` — the streaming-ingestion
    small-file problem's fix — into ~target-sized files; well-sized
    files ride through untouched as pure metadata, so the rewrite cost
    is proportional to the small-file fraction, not the table. A lone
    undersized file (or a DV-free singleton) is left alone: rewriting
    one file into one file is pure churn. DV-carrying small files
    materialize their deletes on the way through. This is
    ``compact_where`` with an empty (match-all) predicate."""
    return compact_where(spark, table, [], target_bytes=target_bytes,
                         stat_cols=stat_cols,
                         checkpoint_every=checkpoint_every)


def maintain(
    spark: SparkSession, table: str,
    target_bytes: int = _TARGET_FILE_BYTES,
    min_small_files: int = 4,
    max_dv_fraction: float = 0.2,
    keep_versions: int = 5,
    checkpoint_every: int = 10,
    stat_cols: list[str] | None = None,
) -> dict:
    """One-call table maintenance — the nightly job a production
    lakehouse table runs, with the standard trigger policies:

    - **bin-pack** when at least ``min_small_files`` live files sit
      under ``target_bytes`` (compact_small_files);
    - **REORG PURGE** when deletion vectors tombstone more than
      ``max_dv_fraction`` of the DV-carrying files' rows (merge-on-read
      reads pay the anti-join until then — purging too eagerly wastes
      rewrites, too lazily taxes every scan);
    - **vacuum** files beyond the ``keep_versions`` time-travel horizon.

    Each step is its own atomic commit (a concurrent writer can
    interleave; conflicts surface as ConcurrentWriteError from the
    individual step, never partial corruption). Returns a summary of
    what fired."""
    out: dict = {"compacted": 0, "purged": 0, "vacuumed": 0}
    live = live_files(table)
    small = [a for a in live if a.get("bytes", 0) < target_bytes]
    if len(small) >= min_small_files:
        res = compact_small_files(
            spark, table, target_bytes=target_bytes, stat_cols=stat_cols,
            checkpoint_every=checkpoint_every,
        )
        out["compacted"] = res.get("files_compacted", 0)
        live = live_files(table)
    dvd = [a for a in live if a.get("dv")]
    dv_rows = sum(d.get("count", 0) for d in _dv_entries(dvd))
    phys_rows = sum(int(a.get("rows") or 0) for a in dvd)
    if dvd and phys_rows and dv_rows / phys_rows > max_dv_fraction:
        res = purge_dv(spark, table, stat_cols=stat_cols,
                       checkpoint_every=checkpoint_every)
        out["purged"] = res.get("files_purged", 0)
    out["vacuumed"] = len(vacuum(table, keep_versions=keep_versions))
    return out


def vacuum(table: str, keep_versions: int = 1) -> list[str]:
    """Delete data files not referenced by any of the newest
    ``keep_versions`` versions; returns the deleted relative paths.
    Time travel past the horizon then raises on read (file gone), which
    is the documented Delta behavior class."""
    latest = table_version(table)
    if latest < 0:
        return []
    keep = set()
    keep_dv = set()
    for v in range(max(0, latest - keep_versions + 1), latest + 1):
        snap_adds = _snapshot(table, v)["adds"]
        keep.update(snap_adds)
        keep_dv.update(d["path"] for d in _dv_entries(snap_adds.values()))
    deleted = []
    data_root = os.path.join(table, "data")
    if os.path.isdir(data_root):
        # recursive: partitioned commits nest __p_<col>=<value> dirs
        # between the commit dir and the part files
        for dirpath, _dirs, names in sorted(os.walk(data_root)):
            for name in sorted(names):
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, table)
                if name.endswith(".parquet") and rel not in keep:
                    os.unlink(full)
                    deleted.append(rel)
        # prune emptied commit/partition dirs bottom-up (re-listing at
        # visit time — the walk snapshot predates the child deletions)
        for dirpath, _dirs, _names in os.walk(data_root, topdown=False):
            if dirpath != data_root and not os.listdir(dirpath):
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
    # DV sidecars: a sidecar DIRECTORY is referenced as a unit by add
    # actions; drop the ones no kept version references
    dv_root = os.path.join(table, _DV_DIR)
    if os.path.isdir(dv_root):
        for sub in sorted(os.listdir(dv_root)):
            rel = os.path.join(_DV_DIR, sub)
            if rel not in keep_dv:
                shutil.rmtree(os.path.join(dv_root, sub))
                deleted.append(rel)
    return deleted


# ------------------------------------------------------------------ read


# a file URI → the log's table-relative add path ("data/<commit>/<part>")
# log-relative data-file path inside an absolute _metadata.file_path.
# Anchored on the commit-dir token (%05d-%8hex) so a "data" segment in
# the table's own path can never produce a false leftmost match, and
# open-ended in depth: partitioned commits nest __p_<col>=<value>
# directories between the commit dir and the part file.
_REL_FILE_RE = r"data/\d{5,}-[0-9a-f]{8}(?:/[^/]+)*/[^/]+$"


def _log_rel(path: str) -> str:
    """The lineage-matching key of a log path: a CLONED add references
    its source file by ABSOLUTE path, and scan-collected lineage values
    carry the full ``scheme:/...`` scan path — but DV sidecar keys and
    the log always match on the ``data/<commit>/...`` tail. Reduce any
    absolute path or scan URI to that tail so DV anti-joins and touch
    detection match on clones exactly as on the source."""
    if path.startswith("data/"):
        return path
    m = _re.search(_REL_FILE_RE, path)
    return m.group(0) if m else path


def _qualified_root(spark: SparkSession, table: str) -> str:
    """The table root exactly as Spark's ``_metadata.file_path`` will
    print it (Hadoop ``Path.toString`` of the FS-qualified path, e.g.
    ``file:/tmp/tbl``) — one py4j call per operation."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(table)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.makeQualified(p).toString()


def _scan_path_pairs(
    spark: SparkSession, table: str, adds: list[dict]
) -> list[tuple[str, str]]:
    """(rel-tail lineage key, qualified scan path) per add — the
    O(files) metadata-sized translation table that lets every per-row
    lineage join/selection key on the RAW ``_metadata.file_path``
    column. The old shape ran ``regexp_extract`` over the path string
    for EVERY data row (measured ~1s per million rows inside DV scans,
    merge/update touch detection and merge-on-read reads); translating
    the handful of file names on the metadata side instead moves that
    cost from O(rows) to O(files)."""
    root = _qualified_root(spark, table)
    scheme = root.split(":", 1)[0]
    out = []
    for a in adds:
        p = a["path"]
        absq = f"{scheme}:{p}" if os.path.isabs(p) else f"{root}/{p}"
        out.append((_log_rel(p), absq))
    return out


# path-translation map literals stay under this many entries; bigger
# commits fall back to a broadcast join (a literal map that size would
# bloat the plan and the task closure)
_PATH_MAP_LITERAL_MAX = 1000


def _path_map_col(pairs: list[tuple[str, str]], key_col):
    """Literal-map lookup translating a path column through O(files)
    (key, value) pairs — zero extra Spark jobs, unlike a broadcast
    join (one broadcast-build job per read). Unmatched keys yield
    NULL; callers filter or rely on join/anti-join null semantics."""
    from pyspark.sql import functions as F

    return F.element_at(
        F.create_map(*[F.lit(x) for k, v in pairs for x in (k, v)]),
        key_col,
    )

# below this many total deleted positions the DV anti-join broadcasts
# (positions are 2 small columns; 4M rows ≈ tens of MB)
_DV_BROADCAST_MAX = 4_000_000


def _dv_entries(adds: list[dict]) -> list[dict]:
    return [d for a in adds for d in (a.get("dv") or [])]


def _read_dv_positions(spark: SparkSession, table: str, adds: list[dict]):
    """The (file, pos) deleted-position set referenced by ``adds``'
    deletion vectors, or None. Sidecars are deduped (a consolidated
    sidecar can be shared by many files in one delete commit); extra
    rows for files outside this read are harmless — the anti-join is
    keyed by the relative file path."""
    sidecars = sorted({d["path"] for d in _dv_entries(adds)})
    if not sidecars:
        return None
    # fixed sidecar schema (written by delete_where below): explicit so
    # the read never pays a footer-inference job
    return spark.read.schema("file string, pos bigint").parquet(
        *[os.path.join(table, p) for p in sidecars]
    )


def _read_adds(
    spark: SparkSession, table: str, adds: list[dict],
    lineage: bool = False,
    column_mapping: dict | str | None = "inherit",
    read_schema="auto",
) -> DataFrame | None:
    """DV-aware read of a set of add actions: files without deletion
    vectors scan plain; files with DVs scan with ``_metadata.row_index``
    lineage and anti-join their deleted positions out (broadcast when
    the total deleted count is small, shuffle anti-join otherwise).
    ``lineage=True`` keeps ``__dl_file`` (the RAW scan path; reduce
    collected values with _log_rel for log matching) on the
    output — used by merge's touch detection."""
    from pyspark.sql import functions as F

    if not adds:
        return None
    plain = [a for a in adds if not a.get("dv")]
    dvd = [a for a in adds if a.get("dv")]
    if read_schema == "auto":
        # schema from the LOG (zero inference jobs; reconciles widened
        # and pre-evolution files); version-aware callers pass their
        # own snapshot's schema instead
        read_schema = _physical_read_schema(
            _snapshot(table, table_version(table))
        )
    if read_schema is not None:
        reader = spark.read.schema(read_schema)
    else:
        reader = spark.read.option("mergeSchema", "true")

    def with_file(df):
        # RAW scan path as the lineage key — zero per-row string work;
        # driver-side consumers reduce collected values via _log_rel
        return df.withColumn("__dl_file", F.col("_metadata.file_path"))

    parts = []
    if plain:
        df = reader.parquet(*[os.path.join(table, a["path"]) for a in plain])
        parts.append(with_file(df) if lineage else df)
    if dvd:
        df = with_file(
            reader.parquet(*[os.path.join(table, a["path"]) for a in dvd])
        ).withColumn("__dl_pos", F.col("_metadata.row_index"))
        # sidecars key the rel tail; translate rel → scan path on the
        # O(files) metadata side so the anti-join probes the raw
        # _metadata.file_path. Sidecar rows for files outside this
        # read translate to NULL (or drop in the join fallback) — a
        # NULL key matches nothing in the anti-join, so they stay
        # harmless exactly as before.
        pairs = _scan_path_pairs(spark, table, dvd)
        dv = _read_dv_positions(spark, table, dvd)
        if len(pairs) <= _PATH_MAP_LITERAL_MAX:
            dv = dv.select(
                _path_map_col(pairs, F.col("file")).alias("__dl_file"),
                F.col("pos").alias("__dl_pos"),
            )
        else:
            pmap = spark.createDataFrame(
                pairs, "file string, __dl_file string"
            )
            dv = dv.join(F.broadcast(pmap), "file", "inner").select(
                "__dl_file", F.col("pos").alias("__dl_pos")
            )
        if sum(d.get("count", 0) for d in _dv_entries(dvd)) <= _DV_BROADCAST_MAX:
            dv = F.broadcast(dv)
        df = df.join(dv, on=["__dl_file", "__dl_pos"], how="left_anti")
        df = df.drop("__dl_pos") if lineage else df.drop(
            "__dl_file", "__dl_pos"
        )
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    # scan-boundary translation: physical file columns → the logical
    # schema (drops retired columns pre-drop files still carry). Done
    # LAST so the _metadata-derived DV lineage above stays resolvable.
    cm = (
        table_column_mapping(table)
        if column_mapping == "inherit" else column_mapping
    )
    if _cm_active(cm):
        out = _to_logical_df(out, cm, keep=("__dl_file", "__dl_pos"))
    return out


def read_table(
    spark: SparkSession, table: str, version: int | None = None,
    predicate: list[tuple] | None = None, columns: list[str] | None = None,
    timestamp=None,
) -> DataFrame:
    """Snapshot read. ``predicate`` is a conjunction of
    ``(col, op, literal)`` triples: files whose footer stats prove
    exclusion are pruned from the scan, and the SAME predicate is
    applied as a Spark filter (skipping is an optimization, never a
    correctness dependency). ``columns`` projects early so the pruned
    scan also column-prunes. Files carrying deletion vectors
    (``delete_where(mode="dv")``) are read merge-on-read: their deleted
    positions anti-join out of the scan. ``timestamp`` is TIMESTAMP AS
    OF (see ``version_as_of_timestamp``); mutually exclusive with
    ``version``."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_as_of_timestamp(table, timestamp)
    v = _resolve_version(table, version)
    snap_meta = _snapshot(table, v)
    _check_reader(snap_meta["protocol"], table)
    adds, _total = plan_adds(table, v, predicate)
    # time travel to a pre-rename version must surface that version's
    # logical names — translate with the AT-VERSION mapping, not head's
    df = _read_adds(
        spark, table, adds, column_mapping=snap_meta["column_mapping"],
        read_schema=_physical_read_schema(snap_meta),
    )
    if df is None:
        from pyspark.sql import types as ST

        snap = _snapshot(table, v)
        schema = snap["schema"]
        if not schema:
            raise FileNotFoundError(f"empty table with no schema: {table}")
        df = spark.createDataFrame(
            [], schema=ST.StructType.fromJson(json.loads(schema))
        )
    if predicate:
        df = df.filter(_predicate_to_expr(predicate))
    if columns:
        df = df.select(*columns)
    return df


# -------------------------------------------------- DELETE / restore


def _dml_candidates(table: str, predicate):
    """The shared prologue of predicate DML (delete / update /
    replaceWhere): ``(base, live, tuples_p, expr, cands)``. ``predicate``
    is a ``(col, op, literal)`` conjunction list — translated to
    physical names for the stats prune (``tuples_p``) and rendered as a
    Spark SQL ``expr`` — or a raw SQL boolean string, which prunes
    nothing (``tuples_p`` None, every live file a candidate)."""
    base = table_version(table)
    if base < 0:
        raise FileNotFoundError(f"no such table: {table}")
    live = live_files(table)
    tuples = predicate if isinstance(predicate, list) else None
    tuples_p = _cm_tuples(table_column_mapping(table), tuples)
    expr = _predicate_to_expr(tuples) if tuples else predicate
    cands = (
        [a for a in live if _file_may_match(a, tuples_p)]
        if tuples else list(live)
    )
    return base, live, tuples_p, expr, cands


def delete_where(
    spark: SparkSession, table: str, predicate,
    mode: str = "dv", stat_cols: list[str] | None = None,
    checkpoint_every: int = 10,
) -> dict:
    """DELETE FROM ``table`` WHERE ``predicate`` — the two physical
    strategies of the public Delta protocol:

    - ``mode="dv"`` (merge-on-read, deletion vectors): no data file is
      rewritten. One distributed scan of the stats-surviving candidate
      files harvests the matching rows' ``(file, row_index)`` positions
      into a parquet SIDECAR; the commit re-publishes each touched
      file's ``add`` action with the DV attached (consolidated — a
      file's action always references exactly one sidecar holding ALL
      its deleted positions). Readers anti-join the positions out.
      O(matches) write cost regardless of file sizes — the shape that
      makes a 0.001% delete on a 100 TB table cheap.
    - ``mode="rewrite"`` (copy-on-write): touch detection finds the
      candidate files that actually CONTAIN a match, and only those are
      rewritten without the matching rows (the classic DELETE).

    ``predicate`` is either the ``(col, op, literal)`` conjunction list
    (file-level stats pruning applies — a delete outside every file's
    min/max range touches nothing) or a raw Spark SQL boolean string
    (no pruning). Rows where the predicate is NULL are KEPT (SQL DELETE
    semantics). Returns {"version", "rows_deleted", "files_touched",
    "files_total"}.
    """
    from pyspark.sql import functions as F

    if mode not in ("dv", "rewrite"):
        raise ValueError(f"delete_where mode must be 'dv'|'rewrite': {mode}")
    base, live, tuples_p, expr, cands = _dml_candidates(table, predicate)
    noop = {"version": base, "rows_deleted": 0, "files_touched": 0,
            "files_total": len(live)}
    if not cands:
        return noop
    schema = _snapshot(table, base)["schema"]

    # partition fast path (both modes): files whose match the log can
    # PROVE on partition columns are deleted as PURE METADATA — no
    # scan, no sidecar, no rewrite. Concurrent fatter-DV re-adds are
    # benign for whole-file drops (their tombstones are a subset of
    # ours), so plain remove-liveness validation suffices. Under
    # partition evolution the classification is HYBRID: current-era
    # files drop as metadata while pre-spec files (no partition
    # evidence in the log) fall through to the DV/rewrite scan below —
    # one atomic commit covers both.
    meta_matched, cands = _metadata_match_split(table, cands, tuples_p)
    meta_removes = [a["path"] for a in meta_matched]
    meta_rows = int(sum(a["rows"] for a in meta_matched)) - sum(
        d.get("count", 0) for d in _dv_entries(meta_matched)
    )
    touched: list[dict] = []  # scanned files rewritten without matches
    scan_rows = 0

    if cands and mode == "rewrite":
        # touch detection: bounded collect — one row per candidate file
        scan = _read_adds(spark, table, cands, lineage=True)
        per_file = {
            _log_rel(r["__dl_file"]): r["n"]
            for r in scan.filter(F.expr(expr))
            .groupBy("__dl_file").agg(F.count("*").alias("n")).collect()
        }
        touched = [a for a in cands if _log_rel(a["path"]) in per_file]
        scan_rows = sum(per_file.values())
    elif cands:
        # ---- mode == "dv": harvest matching positions, consolidate
        rs = _physical_read_schema(_snapshot(table, base))
        raw = (
            spark.read.schema(rs) if rs is not None
            else spark.read.option("mergeSchema", "true")
        ).parquet(
            *[os.path.join(table, a["path"]) for a in cands]
        ).withColumn(
            "__dl_f", F.col("_metadata.file_path")
        ).withColumn("__dl_p", F.col("_metadata.row_index"))
        # the predicate is LOGICAL; the raw scan carries physical names —
        # translate after the _metadata lineage columns are materialized
        raw = _to_logical_df(raw, table_column_mapping(table),
                             keep=("__dl_f", "__dl_p"))
        # sidecars store the rel tail: translate scan path → rel on the
        # O(files) metadata side (no per-row regex over the path string)
        rev = [(absq, rel)
               for rel, absq in _scan_path_pairs(spark, table, cands)]
        if len(rev) <= _PATH_MAP_LITERAL_MAX:
            new_pos = raw.filter(F.expr(expr)).select(
                _path_map_col(rev, F.col("__dl_f")).alias("file"),
                F.col("__dl_p").alias("pos"),
            )
        else:
            relmap = spark.createDataFrame(rev, "__dl_f string, file string")
            new_pos = raw.filter(F.expr(expr)).join(
                F.broadcast(relmap), "__dl_f", "inner"
            ).select("file", F.col("__dl_p").alias("pos"))
        old_dv = _read_dv_positions(spark, table, cands)
        old_count = sum(d.get("count", 0) for d in _dv_entries(cands))
        if old_dv is not None:
            # consolidate: a shared sidecar may also hold positions of
            # files OUTSIDE this delete's candidate set — restrict to
            # the candidates so those files keep their (still-live)
            # sidecars
            cand_df = spark.createDataFrame(
                [(_log_rel(a["path"]),) for a in cands], "file string"
            )
            old_pos = old_dv.join(F.broadcast(cand_df), "file", "inner")
            all_pos = new_pos.unionByName(old_pos).distinct()
        else:
            all_pos = new_pos
        token = uuid.uuid4().hex[:8]
        rel_dv = os.path.join(_DV_DIR, f"{base + 1:05d}-{token}")
        out_dir = os.path.join(table, rel_dv)
        all_pos.write.mode("overwrite").parquet(out_dir)
        counts = {
            r["file"]: r["n"]
            for r in spark.read.schema("file string, pos bigint")
            .parquet(out_dir)
            .groupBy("file").agg(F.count("*").alias("n")).collect()
        }
        if counts:
            new_adds = []
            for a in cands:
                n = counts.get(_log_rel(a["path"]), 0)
                if n > 0:
                    na = {k: v for k, v in a.items() if k != "dv"}
                    na["dv"] = [{"path": rel_dv, "count": int(n)}]
                    new_adds.append(na)
            version = _commit_retry(
                table, "delete_dv", new_adds, meta_removes, schema, base,
                checkpoint_every,
                require_unchanged={
                    a["path"]: next(c for c in cands if c["path"] == a["path"])
                    for a in new_adds
                },
            )
            return {
                "version": version,
                "rows_deleted": (meta_rows + int(sum(counts.values()))
                                 - old_count),
                "files_touched": len(meta_matched) + len(new_adds),
                "files_total": len(live),
            }
        shutil.rmtree(out_dir, ignore_errors=True)  # no scanned match

    if not meta_matched and not touched:
        return noop
    survivors = [
        _read_adds(spark, table, touched).filter(
            ~F.coalesce(F.expr(expr), F.lit(False))
        )
    ] if touched else []
    version = _rewrite_commit(
        spark, table, "delete", base, survivors, touched, schema,
        checkpoint_every, stat_cols, dropped=meta_removes,
    )
    return {"version": version, "rows_deleted": meta_rows + scan_rows,
            "files_touched": len(meta_matched) + len(touched),
            "files_total": len(live)}


def _set_projection(frame: DataFrame, schema, set_exprs: dict[str, str],
                    hit) -> DataFrame:
    """SQL UPDATE's SET as one projection of ``frame`` onto the table
    columns of ``schema``: on rows where ``hit`` is true (NULL counts
    as false), each SET column takes its expression evaluated against
    the PRE-update row (``SET a = b, b = a`` swaps), cast back to the
    column's type; every other value passes through. Generated
    partition columns need no step here — the writer re-derives them
    from the updated row (derived always wins)."""
    from pyspark.sql import functions as F

    hit = F.coalesce(hit, F.lit(False))
    return frame.select(*[
        F.when(hit, F.expr(set_exprs[f.name]))
        .otherwise(F.col(f.name))
        .cast(f.dataType)
        .alias(f.name)
        if f.name in set_exprs else F.col(f.name)
        for f in schema.fields
    ])


def update_where(
    spark: SparkSession, table: str, predicate,
    set_exprs: dict[str, str], stat_cols: list[str] | None = None,
    checkpoint_every: int = 10,
) -> dict:
    """UPDATE ``table`` SET col = expr, ... WHERE ``predicate`` — the
    copy-on-write UPDATE (the last DML verb next to DELETE / MERGE /
    replaceWhere). The 100 TB shape is Delta's: stats-pruned candidates
    → ONE touch-detection scan (which files actually contain a match,
    bounded collect of one row per candidate) → only touched files are
    rewritten, every other file rides through as metadata.

    SQL UPDATE semantics: every SET expression is evaluated against the
    PRE-update row (``SET a = b, b = a`` swaps), computed in one
    projection; the result is cast back to the column's type; rows
    where the predicate is NULL are left unmodified; SET columns must
    already exist. CHECK constraints re-validate on the rewritten
    files, and the change feed surfaces the touched rows as
    update_preimage/update_postimage (keyed diff).

    ``predicate`` is the ``(col, op, literal)`` conjunction list
    (file-level pruning applies) or a raw Spark SQL boolean string.
    Returns {"version", "rows_updated", "files_rewritten",
    "files_total"}."""
    from pyspark.sql import functions as F

    base, live, _tuples_p, expr, cands = _dml_candidates(table, predicate)
    noop = {"version": base, "rows_updated": 0, "files_rewritten": 0,
            "files_total": len(live)}
    if not cands:
        return noop
    schema = _snapshot(table, base)["schema"]

    # touch detection: bounded collect — one count per candidate file
    scan = _read_adds(spark, table, cands, lineage=True)
    bad = [c for c in set_exprs if c not in scan.columns]
    if bad:
        raise ValueError(
            f"update_where SET columns not in the table: {bad} "
            "(UPDATE cannot add columns — use a schema-evolving append)"
        )
    per_file = {
        _log_rel(r["__dl_file"]): r["n"]
        for r in scan.filter(F.expr(expr))
        .groupBy("__dl_file").agg(F.count("*").alias("n")).collect()
    }
    if not per_file:
        return noop
    touched = [a for a in cands if _log_rel(a["path"]) in per_file]
    existing = _read_adds(spark, table, touched)
    updated = _set_projection(existing, existing.schema, set_exprs,
                              F.expr(expr))
    version = _rewrite_commit(
        spark, table, "update", base, [updated], touched, schema,
        checkpoint_every, stat_cols, check=True,
    )
    return {
        "version": version,
        "rows_updated": int(sum(per_file.values())),
        "files_rewritten": len(touched),
        "files_total": len(live),
    }


def overwrite_where(
    spark: SparkSession, df: DataFrame, table: str, predicate,
    stat_cols: list[str] | None = None, checkpoint_every: int = 10,
    validate: bool = True,
) -> dict:
    """Dynamic predicate overwrite (Delta's ``replaceWhere``): ONE
    atomic commit that deletes every existing row matching
    ``predicate`` and inserts ``df`` — the backfill primitive
    (re-landing one day/region of a 100 TB table without touching the
    rest, where a full ``overwrite`` would rewrite everything).

    Physical shape mirrors Delta: stats-pruned candidates are split
    into files FULLY inside the predicate (dropped as pure metadata,
    no data movement — with tight ``cluster_by`` zone maps a daily
    backfill drops whole files) and boundary files (rewritten without
    their matching rows, same as ``delete_where(mode='rewrite')``).
    The incoming ``df`` lands as new files in the same commit.

    ``validate`` enforces the replaceWhere contract: every incoming
    row must satisfy the predicate (otherwise the op silently writes
    outside its declared scope — Delta rejects this too). ``predicate``
    is the ``(col, op, literal)`` conjunction list (file-level pruning
    applies) or a raw Spark SQL boolean string (no pruning). Returns
    {"version", "rows_deleted", "files_removed", "files_rewritten"}.
    """
    from pyspark.sql import functions as F

    base, _live, tuples_p, expr, cands = _dml_candidates(table, predicate)
    if validate:
        n_out = df.filter(~F.coalesce(F.expr(expr), F.lit(False))).count()
        if n_out:
            raise ValueError(
                f"overwrite_where: {n_out} incoming rows do NOT satisfy "
                f"the predicate ({expr}) — refusing to write outside the "
                "declared replace scope"
            )
    # one distributed pass over the candidates: per file, how many rows
    # match vs total (bounded collect: one row per candidate file) —
    # UNLESS the predicate is wholly decidable on partition columns,
    # in which case the existing-data side is classified from the log
    # alone (partition-scoped backfill = metadata drops + new files)
    removed_whole: list[str] = []
    boundary: list[dict] = []
    rows_deleted = 0
    meta_matched, cands = _metadata_match_split(table, cands, tuples_p)
    if meta_matched:
        removed_whole = [a["path"] for a in meta_matched]
        rows_deleted = int(sum(a["rows"] for a in meta_matched)) - sum(
            d.get("count", 0) for d in _dv_entries(meta_matched)
        )
    if cands:
        scan = _read_adds(spark, table, cands, lineage=True)
        per_file = {
            _log_rel(r["__dl_file"]): (r["m"], r["n"])
            for r in scan.groupBy("__dl_file").agg(
                F.sum(
                    F.coalesce(F.expr(expr), F.lit(False)).cast("long")
                ).alias("m"),
                F.count("*").alias("n"),
            ).collect()
        }
        for a in cands:
            m, n = per_file.get(_log_rel(a["path"]), (0, 0))
            rows_deleted += int(m)
            if m == 0:
                continue  # predicate missed this file entirely
            if m == n:
                removed_whole.append(a["path"])  # pure metadata drop
            else:
                boundary.append(a)
    survivors = [
        _read_adds(spark, table, boundary).filter(
            ~F.coalesce(F.expr(expr), F.lit(False))
        )
    ] if boundary else []
    # boundary files are rewritten (guarded: their survivors derive from
    # the snapshot); whole-file drops are not — every physical row
    # matches the predicate, so a concurrently fatter DV deletes a
    # subset of what the drop deletes anyway
    version = _rewrite_commit(
        spark, table, "replace_where", base, survivors + [df], boundary,
        df.schema.json(), checkpoint_every, stat_cols,
        dropped=removed_whole, check=True,
    )
    return {
        "version": version,
        "rows_deleted": rows_deleted,
        "files_removed": len(removed_whole),
        "files_rewritten": len(boundary),
    }


def purge_dv(
    spark: SparkSession, table: str, stat_cols: list[str] | None = None,
    cluster_by: list[str] | None = None, checkpoint_every: int = 10,
) -> dict:
    """REORG PURGE: materialize outstanding deletion vectors by
    rewriting only the DV-carrying files without their deleted rows —
    one atomic remove+add commit, logical content unchanged (CDF emits
    nothing for it, like compact). Old versions still read the old
    files + sidecars until vacuum."""
    base = table_version(table)
    live = live_files(table)
    dvd = [a for a in live if a.get("dv")]
    if not dvd:
        return {"version": base, "files_purged": 0}
    df = _read_adds(spark, table, dvd)
    version = _rewrite_commit(
        spark, table, "purge", base, [df], dvd, df.schema.json(),
        checkpoint_every, stat_cols, cluster_by,
    )
    return {"version": version, "files_purged": len(dvd)}


def restore(table: str, to_version: int, checkpoint_every: int = 10) -> int:
    """RESTORE TABLE TO VERSION AS OF — a NEW commit whose live set
    equals the target version's, so the rollback is itself versioned,
    atomic, and CDF-visible (downstream consumers see the un-done rows
    as row-level changes instead of silently diverging). Raises
    FileNotFoundError if the target's data files or DV sidecars were
    vacuumed (the documented Delta behavior class)."""
    base = table_version(table)
    if not 0 <= to_version <= base:
        raise ValueError(f"restore target {to_version} outside [0, {base}]")
    target = _snapshot(table, to_version)
    cur = _snapshot(table, base)["adds"]
    missing = [
        p for p in target["adds"]
        if not os.path.exists(os.path.join(table, p))
    ] + [
        d["path"] for a in target["adds"].values()
        for d in (a.get("dv") or [])
        if not os.path.exists(os.path.join(table, d["path"]))
    ]
    if missing:
        raise FileNotFoundError(
            f"restore {table} to v{to_version}: {len(missing)} referenced "
            f"files vacuumed (e.g. {missing[0]})"
        )
    adds = [a for p, a in sorted(target["adds"].items()) if cur.get(p) != a]
    removes = sorted(p for p in cur if p not in target["adds"])
    return _commit_retry(
        table, "restore", adds, removes, target["schema"], base,
        checkpoint_every, expect_head=base,
        # restoring past a rename/drop must restore those logical names
        # too (normalized so 'no mapping yet' still overrides a newer
        # one — None would mean 'leave the header key out')
        column_mapping=target["column_mapping"] or {"map": {},
                                                    "retired": []},
        type_widening=target["type_widening"] or {},
    )


# -------------------------------------------------------- constraints


def table_constraints(table: str) -> dict:
    """{name: check-expr} currently active on the table."""
    v = table_version(table)
    return {} if v < 0 else dict(_snapshot(table, v)["constraints"])


def add_check_constraint(
    spark: SparkSession, table: str, name: str, expr: str,
    checkpoint_every: int = 10,
) -> int:
    """ALTER TABLE ADD CONSTRAINT CHECK(expr): validates the EXISTING
    rows first (one DV-aware scan — a constraint that the current data
    already violates must never land), then publishes a metadata-only
    commit. SQL CHECK semantics: a row violates only when the
    expression evaluates to FALSE — NULL passes."""
    from pyspark.sql import functions as F

    base = table_version(table)
    if base < 0:
        raise FileNotFoundError(f"no such table: {table}")

    def _validate(at: int) -> None:
        n_bad = (
            read_table(spark, table, version=at)
            .filter(F.expr(expr) == False).count()  # noqa: E712
        )
        if n_bad:
            raise ValueError(
                f"add_check_constraint {name!r}: {n_bad} existing rows "
                f"violate CHECK ({expr}) — constraint not added"
            )

    _validate(base)
    for _attempt in _commit_attempts(table, "set_constraint"):
        # TOCTOU guard: the validation scan only proves the table at
        # ``base``. If a concurrent writer (who read table_constraints
        # BEFORE this commit lands) moved the head, re-validate against
        # the new head before publishing — otherwise the constraint
        # could land claiming a state the in-flight rows violate.
        head = table_version(table)
        if head != base:
            _validate(head)
            base = head
        schema = _snapshot(table, base)["schema"]
        version = base + 1
        actions = [
            {"commit": {"version": version, "operation": "set_constraint",
                        "schema": schema}},
            {"constraint": {"name": name, "expr": expr}},
        ]
        try:
            _publish(table, version, actions)
            break
        except FileExistsError:
            continue
    _maybe_checkpoint(table, version, checkpoint_every)
    return version


def drop_check_constraint(
    table: str, name: str, checkpoint_every: int = 10
) -> int:
    """ALTER TABLE DROP CONSTRAINT (missing name raises)."""
    if name not in table_constraints(table):
        raise KeyError(f"no such constraint on {table}: {name}")
    schema = _snapshot(table, table_version(table))["schema"]
    for _attempt in _commit_attempts(table, "drop_constraint"):
        version = table_version(table) + 1
        actions = [
            {"commit": {"version": version, "operation": "drop_constraint",
                        "schema": schema}},
            {"drop_constraint": {"name": name}},
        ]
        try:
            _publish(table, version, actions)
            break
        except FileExistsError:
            continue
    _maybe_checkpoint(table, version, checkpoint_every)
    return version


# ------------------------------------------------- schema evolution DDL

# lossless widening lattice (the Delta type-widening feature set this
# engine supports): integral upcasts + float→double
_WIDEN_ORDER = {"byte": 0, "short": 1, "integer": 2, "long": 3}
_WIDEN_FLOAT = {"float": 0, "double": 1}


def _is_widening(frm: str, to: str) -> bool:
    if frm in _WIDEN_ORDER and to in _WIDEN_ORDER:
        return _WIDEN_ORDER[frm] < _WIDEN_ORDER[to]
    if frm in _WIDEN_FLOAT and to in _WIDEN_FLOAT:
        return _WIDEN_FLOAT[frm] < _WIDEN_FLOAT[to]
    return False


def table_type_widening(table: str, version: int | None = None) -> dict:
    """{physical_col: widened simple type} — recorded by widen_column;
    keyed PHYSICAL so renames never orphan an entry."""
    v = table_version(table) if version is None else version
    if v < 0:
        return {}
    return dict(_snapshot(table, v)["type_widening"] or {})


def widen_column(table: str, col: str, new_type: str,
                 checkpoint_every: int = 10) -> int:
    """ALTER TABLE ALTER COLUMN TYPE — metadata-only LOSSLESS type
    widening (byte→short→int→long, float→double): zero data files
    move; existing narrow bytes are upcast AT SCAN TIME by reading
    under the declared (wide) schema — Spark's parquet reader performs
    the promotion natively. Narrowing or cross-family changes are
    rejected (they would corrupt silently)."""
    # same protections as rename/drop: partition columns and columns a
    # CHECK constraint / generated expression depends on are off-limits
    snap = _mapping_ddl_guard(table, col, "widen_column")
    base = snap["version"]
    schema = json.loads(snap["schema"])
    field = next(f for f in schema["fields"] if f["name"] == col)
    frm = field["type"] if isinstance(field["type"], str) else None
    if frm is None or not _is_widening(frm, new_type):
        raise ValueError(
            f"widen_column {table}: {frm!r} -> {new_type!r} is not a "
            "lossless widening (byte<short<integer<long, float<double)"
        )
    field["type"] = new_type
    tw = dict(snap["type_widening"] or {})
    cm = snap["column_mapping"]
    tw[_cm_phys(cm, col)] = new_type
    return _commit_retry(
        table, "widen_column", [], [], json.dumps(schema), base,
        checkpoint_every, expect_head=base, type_widening=tw,
    )


def _physical_read_schema(snap: dict):
    """The explicit PHYSICAL-name read schema of a snapshot (None only
    when the snapshot has no declared schema). The LOG is the schema
    authority — the Delta read contract — so every internal scan passes
    this schema explicitly instead of letting Spark infer one from
    footers: mergeSchema inference is a distributed footer-read job per
    read (at 100 TB, a listing + footer GET per file per scan), and the
    inferred union is also WRONG once a column's type changed across
    files (widening) or a dropped column's physical bytes linger.
    Explicit-schema reads upcast widened narrow-era files natively,
    null-fill columns a pre-evolution file lacks, and exclude retired
    physicals — and cost zero jobs."""
    from pyspark.sql import types as ST

    if not snap.get("schema"):
        return None
    logical = ST.StructType.fromJson(json.loads(snap["schema"]))
    cm = snap.get("column_mapping")
    m = (cm or {}).get("map") or {}
    return ST.StructType([
        ST.StructField(m.get(f.name, f.name), f.dataType, True)
        for f in logical.fields
    ])


def _implicit_widenings(snap_prev: dict | None, decl_json: str,
                        cm: dict | None) -> dict | None:
    """Widenings introduced by an append's declared-schema union (a
    wider frame landed on a narrower column): {physical: new_type}
    merged over the existing state, or None when nothing widened."""
    if snap_prev is None or not snap_prev.get("schema"):
        return None
    old = {f["name"]: f["type"]
           for f in json.loads(snap_prev["schema"])["fields"]
           if isinstance(f["type"], str)}
    tw = dict(snap_prev.get("type_widening") or {})
    changed = False
    for f in json.loads(decl_json)["fields"]:
        t = f["type"]
        o = old.get(f["name"])
        if isinstance(t, str) and o and o != t and _is_widening(o, t):
            tw[_cm_phys(cm, f["name"])] = t
            changed = True
    return tw if changed else None


def _union_decl_schema(existing_json: str | None, df_schema) -> str:
    """Append-side declared-schema maintenance: keep every existing
    field (a narrow append must not drop siblings from the declared
    schema — explicit-schema reads would stop surfacing them), widen
    per-field types monotonically (a narrow append can never REGRESS a
    widened column), append genuinely new fields."""
    new = json.loads(df_schema.json())
    if not existing_json:
        return json.dumps(new)
    cur = json.loads(existing_json)
    by_name = {f["name"]: f for f in new["fields"]}
    out = []
    for f in cur["fields"]:
        g = by_name.pop(f["name"], None)
        if g is None:
            out.append(f)
        elif (isinstance(f["type"], str) and isinstance(g["type"], str)
              and _is_widening(g["type"], f["type"])):
            out.append(f)  # declared stays wider
        else:
            out.append(g)  # same type, a widening, or last-wins change
    out.extend(by_name[f["name"]] for f in new["fields"]
               if f["name"] in by_name)
    cur["fields"] = out
    return json.dumps(cur)


def _expr_references(expr: str, col: str) -> bool:
    """Conservative identifier check: does a SQL expression string
    mention ``col`` as a word (or backtick-quoted)? Used to refuse
    rename/drop of columns a CHECK constraint or generated-partition
    expression depends on — same restriction as Delta's."""
    return bool(_re.search(
        rf"(?:\b|`){_re.escape(col)}(?:\b|`)", expr
    ))


def _mapping_ddl_guard(table: str, col: str, verb: str) -> dict:
    """Shared validation for rename_column/drop_column: the column must
    exist, must not be a partition column (the hive layout and spec
    embed its name), and must not be referenced by a CHECK constraint
    or a generated-partition expression. Returns the current snapshot."""
    base = table_version(table)
    if base < 0:
        raise FileNotFoundError(f"no such table: {table}")
    snap = _snapshot(table, base)
    fields = json.loads(snap["schema"])["fields"] if snap["schema"] else []
    names = [f["name"] for f in fields]
    if col not in names:
        raise KeyError(f"{verb} {table}: no such column {col!r}")
    pby = snap["partition_by"] or []
    pex = snap["partition_exprs"] or {}
    if col in pby or col in pex:
        raise ValueError(
            f"{verb} {table}: {col!r} is a CURRENT partition column — "
            "evolve it out of the spec first (set_partition_spec)"
        )
    for c, e in pex.items():
        if _expr_references(e, col):
            raise ValueError(
                f"{verb} {table}: generated partition column {c!r} "
                f"derives from {col!r} ({e})"
            )
    for name, e in (snap["constraints"] or {}).items():
        if _expr_references(e, col):
            raise ValueError(
                f"{verb} {table}: CHECK constraint {name!r} references "
                f"{col!r} ({e}) — drop the constraint first"
            )
    return snap


def rename_column(
    table: str, old: str, new: str, checkpoint_every: int = 10
) -> int:
    """ALTER TABLE RENAME COLUMN — METADATA-ONLY (the Delta
    column-mapping rename): zero data files move, on a 100 TB table as
    on an empty one. The logical schema renames; bytes keep the old
    PHYSICAL name; subsequent reads translate at the scan boundary and
    subsequent writes translate back (see ``table_column_mapping``).
    Time travel to pre-rename versions surfaces the old name, and
    RESTORE past the rename restores it."""
    snap = _mapping_ddl_guard(table, old, "rename_column")
    schema = json.loads(snap["schema"])
    names = [f["name"] for f in schema["fields"]]
    if new in names:
        raise ValueError(f"rename_column {table}: {new!r} already exists")
    cm = {"map": dict((snap["column_mapping"] or {}).get("map") or {}),
          "retired": list((snap["column_mapping"] or {}).get("retired")
                          or [])}
    if new in cm["retired"] or new in cm["map"].values():
        raise ValueError(
            f"rename_column {table}: {new!r} collides with a physical "
            "column name still present in data files"
        )
    for f in schema["fields"]:
        if f["name"] == old:
            f["name"] = new
    cm["map"][new] = cm["map"].pop(old, old)
    if cm["map"][new] == new:  # renamed back to its physical name
        del cm["map"][new]
    return _commit_retry(
        table, "rename_column", [], [], json.dumps(schema),
        snap["version"], checkpoint_every, column_mapping=cm,
        expect_head=snap["version"],  # recompute on any race
    )


def drop_column(table: str, col: str, checkpoint_every: int = 10) -> int:
    """ALTER TABLE DROP COLUMN — METADATA-ONLY: the physical column
    stays in existing files (readers project it away; the next
    ``compact``/rewrite physically purges it) and its name is RETIRED —
    a later append re-adding the same logical name allocates a fresh
    physical name, so the dropped bytes can never resurface through
    schema merging."""
    snap = _mapping_ddl_guard(table, col, "drop_column")
    schema = json.loads(snap["schema"])
    if len(schema["fields"]) == 1:
        raise ValueError(f"drop_column {table}: cannot drop the only column")
    schema["fields"] = [f for f in schema["fields"] if f["name"] != col]
    cm = {"map": dict((snap["column_mapping"] or {}).get("map") or {}),
          "retired": list((snap["column_mapping"] or {}).get("retired")
                          or [])}
    phys = cm["map"].pop(col, col)
    if phys not in cm["retired"]:
        cm["retired"].append(phys)
    return _commit_retry(
        table, "drop_column", [], [], json.dumps(schema),
        snap["version"], checkpoint_every, column_mapping=cm,
        expect_head=snap["version"],
    )


def clone(src: str, dst: str, version: int | None = None) -> int:
    """SHALLOW CLONE: create ``dst`` as a zero-copy snapshot of ``src``
    at ``version`` — one metadata commit whose add actions reference
    the source's data files (and DV sidecars) by ABSOLUTE path; no
    bytes move regardless of table size. The clone's log is independent
    from commit 0: writes, DML, OPTIMIZE, and RESTORE on the clone
    never touch the source, and ``vacuum`` on either side only reclaims
    files under its OWN table directory (absolute-source references are
    invisible to the clone's directory walk by construction). Schema,
    partition spec, generated-column exprs, CHECK constraints, and the
    column mapping all carry over. Clone-of-clone keeps pointing at the
    original bytes (absolute paths pass through ``os.path.join``)."""
    v = _resolve_version(src, version)
    snap = _snapshot(src, v)
    if table_version(dst) >= 0:
        raise FileExistsError(f"clone target already a table: {dst}")
    src_abs = os.path.abspath(src)
    adds = []
    for p, a in sorted(snap["adds"].items()):
        a = dict(a)
        a["path"] = os.path.join(src_abs, p)
        if a.get("dv"):
            a["dv"] = [
                {**d, "path": os.path.join(src_abs, d["path"])}
                for d in a["dv"]
            ]
        adds.append(a)
    header = {
        "version": 0, "operation": "clone", "schema": snap["schema"],
        "ts": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        "source": {"table": src_abs, "version": v},
    }
    if snap["partition_by"] is not None:
        header["partition_by"] = snap["partition_by"]
    if snap["partition_exprs"] is not None:
        header["partition_exprs"] = snap["partition_exprs"]
    if snap["column_mapping"] is not None:
        header["column_mapping"] = snap["column_mapping"]
    if snap["protocol"] is not None:
        header["protocol"] = snap["protocol"]
    if snap["type_widening"] is not None:
        header["type_widening"] = snap["type_widening"]
    actions = [{"commit": header}]
    actions += [
        {"constraint": {"name": n, "expr": e}}
        for n, e in sorted((snap["constraints"] or {}).items())
    ]
    actions += [{"add": a} for a in adds]
    _publish(dst, 0, actions)
    return 0


def _validate_constraints(
    spark: SparkSession, table: str, adds: list[dict]
) -> None:
    """Enforce the table's CHECK constraints on freshly-written data
    files BEFORE their commit publishes: one columnar scan of just the
    new files (cheaper than re-running the producing plan), ALL
    constraints in a single aggregate. On violation the written files
    are removed and the commit never happens — atomic refusal."""
    cons = table_constraints(table)
    if not cons or not adds:
        return
    from pyspark.sql import functions as F

    snapc = _snapshot(table, table_version(table))
    rsc = _physical_read_schema(snapc)
    df = (
        spark.read.schema(rsc) if rsc is not None else spark.read
    ).parquet(*[os.path.join(table, a["path"]) for a in adds])
    # staged files carry physical names; constraint exprs are logical
    df = _to_logical_df(df, snapc["column_mapping"])
    names = list(cons)
    row = df.agg(*[
        F.sum(
            F.when(F.expr(cons[n]) == False, 1).otherwise(0)  # noqa: E712
        ).alias(f"c{i}")
        for i, n in enumerate(names)
    ]).first()
    bad = {
        n: int(row[f"c{i}"] or 0)
        for i, n in enumerate(names) if (row[f"c{i}"] or 0) > 0
    }
    if bad:
        # unlink exactly THIS commit's staged files — never the parent
        # directory (the streaming sink stages many batches' shards in
        # one dir; an rmtree here would destroy already-committed data)
        for a in adds:
            try:
                os.unlink(os.path.join(table, a["path"]))
            except OSError:
                pass
        for d in {os.path.dirname(a["path"]) for a in adds}:
            full = os.path.join(table, d)
            if os.path.isdir(full) and not os.listdir(full):
                os.rmdir(full)
        raise ValueError(
            f"CHECK constraint violated by incoming rows: {bad} — "
            "commit aborted, staged files removed"
        )


# ------------------------------------------------------------------- merge


def merge_into(
    spark: SparkSession, table: str, source: DataFrame, on,
    stat_cols: list[str] | None = None, checkpoint_every: int = 10,
    txn: tuple[str, int] | None = None,
    when_matched: str = "replace",
    set_exprs: dict[str, str] | None = None,
    insert_unmatched: bool = True,
) -> dict:
    """MERGE INTO (upsert): rows of ``source`` whose ``on`` key matches
    an existing row REPLACE it; unmatched source rows are INSERTED —
    the CDC-apply operation a lakehouse table exists for.

    The 100 TB design point is rewriting ONLY the files a source key
    actually lives in (the Delta MERGE two-pass shape):

    1. **Stats prune** (driver-side, free): live files whose [min,max]
       ``on``-range from the commit log cannot intersect the source's
       key range drop out immediately.
    2. **Touch detection** (one distributed semi-join): the surviving
       candidates are scanned with file lineage (DV-aware — a key whose
       only row is deletion-vectored away does not touch its file) and
       left-semi-joined to the broadcast source keys — only files that
       CONTAIN a matched key are rewritten; every other file rides
       through the commit untouched as pure metadata. A CDC feed
       touching 0.1% of the key space rewrites ~0.1% of the table.
       The rewrite anti-/semi-joins the touched files to the same
       broadcast key set, and the rewrite is sized from the log — the
       touched files' bytes plus the source rows at the table's bytes
       per row, one file per ``_TARGET_FILE_BYTES`` — instead of by a
       Spark pass: range-clustered into that many files when
       ``stat_cols`` is given, coalesced into them otherwise.

    Insert detection is sound against candidates only: stats pruning is
    conservative, so any source key absent from the candidate files is
    absent from the table. The whole merge is ONE atomic commit (remove
    touched + add rewrites-and-inserts); a concurrent writer moving the
    table underneath raises ConcurrentWriteError via the standard
    remove-set validation.

    ``when_matched="update"`` is MERGE ... WHEN MATCHED THEN UPDATE
    SET col = expr (+ WHEN NOT MATCHED THEN INSERT unless
    ``insert_unmatched=False``): matched rows are updated IN PLACE by
    ``set_exprs`` evaluated against the pre-update target row with the
    source row's columns visible as ``src_<col>`` (simultaneous
    assignment, same rule as ``update_where``); unmatched target rows
    ride through; source keys must be unique (a duplicate would
    multiply matched rows — rejected, like Delta's multiple-matches
    error). Same two-pass stats-prune + touch-detection shape: only
    files holding a matched key rewrite.

    ``when_matched="delete"`` is MERGE ... WHEN MATCHED THEN DELETE —
    the CDC tombstone-apply: matched keys' rows are removed (touched
    files rewritten without them, same two-pass pruning), unmatched
    source keys are ignored, nothing is inserted. ``source`` may be a
    bare key frame. This is the delete-by-join a change-feed consumer
    needs at scale (a literal-predicate ``delete_where`` cannot express
    'delete these 10M keys').

    ``on`` may be a COLUMN LIST (composite CDC key): matching, touch
    detection, and the null-key guard apply per column, and the stats
    prune runs conjunctively — on a partitioned table whose partition
    column is part of the key, that per-column prune IS sound partition
    pruning for MERGE (a file whose single partition value is outside
    the source's range drops out log-side).

    Returns {"version", "files_rewritten", "files_total"}.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as ST

    if when_matched not in ("replace", "delete", "update"):
        raise ValueError(
            "when_matched must be 'replace'|'delete'|'update': "
            f"{when_matched!r}"
        )
    if when_matched == "update" and not set_exprs:
        raise ValueError("when_matched='update' requires set_exprs")
    if when_matched != "update" and set_exprs:
        raise ValueError("set_exprs only applies to when_matched='update'")
    keys = [on] if isinstance(on, str) else list(on)
    base = table_version(table)
    live = live_files(table)
    noop = {"version": base, "files_rewritten": 0, "files_total": len(live)}
    if txn is not None and last_txn_batch(table, txn[0]) >= txn[1]:
        return noop  # replayed txn: no-op
    schema = _snapshot(table, base)["schema"]
    # a source key of another type than the table declares would either
    # crash the key-range prune (str vs int) or, unpruned, commit and
    # silently re-declare the column over files of the old type; numeric
    # keys of different widths compare fine and keep merging
    decl = (
        {f.name: f.dataType
         for f in ST.StructType.fromJson(json.loads(schema)).fields}
        if schema else {}
    )
    src_types = {f.name: f.dataType for f in source.schema.fields}
    for k in keys:
        want, got = decl.get(k), src_types.get(k)
        if want is None or got is None or want == got or (
            isinstance(want, ST.NumericType)
            and isinstance(got, ST.NumericType)
        ):
            continue
        raise ValueError(
            f"merge_into: source key {k!r} is {got.simpleString()} but "
            f"the table declares {want.simpleString()} — cast the source "
            "key to the table's type first"
        )
    if when_matched == "update":
        bad = [c for c in set_exprs if c in keys]
        if bad:
            raise ValueError(f"merge update cannot SET key columns: {bad}")
    # one 1-row aggregate (2 jobs under AQE): per-key range + the
    # null-key guard (a null merge key can never match, so it would be
    # re-INSERTED on every CDC apply — silently non-idempotent; Delta
    # rejects it too) + update mode's distinct-key count
    aggs = [F.count("*")]
    for k in keys:
        aggs += [F.min(k), F.max(k), F.sum(F.col(k).isNull().cast("long"))]
    if when_matched == "update":
        aggs.append(F.count_distinct(*[F.col(k) for k in keys]))
    row = source.agg(*aggs).collect()[0]
    n_src = row[0]
    if n_src == 0:  # empty source: nothing to do, no empty-file commit
        return noop
    ranges = {}
    for i, k in enumerate(keys):
        lo, hi, nn = row[1 + 3 * i], row[2 + 3 * i], row[3 + 3 * i]
        if (nn or 0) > 0:
            raise ValueError(
                f"merge_into: {nn} source rows have a NULL merge key "
                f"{k!r} — null keys never match and would duplicate on "
                "every apply; filter or key them first"
            )
        ranges[k] = (_json_safe(lo), _json_safe(hi))
    # a duplicate source key would multiply matched target rows (keys
    # are non-null here, so the distinct count covers every row)
    if when_matched == "update" and row[-1] != n_src:
        raise ValueError(
            "merge update: source keys must be unique "
            f"({n_src} rows, {row[-1]} distinct keys)"
        )

    cm = table_column_mapping(table)

    def is_candidate(add: dict) -> bool:
        # conjunctive per-key prune; nulls-only stats entries (all-null
        # or EMPTY files) carry no zone map — 'min' absent means cannot
        # prune, never KeyError. Stats are keyed PHYSICAL.
        for k, (lo, hi) in ranges.items():
            s = (add.get("stats") or {}).get(_cm_phys(cm, k))
            if s is None or "min" not in s or lo is None or hi is None:
                continue
            if s["max"] < lo or s["min"] > hi:
                return False
        return True

    candidates = [a for a in live if is_candidate(a)]
    # the source's key set, broadcast to every join below: no distinct
    # (a shuffle before the broadcast could build) — a semi/anti join
    # ignores duplicate build keys, and the null guard above ran
    src_keys = F.broadcast(source.select(*keys))

    touched_rel: list[str] = []
    if candidates:
        # one semi-join pass: which candidate files hold a matched key?
        # (bounded collect: distinct FILE NAMES, O(files) metadata).
        # DV-aware lineage scan: a key whose only occurrence is already
        # deleted by a DV must NOT mark its file touched.
        touched_rel = sorted(
            _log_rel(r[0])
            for r in _read_adds(spark, table, candidates, lineage=True)
            .select("__dl_file", *keys)
            .join(src_keys, on=keys, how="left_semi")
            .select("__dl_file")
            .distinct()
            .collect()
        )
    touched_set = set(touched_rel)
    # lineage keys are data/<commit>/... tails; cloned adds are logged
    # by absolute path — translate through _log_rel for both the
    # remove set and the conflict guard
    touched_adds = [
        a for a in candidates if _log_rel(a["path"]) in touched_set
    ]

    if when_matched == "delete":
        if not touched_adds:  # no key present: nothing to delete
            return noop
        existing = _read_adds(spark, table, touched_adds)
        # fully-deleted files leave 0-row shards, which
        # _write_data_files already drops from the commit
        rewritten = existing.join(src_keys, on=keys, how="left_anti")
    elif when_matched == "update":
        # MERGE ... WHEN MATCHED THEN UPDATE SET col = expr — exprs see
        # the PRE-update target row plus the source row's columns as
        # ``src_<col>`` (simultaneous assignment, like update_where).
        src_pref = source.select(
            *keys,
            *[F.col(c).alias(f"src_{c}") for c in source.columns
              if c not in keys],
            F.lit(True).alias("__dl_m"),
        )
        parts = []
        matched_keys = None
        if touched_adds:
            existing = _read_adds(spark, table, touched_adds)
            bad = [c for c in set_exprs if c not in existing.columns]
            if bad:
                raise ValueError(
                    f"merge update SET columns not in the table: {bad}"
                )
            j = existing.join(F.broadcast(src_pref), on=keys, how="left")
            parts.append(_set_projection(j, existing.schema, set_exprs,
                                         F.col("__dl_m")))
            matched_keys = existing.select(*keys).join(
                src_keys, on=keys, how="left_semi"
            )
        if insert_unmatched:
            inserts = source
            if matched_keys is not None:
                inserts = source.join(matched_keys, on=keys,
                                      how="left_anti")
            parts.append(inserts)
        if not parts:
            return noop
        rewritten = parts[0]
        for p in parts[1:]:
            rewritten = rewritten.unionByName(p)
    elif touched_adds:
        existing = _read_adds(spark, table, touched_adds)
        # rewrite = unmatched existing rows + ALL source rows (update
        # semantics: the source row wins; insert: key absent anywhere)
        survivors = existing.join(src_keys, on=keys, how="left_anti")
        rewritten = survivors.unionByName(source)
    else:
        rewritten = source
    deleting = when_matched == "delete"
    # size the rewrite (range-clustered with stat_cols, coalesced
    # without) from the log the way compact_where does: the touched
    # files' bytes plus the source rows at the live files' bytes per
    # row. Asking the frame for its partition count
    # instead runs every upstream AQE stage once more before the write.
    sized = [a for a in live if a.get("rows")]
    target_files = None  # no live rows: no bytes per row to go by
    if sized:
        est = sum(int(a.get("bytes") or 0) for a in touched_adds)
        if not deleting:
            est += n_src * sum(int(a.get("bytes") or 0) for a in sized) \
                // sum(int(a["rows"]) for a in sized)
        target_files = max(1, -(-est // _TARGET_FILE_BYTES))  # ceil
    # declare like append: a narrower source key (int into a long
    # table) must not re-declare the column over the existing files
    version = _rewrite_commit(
        spark, table, "merge_delete" if deleting else "merge", base,
        [rewritten], touched_adds,
        schema if deleting else _union_decl_schema(schema, rewritten.schema),
        checkpoint_every,
        stat_cols, cluster_by=keys if stat_cols else None,
        target_files=target_files, check=not deleting, txn=txn,
    )
    return {
        "version": version,
        "files_rewritten": len(touched_adds),
        "files_total": len(live),
    }


# ----------------------------------------------------------------- z-order


def zorder_expr(df: DataFrame, cols: list[str], bits: int = 16):
    """Morton (Z-curve) interleave of ``cols`` as a Spark Column — the
    multi-dimensional clustering key behind Delta/Iceberg's
    OPTIMIZE ZORDER. Each column is min-max normalized to ``bits`` bits
    with ONE bounded 1-row aggregate (the same driver-literal class as
    the skipping bound), then the bit planes are interleaved with pure
    JVM shift/or expressions (whole-stage codegen, no UDF).

    Sorting by the interleaved key makes every output file cover a
    small HYPER-RECTANGLE of the key space instead of a slab of one
    column — so footer min/max stats become tight on EVERY z-ordered
    column at once and single-column predicates on any of them prune
    files. Min-max normalization is skew-sensitive (documented; the
    rank-based variant plugs the boundary machinery of
    operators/order.py into the same interleave).
    """
    from pyspark.sql import functions as F

    if not 1 <= len(cols) <= 4:
        raise ValueError("zorder_expr: 1-4 columns")
    aggs = []
    for c in cols:
        aggs += [F.min(c), F.max(c)]
    row = df.agg(*aggs).collect()[0]  # one 1-row job
    parts = []
    for i, c in enumerate(cols):
        lo, hi = row[2 * i], row[2 * i + 1]
        if lo is None or hi is None or hi == lo:
            norm = F.lit(0).cast("long")
        else:
            span = float(hi - lo)
            norm = F.least(
                F.lit((1 << bits) - 1),
                ((F.col(c).cast("double") - float(lo))
                 * ((1 << bits) - 1) / span).cast("long"),
            )
        # nulls sort first: map to 0
        parts.append(F.coalesce(norm, F.lit(0).cast("long")))
    n = len(cols)
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, p in enumerate(parts):
            # Column.&/| are LOGICAL in PySpark — bitwise needs the
            # explicit bitwiseAND/bitwiseOR methods
            plane = F.shiftright(p, b).bitwiseAND(one)
            z = z.bitwiseOR(F.shiftleft(plane, b * n + i).cast("long"))
    return z


def append_zorder(
    df: DataFrame, table: str, zorder_by: list[str], bits: int = 16,
    num_files: int | None = None, checkpoint_every: int = 10,
) -> int:
    """Append with Z-curve clustering: rows are range-partitioned and
    sorted by the interleaved key, then written with footer stats on
    every z-ordered column — multi-dimensional file skipping."""
    from pyspark.sql import functions as F  # noqa: F401

    z = zorder_expr(df, zorder_by, bits)
    n = num_files or df.rdd.getNumPartitions()
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    base = table_version(table)
    # cluster_by=None here: the layout is already z-clustered; stats
    # are harvested on the z-ordered columns
    adds = _write_data_files(clustered, table, base + 1, zorder_by, None)
    _validate_constraints(df.sparkSession, table, adds)
    return _commit_retry(
        table, "append-zorder", adds, [], df.schema.json(), base,
        checkpoint_every,
    )


def compact_zorder(
    spark: SparkSession, table: str, zorder_by: list[str],
    bits: int = 16, num_files: int | None = None,
    checkpoint_every: int = 10,
) -> int:
    """OPTIMIZE ... ZORDER BY: rewrite the ENTIRE live set Z-curve-
    clustered in one atomic remove+add commit — the maintenance form
    of ``append_zorder`` for a table whose ingestion order no longer
    matches its query dimensions. Deletion vectors materialize on the
    way through; readers' result sets are unchanged (CDF skips it like
    any compact). Stats land on every z-ordered column, so
    single-column predicates on ANY of them prune files afterwards."""
    base = table_version(table)
    current = live_files(table)
    df = _read_adds(spark, table, current)
    z = zorder_expr(df, zorder_by, bits)
    n = num_files or max(1, len(current) // 2)
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    return _rewrite_commit(
        spark, table, "compact", base, [clustered], current,
        df.schema.json(), checkpoint_every, zorder_by,
    )


# ------------------------------------------------------------- change feed


def table_changes(
    spark: SparkSession, table: str, from_version: int, to_version: int,
    key: str | None = None,
) -> DataFrame:
    """Change Data Feed: row-level changes between two versions —
    what an INCREMENTAL downstream consumer (index refresh, training-set
    delta, replication) reads instead of re-scanning the table.

    Changes are DERIVED from the log: each commit's add/remove file sets
    are compared at the row level, so no extra change files are written
    on the hot path (the Delta CDF trade-off flipped toward cheap
    writes). Per commit in ``(from_version, to_version]``:

    - append commits: every added row → ``insert``
    - compact/purge commits: no logical change (pure metadata swap /
      DV materialization) → nothing
    - overwrite/merge/delete/restore commits with ``key``: keys only in
      the removed-or-replaced files' pre-images → ``delete``; only in
      added → ``insert``; in both with ANY payload difference →
      ``update_preimage``/``update_postimage`` (the unchanged majority
      produces no change rows — rows that merely moved files are not
      changes). A ``delete_dv`` commit replaces a live file's action
      with a fatter deletion vector, so its newly-deleted rows surface
      as ``delete`` and a restore that un-deletes them as ``insert`` —
      both sides of the diff read DV-aware.
    - the same commits without ``key``: coarse ``delete``+``insert`` of
      the two row sets (no identity to diff on — documented)

    Output: table columns + ``_change_type`` + ``_commit_version``.
    Needs the removed files still on disk (pre-vacuum horizon) — a
    vacuumed range raises at scan, never returns a partial feed.
    """
    from pyspark.sql import functions as F

    latest = table_version(table)
    if not -1 <= from_version <= to_version <= latest:
        raise ValueError(
            f"change range [{from_version}, {to_version}] outside [-1, {latest}]"
        )
    # the feed unions per-version diffs by name: a rename/drop inside
    # the range would mix logical schemas — split the read at the
    # mapping-change boundary instead (Delta's CDF makes the same call)
    if to_version >= 0:
        _check_reader(_snapshot(table, to_version)["protocol"], table)
    cm = table_column_mapping(table, to_version) if to_version >= 0 else None
    cm_from = (
        table_column_mapping(table, from_version) if from_version >= 0
        else None
    )
    norm = lambda c: (  # noqa: E731
        dict((c or {}).get("map") or {}), sorted((c or {}).get("retired") or ())
    )
    if norm(cm) != norm(cm_from):
        raise ValueError(
            f"change range ({from_version}, {to_version}] crosses a "
            "rename_column/drop_column commit — read the feed in two "
            "ranges split at that version"
        )

    feeds = []
    for v in range(from_version + 1, to_version + 1):
        p = _version_path(table, v)
        if not _log_exists(table, v):
            raise ValueError(f"version {v} vacuumed from the log: {table}")
        actions = _read_actions(p)
        op = next(a["commit"]["operation"] for a in actions if "commit" in a)
        if op in _NO_DATA_CHANGE_OPS:
            continue
        pre = _snapshot(table, v - 1)["adds"] if v > 0 else {}
        add_acts = [a["add"] for a in actions if "add" in a]
        rem_paths = [a["remove"]["path"] for a in actions if "remove" in a]
        # a re-ADD of a live path (delete_dv attaching a vector, restore
        # re-pinning an older action) REPLACES it — the pre-image rows
        # belong on the old side of the diff
        replaced = [a["path"] for a in add_acts if a["path"] in pre]
        old_acts = [pre[q] for q in rem_paths + replaced if q in pre]
        rs = _physical_read_schema(_snapshot(table, to_version))
        new = _read_adds(spark, table, add_acts, column_mapping=cm,
                         read_schema=rs)
        old = _read_adds(spark, table, old_acts, column_mapping=cm,
                         read_schema=rs)

        def tag(df: DataFrame, typ: str) -> DataFrame:
            return df.withColumn("_change_type", F.lit(typ)).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )

        if old is None:
            if new is not None:
                feeds.append(tag(new, "insert"))
            continue
        if key is None:
            feeds.append(tag(old, "delete"))
            if new is not None:
                feeds.append(tag(new, "insert"))
            continue
        cols = [c for c in old.columns]
        payload = [c for c in cols if c != key]
        n = new if new is not None else old.limit(0)
        feeds.append(tag(n.join(old.select(key), on=key, how="left_anti"),
                         "insert"))
        feeds.append(tag(old.join(n.select(key), on=key, how="left_anti"),
                         "delete"))
        # matched keys: emit pre/post ONLY where any payload field moved
        # (null-safe struct compare — a 5→NULL change must still emit)
        o = old.select(key, F.struct(*payload).alias("__pre"))
        m = n.select(key, *payload).join(o, on=key, how="inner").filter(
            ~F.struct(*payload).eqNullSafe(F.col("__pre"))
        )
        pre = m.select(key, *[F.col(f"__pre.{c}").alias(c) for c in payload])
        feeds.append(tag(pre.select(*cols), "update_preimage"))
        feeds.append(tag(m.select(*cols), "update_postimage"))
    if not feeds:
        snap = _snapshot(table, to_version if to_version >= 0 else 0)
        schema = snap["schema"]
        if not schema:
            raise FileNotFoundError(f"empty table with no schema: {table}")
        from pyspark.sql import types as ST

        empty = spark.createDataFrame(
            [], schema=ST.StructType.fromJson(json.loads(schema))
        )
        return empty.withColumn("_change_type", F.lit("")).withColumn(
            "_commit_version", F.lit(0).cast("long")
        ).limit(0)
    out = feeds[0]
    for f in feeds[1:]:
        out = out.unionByName(f)
    return out
