"""deltalite as a REGISTERED SPARK DATA SOURCE (PySpark 4 Python
DataSource API): ``spark.readStream.format("deltalite")`` tails the
transaction log version-by-version with exactly-once offset tracking,
and ``spark.read.format("deltalite")`` snapshot-reads with deletion
vectors applied — the Delta-streaming-source semantics on the engine's
own table format, no JVM extension needed.

Semantics (mirrors the public Delta source contract):

- **Offsets are table versions.** ``initialOffset`` = -1 (or
  ``startingVersion``); ``latestOffset`` = the current committed
  version. Spark's own offset log makes recovery exactly-once: a
  restarted query re-plans exactly the un-committed version range.
- **Appends feed the stream**; compact/purge commits are pure metadata
  (skipped silently); overwrite/merge/delete commits RAISE unless
  ``skipChangeCommits=true`` (silently treating a rewrite as fresh
  rows would double-count — the Delta failure mode this option exists
  for).
- **One input partition per added file** — the parallelism of the
  micro-batch is the commit's file count; executors read their file
  with pyarrow and emit Arrow record batches (zero row-by-row Python).
- The BATCH reader applies deletion vectors per file (position-mask
  ``take`` on the Arrow table) and supports ``version`` time travel.
- ``readChangeFeed=true`` (stream OR batch with startingVersion/
  endingVersion) emits row-level changes per commit, computed per-file
  on executors — appends as ``insert``, deletion-vector deltas as
  exactly the incremental ``delete`` set, restore un-deletes as
  ``insert``; rewrite commits fall to the documented coarse file-set
  diff (``table_changes(key=...)`` is the precise keyed API).
- ``writeStream.format("deltalite")`` is the exactly-once SINK: one
  txn-stamped commit per micro-batch (see DeltaliteStreamWriter).

100 TB posture: planning is O(files-in-range) driver-side metadata
(the same cost the JVM Delta source pays); all data bytes move
executor-side as Arrow.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


class _FilePart(InputPartition):
    def __init__(self, path: str, dv_paths: tuple = (), rel: str = "",
                 renames: tuple = (), drops: tuple = (), casts: tuple = ()):
        self.path = path
        self.dv_paths = tuple(dv_paths)
        # type-widened columns: (physical name, arrow target) — narrow
        # eras of a widened column upcast executor-side so every batch
        # matches the declared (wide) schema
        self.casts = tuple(casts)
        # the log-relative path ("data/<commit>/[...partition dirs...]/
        # <file>") — DV sidecars key deleted positions on exactly this
        # string, and it cannot be re-derived from the absolute path by
        # segment count once partitioned commits nest __p_<col>=<value>
        # directories, so it rides along from planning time
        self.rel = rel
        # column mapping, resolved at PLANNING time (physical→logical
        # rename pairs + retired physical columns to drop): data files
        # carry physical names; the declared schema is logical
        self.renames = tuple(renames)
        self.drops = tuple(drops)


def _cm_parts(cm) -> tuple[tuple, tuple]:
    """A column mapping → (_FilePart.renames, _FilePart.drops)."""
    if not cm:
        return (), ()
    renames = tuple(
        (p, l) for l, p in (cm.get("map") or {}).items() if p != l
    )
    return renames, tuple(cm.get("retired") or ())


_ARROW_WIDE = {"short": "int16", "integer": "int32", "long": "int64",
               "double": "float64"}


def _tw_parts(tw) -> tuple:
    """type_widening state → _FilePart.casts pairs."""
    return tuple(
        (c, _ARROW_WIDE[t]) for c, t in (tw or {}).items()
        if t in _ARROW_WIDE
    )


def _read_arrow_with_dv(path: str, dv_paths: tuple, rel: str = "",
                        renames: tuple = (), drops: tuple = (),
                        casts: tuple = ()):
    """Arrow table of one data file minus its deletion-vector
    positions (executor-side; no Spark imports)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    for col, target in casts:
        if col in t.column_names:
            i = t.column_names.index(col)
            f = t.schema.field(i)
            if str(f.type) != target:
                t = t.set_column(
                    i, f.name, t.column(i).cast(pa.type_for_alias(target))
                )
    if renames or drops:
        m = dict(renames)
        gone = set(drops)
        keep = [c for c in t.column_names if c not in gone]
        t = t.select(keep).rename_columns([m.get(c, c) for c in keep])
    if dv_paths:
        if not rel:  # legacy fallback: flat data/<commit>/<file> layout
            rel = "/".join(path.rsplit("/", 3)[1:])
        drop = set()
        for dv in dv_paths:
            sidecar = pq.read_table(dv, columns=["file", "pos"])
            files = sidecar.column("file").to_pylist()
            poss = sidecar.column("pos").to_pylist()
            drop.update(p for f, p in zip(files, poss) if f == rel)
        if drop:
            import numpy as np

            mask = np.ones(t.num_rows, dtype=bool)
            mask[np.fromiter(drop, dtype=np.int64)] = False
            t = t.take(np.flatnonzero(mask))
    return t


class DeltaliteStreamReader(DataSourceStreamReader):
    def __init__(self, table: str, skip_change_commits: bool,
                 starting_version: int = 0):
        self.table = table
        self.skip_change_commits = skip_change_commits
        self.starting_version = starting_version

    def initialOffset(self) -> dict:
        return {"version": self.starting_version - 1}

    def latestOffset(self) -> dict:
        from pygdf_spark.sources import deltalite as dl

        return {"version": dl.table_version(self.table)}

    def partitions(self, start: dict, end: dict):
        from pygdf_spark.sources import deltalite as dl

        parts: list[_FilePart] = []
        # live-path set BEFORE each replayed commit, maintained
        # incrementally (one snapshot resolve, then O(actions) per
        # version) — needed to classify commits by CONTENT, not by
        # operation name: an add-only commit that re-ADDS an already
        # live path (delete_dv fattening a deletion vector) replaces
        # rows and is a change commit, while an add-only commit of all
        # fresh paths (append, append-zorder, a pure-insert merge) is
        # an append regardless of what the writer called it. Name-based
        # classification silently DROPPED pure-insert merge rows under
        # skipChangeCommits — data loss, the Delta contract treats only
        # remove-bearing/replacing commits as change commits.
        sv = start["version"]
        live: set[str] = (
            set(dl._snapshot(self.table, sv)["adds"]) if sv >= 0 else set()
        )
        # mapping pinned alongside the stream's declared schema: data
        # files are physical forever, so translating with the pinned
        # mapping stays correct even if a rename lands mid-stream
        renames, drops = _cm_parts(
            dl.table_column_mapping(self.table)
        )
        casts = _tw_parts(dl.table_type_widening(self.table))
        for v in range(sv + 1, end["version"] + 1):
            p = dl._version_path(self.table, v)
            if not dl._log_exists(self.table, v):
                raise ValueError(
                    f"deltalite stream: version {v} vacuumed from the log"
                )
            actions = dl._read_actions(p)
            op = next(
                a["commit"]["operation"] for a in actions if "commit" in a
            )
            adds = [a["add"] for a in actions if "add" in a]
            removes = [a["remove"]["path"] for a in actions if "remove" in a]
            replaces_live = any(a["path"] in live for a in adds)
            is_change = bool(removes) or replaces_live
            # compact/purge rewrite files but change NO logical rows
            # (the dataChange=false analog) and constraint commits carry
            # no files: never an error, never data
            if op in dl._NO_DATA_CHANGE_OPS:
                pass
            elif not is_change:
                # append-like by content: all-new files, nothing removed
                for a in adds:
                    parts.append(
                        # _log_rel: a CLONED add's path is absolute;
                        # DV sidecars key on the data/<commit>/... tail
                        _FilePart(os.path.join(self.table, a["path"]),
                                  rel=dl._log_rel(a["path"]),
                                  renames=renames, drops=drops,
                                  casts=casts)
                    )
            elif not self.skip_change_commits:
                raise ValueError(
                    f"deltalite stream: change commit v{v} ({op}: "
                    f"{len(removes)} removed, "
                    f"{sum(a['path'] in live for a in adds)} replaced) — "
                    "set skipChangeCommits=true to skip change commits, or "
                    "consume row-level changes via table_changes()"
                )
            live -= set(removes)
            live |= {a["path"] for a in adds}
        return parts

    def read(self, partition: _FilePart):
        t = _read_arrow_with_dv(partition.path, partition.dv_paths,
                                getattr(partition, "rel", ""),
                                getattr(partition, "renames", ()),
                                getattr(partition, "drops", ()),
                                getattr(partition, "casts", ()))
        yield from t.to_batches()

    def commit(self, end: dict) -> None:
        pass  # Spark's offset log is the source of truth


class DeltaliteBatchReader(DataSourceReader):
    def __init__(self, table: str, version: int | None):
        self.table = table
        self.version = version

    def partitions(self):
        from pygdf_spark.sources import deltalite as dl

        adds, _ = dl.plan_adds(self.table, self.version)
        v = dl._resolve_version(self.table, self.version)
        renames, drops = _cm_parts(dl.table_column_mapping(self.table, v))
        casts = _tw_parts(dl.table_type_widening(self.table, v))
        return [
            _FilePart(
                os.path.join(self.table, a["path"]),
                tuple(
                    os.path.join(self.table, d["path"])
                    for d in (a.get("dv") or [])
                ),
                rel=dl._log_rel(a["path"]),
                renames=renames,
                drops=drops,
                casts=casts,
            )
            for a in adds
        ]

    def read(self, partition: _FilePart):
        t = _read_arrow_with_dv(partition.path, partition.dv_paths,
                                getattr(partition, "rel", ""),
                                getattr(partition, "renames", ()),
                                getattr(partition, "drops", ()),
                                getattr(partition, "casts", ()))
        yield from t.to_batches()


class DeltaliteDataSource(DataSource):
    """``spark.dataSource.register(DeltaliteDataSource)`` then
    ``spark.read.format("deltalite").option("path", t)`` /
    ``spark.readStream.format("deltalite").option("path", t)``."""

    @classmethod
    def name(cls) -> str:
        return "deltalite"

    def _table(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("deltalite: .option('path', <table dir>) required")
        return path

    def _cdf(self) -> bool:
        return str(
            self.options.get("readchangefeed", "false")
        ).lower() == "true"

    def schema(self) -> StructType:
        from pyspark.sql.types import LongType, StringType, StructField

        from pygdf_spark.sources import deltalite as dl

        table = self._table()
        v = dl.table_version(table)
        if v < 0:
            raise FileNotFoundError(f"no such deltalite table: {table}")
        snap = dl._snapshot(table, v)
        dl._check_reader(snap["protocol"], table)
        schema_json = snap["schema"]
        if not schema_json:
            raise FileNotFoundError(f"empty table with no schema: {table}")
        st = StructType.fromJson(json.loads(schema_json))
        if self._cdf():
            st = StructType(
                st.fields
                + [StructField("_change_type", StringType()),
                   StructField("_commit_version", LongType())]
            )
        return st

    def reader(self, schema: StructType):
        if self._cdf():
            from pygdf_spark.sources import deltalite as dl

            table = self._table()
            start = int(self.options.get("startingversion", 0))
            end = self.options.get("endingversion")
            return DeltaliteChangeFeedBatchReader(
                table, start,
                int(end) if end is not None else dl.table_version(table),
            )
        v = self.options.get("version")
        return DeltaliteBatchReader(
            self._table(), int(v) if v is not None else None
        )

    def streamReader(self, schema: StructType):
        if self._cdf():
            return DeltaliteChangeFeedReader(self._table())
        skip = str(
            self.options.get("skipchangecommits", "false")
        ).lower() == "true"
        start = int(self.options.get("startingversion", 0))
        return DeltaliteStreamReader(self._table(), skip, start)

    def streamWriter(self, schema: StructType, overwrite: bool):
        from pygdf_spark.sources import deltalite as dl

        app_id = self.options.get(
            "appid",
            self.options.get("checkpointlocation", "deltalite-stream-sink"),
        )
        stat_cols = [
            c for c in str(self.options.get("statcols", "")).split(",") if c
        ]
        # partition spec resolved DRIVER-side (executors never read the
        # log): inherited from the table, or set by the `partitionBy`
        # option on the sink's FIRST commit (immutable afterwards, same
        # contract as dl.append)
        requested = [
            c for c in str(self.options.get("partitionby", "")).split(",")
            if c
        ] or None
        pby = dl._resolve_partition_by(self._table(), requested)
        return DeltaliteStreamWriter(
            self._table(), schema, app_id, stat_cols, pby
        )


def register(spark) -> None:
    """Idempotently register the 'deltalite' format on a session."""
    spark.dataSource.register(DeltaliteDataSource)


# ------------------------------------------------------- streaming SINK


class _ShardMsg(WriterCommitMessage):
    def __init__(self, shards: list):
        # [(log-relative path, row count)] — one entry per staged file;
        # a partitioned sink task stages one file per partition value
        self.shards = list(shards)


class DeltaliteStreamWriter(DataSourceStreamWriter):
    """``writeStream.format("deltalite")``: each partition stages one
    parquet shard executor-side (pyarrow, schema-pinned); the driver
    publishes ONE txn-stamped deltalite commit per micro-batch. The
    txn app-id defaults to the query's checkpointLocation, so a
    REPLAYED micro-batch (sink failure after commit, Spark retry) is
    swallowed by the transaction high-water mark — exactly-once, the
    same guarantee the foreachBatch helper gives, now as a native
    format. Aborted batches unlink their staged shards; crashed-task
    orphans are unreferenced files that vacuum() reclaims."""

    def __init__(self, table: str, schema: StructType, app_id: str,
                 stat_cols: list[str], partition_by: list[str] | None = None):
        self.table = table
        self.schema = schema
        self.app_id = app_id
        self.stat_cols = stat_cols
        self.partition_by = list(partition_by) if partition_by else None
        self.stage = f"stream-{os.getpid()}-{__import__('uuid').uuid4().hex[:8]}"
        # column mapping pinned at stream start (same discipline as the
        # stream READER): shards must land with PHYSICAL column names —
        # logical-named bytes on a mapped table would collide with the
        # scan-boundary translation. commit() re-checks the pin.
        from pygdf_spark.sources import deltalite as dl

        cm = (dl.table_column_mapping(table)
              if dl.table_version(table) >= 0 else None)
        self.cm_pin = {
            "map": dict((cm or {}).get("map") or {}),
            "retired": sorted((cm or {}).get("retired") or []),
        }

    def write(self, iterator) -> "_ShardMsg":
        import uuid as _uuid
        from urllib.parse import quote

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        rows = list(iterator)
        if not rows:
            return _ShardMsg([])
        arrow_schema = to_arrow_schema(self.schema)
        cols = [f.name for f in self.schema.fields]

        phys = self.cm_pin["map"]

        def _stage_one(subrows, subdir: str):
            data = {c: [r[i] for r in subrows] for i, c in enumerate(cols)}
            t = pa.Table.from_pydict(data, schema=arrow_schema)
            if phys:  # logical → physical before bytes land
                t = t.rename_columns([phys.get(c, c) for c in t.column_names])
            rel = os.path.join(
                "data", self.stage, *filter(None, [subdir]),
                f"part-{_uuid.uuid4().hex}.parquet",
            )
            full = os.path.join(self.table, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            tmp = full + ".tmp"
            pq.write_table(t, tmp)
            os.replace(tmp, full)  # atomic: no torn shard ever referenced
            return rel, len(subrows)

        if not self.partition_by:
            return _ShardMsg([_stage_one(rows, "")])
        # partitioned sink: one single-valued shard per partition value
        # (hive layout, real columns kept in the data — the same layout
        # contract as _write_data_files, so partition pruning and
        # metadata-only DELETE work on stream-landed data too)
        pidx = [cols.index(c) for c in self.partition_by]

        def _hive(v):
            return ("__HIVE_DEFAULT_PARTITION__" if v is None
                    else quote(str(v), safe=""))

        groups: dict = {}
        for r in rows:
            groups.setdefault(tuple(r[i] for i in pidx), []).append(r)
        shards = []
        for key, grp in sorted(groups.items(),
                               key=lambda kv: tuple(map(str, kv[0]))):
            subdir = "/".join(
                f"__p_{c}={_hive(v)}"
                for c, v in zip(self.partition_by, key)
            )
            shards.append(_stage_one(grp, subdir))
        return _ShardMsg(shards)

    def commit(self, messages, batchId: int) -> None:
        from pyspark.sql import SparkSession

        from pygdf_spark.sources import deltalite as dl

        # partition columns auto-join the stats set (single-valued per
        # shard by construction) so partition predicates prune these
        # files and metadata-only DELETE fires on stream-landed data
        scols = list(self.stat_cols)
        for c in self.partition_by or ():
            if c not in scols:
                scols.append(c)
        # shards were staged with the PINNED mapping's physical names;
        # a rename/drop landing mid-stream would make them wrong — the
        # documented contract (Delta's too) is: restart the stream.
        cm_now = (dl.table_column_mapping(self.table)
                  if dl.table_version(self.table) >= 0 else None)
        cm_now = {
            "map": dict((cm_now or {}).get("map") or {}),
            "retired": sorted((cm_now or {}).get("retired") or []),
        }
        if cm_now != self.cm_pin:
            raise dl.ConcurrentWriteError(
                f"deltalite sink on {self.table}: column mapping changed "
                "mid-stream (rename_column/drop_column) — restart the "
                "streaming query to pick up the new mapping"
            )
        # same pin for the partition spec: shards were staged in the
        # spec pinned at stream start, and the commit header re-asserts
        # it — publishing after a mid-stream set_partition_spec would
        # silently REVERT the evolution. Restart contract, like mapping.
        pby_now = (dl.table_partition_by(self.table)
                   if dl.table_version(self.table) >= 0
                   else self.partition_by)
        if (pby_now or None) != (self.partition_by or None):
            raise dl.ConcurrentWriteError(
                f"deltalite sink on {self.table}: partition spec changed "
                f"mid-stream ({self.partition_by} -> {pby_now}) — restart "
                "the streaming query to pick up the new spec"
            )
        scols = [self.cm_pin["map"].get(c, c) for c in scols]
        adds = []
        for m in messages:
            for rel, nrows in (getattr(m, "shards", None) or []):
                full = os.path.join(self.table, rel)
                add = {"path": rel, "bytes": os.path.getsize(full),
                       "rows": int(nrows)}
                if scols:
                    add["stats"] = dl._file_stats(full, scols)
                if self.partition_by:
                    add["partition"] = dl._partition_values_from_rel(rel)
                adds.append(add)
        if not adds:
            return  # empty batch: nothing to publish
        if dl.table_version(self.table) >= 0 and dl.table_constraints(
            self.table
        ):
            # commit() runs driver-side but in the micro-batch thread,
            # where getActiveSession() is None — getOrCreate returns
            # the running session. Constraints must not be bypassable
            # just because rows arrived through the streaming sink.
            spark = (
                SparkSession.getActiveSession()
                or SparkSession.builder.getOrCreate()
            )
            dl._validate_constraints(spark, self.table, adds)
        base = dl.table_version(self.table)
        schema_json = json.dumps(json.loads(self.schema.json()))
        dl._commit_retry(
            self.table, "append", adds, [], schema_json, base,
            checkpoint_every=10, txn=(self.app_id, int(batchId)),
            partition_by=self.partition_by,
        )

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            for rel, _n in (getattr(m, "shards", None) or []):
                try:
                    os.unlink(os.path.join(self.table, rel))
                except OSError:
                    pass


# ---------------------------------------------- streaming CHANGE FEED


class _ChangePart(InputPartition):
    def __init__(self, kind: str, path: str, version: int,
                 rel: str = "", dv_old: tuple = (), dv_new: tuple = ()):
        self.kind = kind          # insert | delete | dv_delete
        self.path = path
        self.version = version
        self.rel = rel            # log-relative path (dv position key)
        self.dv_old = tuple(dv_old)
        self.dv_new = tuple(dv_new)


def _dv_positions_for(rel: str, dv_paths: tuple) -> set:
    import pyarrow.parquet as pq

    out: set = set()
    for dv in dv_paths:
        t = pq.read_table(dv, columns=["file", "pos"])
        files = t.column("file").to_pylist()
        poss = t.column("pos").to_pylist()
        out.update(p for f, p in zip(files, poss) if f == rel)
    return out


class DeltaliteChangeFeedReader(DataSourceStreamReader):
    """``readStream.format("deltalite").option("readChangeFeed",
    "true")``: row-level changes per commit, computed PER FILE on the
    executors (no cross-file joins, so every partition is independent):

    - append commits → added rows tagged ``insert``;
    - delete_dv commits → rows at the NEW-minus-OLD deleted positions
      of each re-pointed file tagged ``delete`` (pyarrow position take);
    - compact/purge → nothing (pure metadata);
    - overwrite/merge/delete/restore → COARSE file-set diff: removed/
      replaced files' pre-images (DV-applied) tagged ``delete``, added
      files tagged ``insert`` — the per-file-computable contract; the
      batch ``table_changes(key=...)`` API is the precise keyed diff.

    Output schema: table columns + ``_change_type`` +
    ``_commit_version``."""

    def __init__(self, table: str):
        self.table = table

    def initialOffset(self) -> dict:
        return {"version": -1}

    def latestOffset(self) -> dict:
        from pygdf_spark.sources import deltalite as dl

        return {"version": dl.table_version(self.table)}

    def partitions(self, start: dict, end: dict):
        from pygdf_spark.sources import deltalite as dl

        parts: list[_ChangePart] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            p = dl._version_path(self.table, v)
            if not os.path.exists(p):
                raise ValueError(
                    f"deltalite cdf stream: version {v} vacuumed"
                )
            actions = dl._read_actions(p)
            op = next(
                a["commit"]["operation"] for a in actions if "commit" in a
            )
            if op in dl._NO_DATA_CHANGE_OPS:
                continue
            pre = dl._snapshot(self.table, v - 1)["adds"] if v > 0 else {}
            add_acts = [a["add"] for a in actions if "add" in a]
            rem_paths = [a["remove"]["path"] for a in actions
                         if "remove" in a]
            for a in add_acts:
                full = os.path.join(self.table, a["path"])
                old = pre.get(a["path"])
                if old is None:
                    # brand-new file: every (DV-surviving) row inserts
                    parts.append(_ChangePart(
                        "insert", full, v, a["path"],
                        dv_new=tuple(
                            os.path.join(self.table, d["path"])
                            for d in (a.get("dv") or [])
                        ),
                    ))
                else:
                    # replaced action (delete_dv / restore re-pin):
                    # emit the position DELTA as deletes (or
                    # un-deletes as inserts when a restore shrinks DVs)
                    parts.append(_ChangePart(
                        "dv_delete", full, v, a["path"],
                        dv_old=tuple(
                            os.path.join(self.table, d["path"])
                            for d in (old.get("dv") or [])
                        ),
                        dv_new=tuple(
                            os.path.join(self.table, d["path"])
                            for d in (a.get("dv") or [])
                        ),
                    ))
            for rp in rem_paths:
                old = pre.get(rp)
                if old is None:
                    continue
                parts.append(_ChangePart(
                    "delete", os.path.join(self.table, rp), v, rp,
                    dv_old=tuple(
                        os.path.join(self.table, d["path"])
                        for d in (old.get("dv") or [])
                    ),
                ))
        return parts

    def read(self, partition: _ChangePart):
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(partition.path)

        def tagged(tbl, change):
            n = tbl.num_rows
            tbl = tbl.append_column(
                "_change_type", pa.array([change] * n, pa.string())
            )
            return tbl.append_column(
                "_commit_version",
                pa.array([partition.version] * n, pa.int64()),
            )

        def minus(tbl, drop):
            if not drop:
                return tbl
            import numpy as np

            mask = np.ones(tbl.num_rows, dtype=bool)
            mask[np.fromiter(drop, dtype=np.int64)] = False
            return tbl.take(np.flatnonzero(mask))

        if partition.kind == "insert":
            t = minus(t, _dv_positions_for(partition.rel, partition.dv_new))
            yield from tagged(t, "insert").to_batches()
        elif partition.kind == "delete":
            t = minus(t, _dv_positions_for(partition.rel, partition.dv_old))
            yield from tagged(t, "delete").to_batches()
        else:  # dv_delete: position delta between old and new vectors
            old = _dv_positions_for(partition.rel, partition.dv_old)
            new = _dv_positions_for(partition.rel, partition.dv_new)
            newly_deleted = sorted(new - old)
            undeleted = sorted(old - new)
            if newly_deleted:
                yield from tagged(
                    t.take(newly_deleted), "delete"
                ).to_batches()
            if undeleted:
                yield from tagged(t.take(undeleted), "insert").to_batches()

    def commit(self, end: dict) -> None:
        pass


class DeltaliteChangeFeedBatchReader(DataSourceReader):
    """Batch CDF through the format API (the Delta
    ``read.format(...).option("readChangeFeed", "true")`` shape):
    row-level changes for [startingVersion, endingVersion], planned and
    read exactly like the streaming feed — per-file partitions, coarse
    file-set semantics for rewrite commits (``table_changes(key=...)``
    is the precise keyed diff)."""

    def __init__(self, table: str, start: int, end: int):
        self._feed = DeltaliteChangeFeedReader(table)
        self.start = start
        self.end = end

    def partitions(self):
        return self._feed.partitions(
            {"version": self.start - 1}, {"version": self.end}
        )

    def read(self, partition):
        yield from self._feed.read(partition)
