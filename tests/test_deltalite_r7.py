"""Round-7 deltalite hardening: the pluggable LogStore seam, the
distributed (executor-side) stats harvest for large commits, and the
four adversarial-review fixes — content-based stream-commit
classification, the bloom mixed-type guard, null-count integrity, and
the CHECK-constraint TOCTOU re-validation."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from pygdf_spark.sources import deltalite as dl
from pygdf_spark.streaming.lake_source import register


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


# ------------------------------------------------------------- LogStore


class InMemoryLogStore(dl.LogStore):
    """A log backend with NO POSIX dependency — proves every commit-log
    byte flows through the seam (an object-store backend differs only
    in where put_if_absent gets its atomicity)."""

    def __init__(self):
        self.blobs: dict[str, bytes] = {}
        self.lock = threading.Lock()
        self.put_calls = 0

    def put_if_absent(self, path, data):
        with self.lock:
            self.put_calls += 1
            if path in self.blobs:
                raise FileExistsError(path)
            self.blobs[path] = data

    def write_atomic(self, path, data):
        with self.lock:
            self.blobs[path] = data

    def read_bytes(self, path):
        try:
            return self.blobs[path]
        except KeyError:
            raise FileNotFoundError(path)

    def list_names(self, directory):
        prefix = directory.rstrip("/") + "/"
        return [
            p[len(prefix):] for p in self.blobs
            if p.startswith(prefix) and "/" not in p[len(prefix):]
        ]

    def exists(self, path):
        return path in self.blobs


def test_logstore_seam_full_lifecycle(spark, table):
    """append → time travel → delete_dv → checkpoint → read, all with
    the log held ONLY in memory (nothing under _txn_log on disk)."""
    import os

    store = InMemoryLogStore()
    prev = dl.set_log_store(store)
    try:
        for lo in range(0, 60, 20):
            df = spark.range(lo, lo + 20).withColumn("v", F.col("id") * 2)
            dl.append(df, table, stat_cols=["id"], checkpoint_every=2)
        assert dl.table_version(table) == 2
        assert dl.read_table(spark, table).count() == 60
        assert dl.read_table(spark, table, version=0).count() == 20
        res = dl.delete_where(spark, table, [("id", "<", 5)])
        assert res["rows_deleted"] == 5
        assert dl.read_table(spark, table).count() == 55
        # the log never touched the filesystem; data files did
        assert not os.path.isdir(os.path.join(table, "_txn_log"))
        assert store.put_calls >= 4
        assert any(p.endswith(".checkpoint.json") for p in store.blobs)
    finally:
        dl.set_log_store(prev)


def test_logstore_put_if_absent_is_the_race_primitive(spark, table):
    """Two writers computing the same version: exactly one wins the
    put, the loser retries at the next version — via the seam."""
    store = InMemoryLogStore()
    prev = dl.set_log_store(store)
    try:
        df = spark.range(10).withColumn("v", F.lit(1))
        dl.append(df, table)
        real_put = store.put_if_absent
        fired = {"done": False}

        def racing_put(path, data):
            if not fired["done"] and path.endswith("01.json"):
                fired["done"] = True
                # a concurrent writer lands version 1 first
                dl.append(spark.range(5).withColumn("v", F.lit(2)), table)
            real_put(path, data)

        store.put_if_absent = racing_put
        dl.append(spark.range(3).withColumn("v", F.lit(3)), table)
        assert dl.table_version(table) == 2
        assert dl.read_table(spark, table).count() == 18
    finally:
        dl.set_log_store(prev)


class AlwaysLosesLogStore(dl.LocalLogStore):
    """Every put-if-absent reports a lost race — what a backend whose
    listing lags its put-if-absent looks like to a committer. Calls are
    counted and capped, so an unbounded retry loop fails the test
    instead of hanging it."""

    CAP = 10_000

    def __init__(self):
        self.calls = 0

    def put_if_absent(self, path, data):
        self.calls += 1
        if self.calls > self.CAP:
            raise AssertionError("commit retry loop is unbounded")
        raise FileExistsError(path)


@pytest.mark.parametrize("op", ["append", "add_constraint",
                                "drop_constraint"])
def test_commit_retries_are_bounded(spark, table, op):
    df = spark.createDataFrame([(1,)], "x int")
    dl.append(df, table)
    dl.add_check_constraint(spark, table, "pos", "x > 0")
    ops = {
        "append": lambda: dl.append(df, table),
        "add_constraint": lambda: dl.add_check_constraint(
            spark, table, "small", "x < 10"),
        "drop_constraint": lambda: dl.drop_check_constraint(table, "pos"),
    }
    store = AlwaysLosesLogStore()
    prev = dl.set_log_store(store)
    try:
        with pytest.raises(dl.ConcurrentWriteError) as err:
            ops[op]()
    finally:
        dl.set_log_store(prev)
    assert store.calls == dl._MAX_COMMIT_ATTEMPTS
    assert f"{dl._MAX_COMMIT_ATTEMPTS} times" in str(err.value)
    assert dl.table_version(table) == 1
    assert dl.table_constraints(table) == {"pos": "x > 0"}


# ---------------------------------------------- distributed stats harvest


def test_large_commit_harvests_stats_distributed(spark, table):
    """A 1,000-file commit: stats must land on every add action with
    the harvest fanned out across executors (not a driver-serial footer
    loop), inside a sane wall-time bound."""
    df = spark.range(100_000).withColumn("v", F.col("id") % 97).repartition(1000)
    t0 = time.monotonic()
    dl.append(df, table, stat_cols=["id"], checkpoint_every=0)
    elapsed = time.monotonic() - t0
    adds = dl.live_files(table)
    assert len(adds) == 1000
    assert all("stats" in a and "id" in a["stats"] for a in adds)
    assert all(a["rows"] is not None for a in adds)
    assert sum(a["rows"] for a in adds) == 100_000
    # global min/max across per-file zone maps must cover the range
    assert min(a["stats"]["id"]["min"] for a in adds) == 0
    assert max(a["stats"]["id"]["max"] for a in adds) == 99_999
    # pruning still bites on the distributed-harvest stats
    files, total = dl.plan_files(table, predicate=[("id", "<", 100)])
    assert total == 1000 and len(files) < 1000
    assert elapsed < 120, f"1,000-file commit took {elapsed:.1f}s"


def test_small_commit_same_adds_as_large_path(spark, table):
    """Driver and distributed harvest must produce identical actions:
    force the distributed path for a small commit and diff."""
    df = spark.range(200).withColumn("v", F.col("id") * 3).repartition(4)
    dl.append(df, table, stat_cols=["id", "v"], bloom_cols=["v"])
    small = dl.live_files(table)
    try:
        orig = dl._DRIVER_HARVEST_MAX
        dl._DRIVER_HARVEST_MAX = 0  # everything goes distributed
        dl.overwrite(df, table, stat_cols=["id", "v"])
        big = dl.live_files(table)
    finally:
        dl._DRIVER_HARVEST_MAX = orig
    def strip(adds):
        return sorted(
            ({k: v for k, v in a.items() if k != "path"} for a in adds),
            key=lambda a: a["stats"]["id"]["min"],
        )
    # bloom only requested on the first write; compare the common core
    assert [
        {"rows": a["rows"], "stats": a["stats"]} for a in strip(small)
    ] == [{"rows": a["rows"], "stats": a["stats"]} for a in strip(big)]


# -------------------------------------------------- bloom mixed-type guard


def _bloom_add_for(spark, table, values):
    df = spark.createDataFrame([(v,) for v in values], "k int")
    dl.append(df.coalesce(1), table, stat_cols=["k"], bloom_cols=["k"])
    (add,) = dl.live_files(table)
    assert "bloom" in add and "k" in add["bloom"]
    return add


def test_bloom_probe_stands_down_on_kind_mismatch(spark, table):
    """A string literal probing an int column is SQL-equal after
    Spark's implicit cast but hashes to a different bloom key — the
    probe must NOT prune (false prune = silent data loss via
    delete_where's candidate pruning)."""
    add = _bloom_add_for(spark, table, [1, 2, 42, 99])
    # same-kind probes keep working
    assert dl._file_may_match(add, [("k", "=", 42)]) is True
    assert dl._file_may_match(add, [("k", "=", 7)]) is False
    # kind mismatch: never prune
    assert dl._file_may_match(add, [("k", "=", "42")]) is True
    assert dl._file_may_match(add, [("k", "=", "7")]) is True
    # integral float folds onto int (SQL-equal), still prunable
    assert dl._file_may_match(add, [("k", "=", 42.0)]) is True
    assert dl._file_may_match(add, [("k", "=", 7.0)]) is False


def test_bloom_mismatch_delete_still_finds_rows(spark, table):
    """End-to-end: the engine filter uses Spark's cast semantics, so a
    mismatched-kind delete must still delete the matching rows."""
    _bloom_add_for(spark, table, list(range(50)))
    res = dl.delete_where(spark, table, [("k", "=", "42")])
    assert res["rows_deleted"] == 1
    assert dl.read_table(spark, table).count() == 49


# ---------------------------------------------------- null-count integrity


def test_missing_null_count_never_prunes_isnull():
    """An add whose stats carry min/max but NO 'nulls' key (some row
    group lacked null_count) must not satisfy isnull pruning."""
    add = {"path": "p", "rows": 10, "stats": {"c": {"min": 1, "max": 5}}}
    assert dl._file_may_match(add, [("c", "isnull", None)]) is True
    assert dl._file_may_match(add, [("c", "notnull", None)]) is True
    withnulls = {"path": "p", "rows": 10,
                 "stats": {"c": {"min": 1, "max": 5, "nulls": 0}}}
    assert dl._file_may_match(withnulls, [("c", "isnull", None)]) is False


# ------------------------------------------------ CHECK-constraint TOCTOU


def test_add_check_constraint_revalidates_after_concurrent_write(
    spark, table, monkeypatch
):
    """A concurrent append landing violating rows between the
    validation scan and the constraint publish must fail the
    constraint, not leave the table claiming an impossible state."""
    dl.append(spark.createDataFrame([(1,), (2,)], "x int"), table)
    real_publish = dl._publish
    fired = {"done": False}

    def racing_publish(tbl, version, actions):
        if not fired["done"] and any("constraint" in a for a in actions):
            fired["done"] = True
            dl.append(spark.createDataFrame([(-5,)], "x int"), table)
        real_publish(tbl, version, actions)

    monkeypatch.setattr(dl, "_publish", racing_publish)
    with pytest.raises(ValueError, match="violate"):
        dl.add_check_constraint(spark, table, "pos", "x > 0")
    assert "pos" not in dl.table_constraints(table)
    # and the clean path still lands
    fired["done"] = True
    dl.delete_where(spark, table, [("x", "<", 0)])
    dl.add_check_constraint(spark, table, "pos", "x > 0")
    assert "pos" in dl.table_constraints(table)


# ------------------------------- content-based stream classification


def _drain(spark, table, tmp_path, name, skip=False):
    reader = spark.readStream.format("deltalite").option("path", table)
    if skip:
        reader = reader.option("skipChangeCommits", "true")
    q = (
        reader.load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_pure_insert_merge_is_append(spark, table, tmp_path):
    """A merge_into with zero matched keys commits adds-only
    (removes=[]) — by content it IS an append, and its rows must flow
    to the stream under BOTH skip settings (the name-based classifier
    silently dropped them under skipChangeCommits: data loss)."""
    register(spark)
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    dl.append(df, table, stat_cols=["id"])
    src = spark.range(200, 250).withColumn("v", F.col("id") * 2)
    res = dl.merge_into(spark, table, src, on="id", stat_cols=["id"])
    assert res["files_rewritten"] == 0  # pure insert
    got = _drain(spark, table, tmp_path, "lake_r7_pi", skip=False)
    assert got.count() == 150  # no raise, both commits streamed
    got2 = _drain(spark, table, tmp_path, "lake_r7_pi_skip", skip=True)
    assert got2.count() == 150


def test_stream_append_zorder_is_append(spark, table, tmp_path):
    register(spark)
    df = spark.range(100).withColumn("v", F.col("id") % 7)
    dl.append_zorder(df, table, zorder_by=["id", "v"])
    got = _drain(spark, table, tmp_path, "lake_r7_zo", skip=False)
    assert got.count() == 100


def test_stream_readd_of_live_path_is_change(spark, table, tmp_path):
    """delete_dv re-ADDS a live path (same file, fatter DV): by content
    that replaces rows — a change commit, so skipChangeCommits must
    skip it rather than re-emit (or double-count) the file."""
    register(spark)
    dl.append(spark.range(100).withColumn("v", F.lit(1)), table,
              stat_cols=["id"])
    dl.delete_where(spark, table, [("id", "<", 10)])
    got = _drain(spark, table, tmp_path, "lake_r7_dv", skip=True)
    assert got.count() == 100  # v0's file once; the dv re-add skipped
    with pytest.raises(Exception, match="skipChangeCommits"):
        q = (
            spark.readStream.format("deltalite").option("path", table).load()
            .writeStream.format("memory").queryName("lake_r7_dv_fail")
            .option("checkpointLocation", str(tmp_path / "ck_fail"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.exception() is not None:
            raise Exception(str(q.exception()))


# ------------------------------ overwrite_where (Delta replaceWhere) --


def test_replace_where_basic(spark, table):
    """Replace one key-range slice: rows outside must be untouched,
    inside replaced by the incoming frame, atomically."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    dl.append(df.repartition(10), table, stat_cols=["id"],
              cluster_by=["id"])
    new = spark.range(20, 40).withColumn("v", F.lit(-1).cast("long"))
    res = dl.overwrite_where(
        spark, new, table, [("id", ">=", 20), ("id", "<", 40)],
        stat_cols=["id"],
    )
    assert res["rows_deleted"] == 20
    assert res["files_removed"] >= 1  # clustered files inside the range
    got = {r["id"]: r["v"] for r in dl.read_table(spark, table).collect()}
    assert len(got) == 100
    for i in range(100):
        assert got[i] == (-1 if 20 <= i < 40 else i * 2)
    # one atomic commit: exactly one version past the append
    assert dl.table_version(table) == 1


def test_replace_where_rejects_out_of_scope_rows(spark, table):
    dl.append(spark.range(10).withColumn("v", F.lit(0)), table)
    bad = spark.range(5, 15).withColumn("v", F.lit(1))
    with pytest.raises(ValueError, match="outside the declared"):
        dl.overwrite_where(spark, bad, table, [("id", "<", 10)])
    # nothing moved
    assert dl.table_version(table) == 0
    assert dl.read_table(spark, table).count() == 10


def test_replace_where_respects_deletion_vectors(spark, table):
    """A DV'd row is already dead: replace counts/moves only live rows
    and must not resurrect it."""
    dl.append(spark.range(50).withColumn("v", F.col("id")), table,
              stat_cols=["id"])
    dl.delete_where(spark, table, [("id", "=", 5)])  # dv delete
    res = dl.overwrite_where(
        spark, spark.range(0, 10).withColumn("v", F.lit(-7).cast("long")),
        table, [("id", "<", 10)], stat_cols=["id"],
    )
    assert res["rows_deleted"] == 9  # id=5 was already dead
    ids = sorted(r["id"] for r in dl.read_table(spark, table).collect())
    assert ids == list(range(50))  # 0..9 re-landed, 10..49 untouched
    got = {r["id"]: r["v"] for r in dl.read_table(spark, table).collect()}
    assert got[5] == -7 and got[20] == 20


def test_replace_where_time_travel_and_cdf(spark, table):
    """The replace is one commit: time travel reads the pre-image, and
    the change feed shows exactly the replaced slice."""
    dl.append(spark.range(30).withColumn("v", F.col("id")), table,
              stat_cols=["id"])
    dl.overwrite_where(
        spark, spark.range(10, 20).withColumn("v", F.col("id") * 100),
        table, [("id", ">=", 10), ("id", "<", 20)], stat_cols=["id"],
    )
    assert dl.read_table(spark, table, version=0).count() == 30
    ch = dl.table_changes(spark, table, 0, 1, key="id").collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], set()).add(r["id"])
    # all 10 replaced keys surface as updates (value moved), none outside
    assert by_type.get("update_postimage") == set(range(10, 20))
    assert "insert" not in by_type or not (
        by_type["insert"] - set(range(10, 20))
    )


# ------------------------- MERGE WHEN MATCHED THEN DELETE (CDC apply) --


def test_merge_delete_by_join(spark, table):
    """Delete-by-join: matched keys' rows removed, unmatched source
    keys ignored, untouched files ride through as metadata."""
    df = spark.range(100).withColumn("v", F.col("id"))
    dl.append(df.repartition(10), table, stat_cols=["id"],
              cluster_by=["id"])
    keys = spark.createDataFrame(
        [(i,) for i in [3, 7, 42, 99, 555]], "id long"  # 555 not present
    )
    res = dl.merge_into(spark, table, keys, on="id",
                        when_matched="delete", stat_cols=["id"])
    assert 1 <= res["files_rewritten"] < 10  # only files holding a key
    ids = sorted(r["id"] for r in dl.read_table(spark, table).collect())
    assert ids == [i for i in range(100) if i not in (3, 7, 42, 99)]
    assert dl.table_version(table) == 1  # one atomic commit


def test_merge_delete_whole_file_leaves_no_empty_shards(spark, table):
    """Deleting every key of a file must not publish 0-row shards."""
    dl.append(spark.range(0, 10).withColumn("v", F.lit(1)), table,
              stat_cols=["id"])
    dl.append(spark.range(10, 20).withColumn("v", F.lit(2)), table,
              stat_cols=["id"])
    keys = spark.range(0, 10).select(F.col("id"))
    dl.merge_into(spark, table, keys, on="id", when_matched="delete",
                  stat_cols=["id"])
    assert dl.read_table(spark, table).count() == 10
    assert all(a["rows"] > 0 for a in dl.live_files(table))
    # time travel still sees the pre-delete state
    assert dl.read_table(spark, table, version=1).count() == 20


def test_merge_delete_no_match_is_noop(spark, table):
    dl.append(spark.range(5).withColumn("v", F.lit(0)), table,
              stat_cols=["id"])
    keys = spark.createDataFrame([(1000,)], "id long")
    res = dl.merge_into(spark, table, keys, on="id",
                        when_matched="delete", stat_cols=["id"])
    assert res["files_rewritten"] == 0
    assert dl.table_version(table) == 0  # no commit published


# ------------------------------------------------- MERGE key types


def _data_files(table):
    return sorted(
        os.path.relpath(os.path.join(d, n), table)
        for d, _dirs, names in os.walk(os.path.join(table, "data"))
        for n in names
    )


@pytest.mark.parametrize("stat_cols", [["k"], None])
def test_merge_rejects_mismatched_key_type(spark, table, stat_cols):
    """A string key into a long table: with stats the key-range prune
    would compare str with int, without stats the merge would commit and
    re-declare the column over INT64 files. Both refuse up front."""
    dl.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
              table, stat_cols=stat_cols)
    files = _data_files(table)
    src = spark.createDataFrame([("2", "B"), ("3", "c")], "k string, v string")
    with pytest.raises(ValueError, match="'k'"):
        dl.merge_into(spark, table, src, on="k", stat_cols=stat_cols)
    assert dl.table_version(table) == 0
    assert _data_files(table) == files  # nothing written


def test_merge_int_key_into_long_table_still_merges(spark, table):
    dl.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
              table, stat_cols=["k"])
    src = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    res = dl.merge_into(spark, table, src, on="k", stat_cols=["k"])
    assert res["version"] == 1 and res["files_rewritten"] == 1
    got = sorted((r["k"], r["v"]) for r in dl.read_table(spark, table).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


# --------------------- rewrite-vs-DV-delete lost-update (r7 review #5)
#
# Every rewrite-style commit (compact / delete rewrite / merge /
# replaceWhere boundary / purge) derives its survivor rows from a
# snapshot. A concurrent DV-delete re-ADDS one of those files with a
# fatter deletion vector: the path stays live, so a remove check keyed
# on liveness alone would let the stale rewrite land and RESURRECT the
# concurrently-deleted rows — the classic lost update. The rewriters
# must pass require_unchanged for every file they derived from.


def _race_once(monkeypatch, spark, table, operation, racing):
    """Run ``racing()`` immediately before the first publish whose
    commit header carries ``operation`` (i.e. between the op's snapshot
    derivation and its commit)."""
    real_publish = dl._publish
    fired = {"done": False}

    def racing_publish(tbl, version, actions):
        hdr = actions[0].get("commit", {}) if actions else {}
        if not fired["done"] and hdr.get("operation") == operation:
            fired["done"] = True
            racing()
        real_publish(tbl, version, actions)

    monkeypatch.setattr(dl, "_publish", racing_publish)


def _vals(spark, table):
    return sorted(
        r["x"] for r in dl.read_table(spark, table).select("x").collect()
    )


@pytest.mark.parametrize("op", ["compact", "purge", "delete_rewrite",
                                "merge", "merge_delete", "replace_where",
                                "update", "compact_where",
                                "compact_small_files", "compact_zorder",
                                "merge_update"])
def test_rewrite_never_resurrects_concurrent_dv_delete(
    spark, table, monkeypatch, op
):
    # merge-update needs a non-key column to SET
    rows, ddl = (
        ([(i, 0) for i in range(1, 7)], "x int, y int")
        if op == "merge_update" else ([(i,) for i in range(1, 7)], "x int")
    )
    dl.append(spark.createDataFrame(rows, ddl), table, stat_cols=["x"])
    # ONE live file holding x=3, so the racing DV-delete provably hits
    # a file the op under test rewrites (scattered layouts where the op
    # touches a different file are benign and shouldn't raise)
    dl.compact(spark, table, num_files=1, stat_cols=["x"])
    if op == "purge":  # purge needs an outstanding DV to touch the file
        dl.delete_where(spark, table, [("x", "=", 6)], mode="dv")
    if op in ("compact_where", "compact_small_files"):
        # bin-packing leaves a lone small file alone: give it a second
        dl.append(spark.createDataFrame([(7,)], "x int"), table,
                  stat_cols=["x"])

    def racing():
        dl.delete_where(spark, table, [("x", "=", 3)], mode="dv")

    ops = {
        "compact": lambda: dl.compact(spark, table, num_files=1),
        "purge": lambda: dl.purge_dv(spark, table),
        "delete_rewrite": lambda: dl.delete_where(
            spark, table, [("x", ">", 5)], mode="rewrite"),
        "merge": lambda: dl.merge_into(
            spark, table, spark.createDataFrame([(5,)], "x int"), on="x"),
        "merge_delete": lambda: dl.merge_into(
            spark, table, spark.createDataFrame([(5,)], "x int"), on="x",
            when_matched="delete"),
        "replace_where": lambda: dl.overwrite_where(
            spark, spark.createDataFrame([(5,)], "x int"), table,
            [("x", ">=", 5)]),
        "update": lambda: dl.update_where(
            spark, table, [("x", "=", 5)], {"x": "x + 100"}),
        "compact_where": lambda: dl.compact_where(
            spark, table, [("x", ">=", 1)]),
        "compact_small_files": lambda: dl.compact_small_files(spark, table),
        "compact_zorder": lambda: dl.compact_zorder(spark, table, ["x"]),
        "merge_update": lambda: dl.merge_into(
            spark, table, spark.createDataFrame([(5, 9)], "x int, y int"),
            on="x", when_matched="update", set_exprs={"y": "src_y"}),
    }
    header = {"compact": "compact", "purge": "purge",
              "delete_rewrite": "delete", "merge": "merge",
              "merge_delete": "merge_delete",
              "replace_where": "replace_where", "update": "update",
              "compact_where": "compact", "compact_small_files": "compact",
              "compact_zorder": "compact", "merge_update": "merge"}
    _race_once(monkeypatch, spark, table, header[op], racing)
    with pytest.raises(dl.ConcurrentWriteError):
        ops[op]()
    # the loser raised; the concurrent delete survived intact
    assert 3 not in _vals(spark, table)
    # and re-deriving against the current snapshot succeeds
    ops[op]()
    assert 3 not in _vals(spark, table)


def test_replace_where_whole_file_drop_tolerates_concurrent_dv(
    spark, table, monkeypatch
):
    """A file wholly inside the replace predicate is dropped as pure
    metadata — every physical row is deleted regardless of how fat a
    concurrent DV got, so THAT race is benign and must NOT raise."""
    dl.append(
        spark.createDataFrame([(i,) for i in range(1, 5)], "x int"),
        table, stat_cols=["x"],
    )

    def racing():
        dl.delete_where(spark, table, [("x", "=", 2)], mode="dv")

    _race_once(monkeypatch, spark, table, "replace_where", racing)
    out = dl.overwrite_where(
        spark,
        spark.createDataFrame([(10,), (11,)], "x int"),
        table, [("x", ">=", 1)],  # covers every file entirely
    )
    assert out["files_rewritten"] == 0  # no boundary files
    assert _vals(spark, table) == [10, 11]


# ------------------------------------------------ TIMESTAMP AS OF


def test_timestamp_time_travel(spark, table):
    import datetime as dt

    dl.append(spark.createDataFrame([(1,)], "x int"), table)
    t0 = dl.history(table)[-1]["ts"]
    dl.append(spark.createDataFrame([(2,)], "x int"), table)
    t1 = dl.history(table)[-1]["ts"]

    assert dl.version_as_of_timestamp(table, t0) == 0
    assert dl.version_as_of_timestamp(table, t1) == 1
    # far future resolves to the head; ISO string and datetime both work
    future = dt.datetime.now(dt.timezone.utc) + dt.timedelta(days=1)
    assert dl.version_as_of_timestamp(table, future) == 1
    assert dl.read_table(spark, table, timestamp=t0).count() == 1
    assert dl.read_table(
        spark, table, timestamp=future.isoformat()
    ).count() == 2
    # before the first commit: loud error, never an empty frame
    past = "2000-01-01T00:00:00+00:00"
    with pytest.raises(ValueError, match="first commit is newer"):
        dl.version_as_of_timestamp(table, past)
    with pytest.raises(ValueError, match="not both"):
        dl.read_table(spark, table, version=0, timestamp=t0)


# ------------------------------------------------ composite-key MERGE


def test_merge_composite_key(spark, table):
    dl.append(spark.createDataFrame(
        [(d, r, float(i)) for i, (d, r) in enumerate(
            [(1, "a"), (1, "b"), (2, "a"), (2, "b")])],
        "day int, region string, v double"), table, stat_cols=["day"])
    src = spark.createDataFrame(
        [(1, "b", -1.0), (3, "c", -2.0)], "day int, region string, v double"
    )
    res = dl.merge_into(spark, table, src, on=["day", "region"],
                        stat_cols=["day"])
    out = {(r["day"], r["region"]): r["v"]
           for r in dl.read_table(spark, table).collect()}
    assert out[(1, "b")] == -1.0       # matched tuple replaced
    assert out[(3, "c")] == -2.0       # unmatched tuple inserted
    assert out[(1, "a")] == 0.0        # same day, other region untouched
    assert len(out) == 5
    # tombstone by composite key
    res = dl.merge_into(
        spark, table,
        spark.createDataFrame([(2, "a")], "day int, region string"),
        on=["day", "region"], when_matched="delete")
    assert (2, "a") not in {
        (r["day"], r["region"]) for r in dl.read_table(spark, table).collect()
    }
    # null in ANY key column is rejected
    with pytest.raises(ValueError, match="NULL merge key"):
        dl.merge_into(
            spark, table,
            spark.createDataFrame([(1, None, 0.0)],
                                  "day int, region string, v double"),
            on=["day", "region"])


def test_merge_composite_key_prunes_partitions(spark, table):
    """Partition column in the composite key -> per-column stats prune
    IS partition pruning: files of other partitions are not candidates
    and are never touched."""
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(30)],
        "id int, region string, v double",
    )
    dl.append(df, table, partition_by=["region"], stat_cols=["id"])
    before = {a["path"] for a in dl.live_files(table)
              if a["partition"]["region"] != "b"}
    src = spark.createDataFrame(
        [(4, "b", -4.0), (7, "b", -7.0)], "id int, region string, v double"
    )
    res = dl.merge_into(spark, table, src, on=["region", "id"],
                        stat_cols=["id"])
    after = {a["path"] for a in dl.live_files(table)}
    assert before <= after, "non-b partitions must ride through untouched"
    out = {r["id"]: r["v"] for r in dl.read_table(spark, table).collect()}
    assert out[4] == -4.0 and out[7] == -7.0 and len(out) == 30
