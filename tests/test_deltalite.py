"""deltalite transaction-log table format: protocol-level tests.

The registry queries (queries/lakehouse.py) hash-check snapshot
RESULTS against DuckDB; this file tests the protocol itself —
atomicity, optimistic concurrency, time travel after overwrite,
checkpoint replay, stats-based file skipping (that it BITES and that
it never drops rows), compaction equivalence, and vacuum semantics.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pygdf_spark.sources import deltalite as dl


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))


def _ids(df):
    return sorted(r[0] for r in df.select("o_orderkey").collect())


def test_append_roundtrip_and_versions(spark, sf_dir, table):
    src = _orders(spark, sf_dir)
    v0 = dl.append(src.filter("o_orderkey % 2 = 0"), table)
    v1 = dl.append(src.filter("o_orderkey % 2 = 1"), table)
    assert (v0, v1) == (0, 1)
    assert dl.table_version(table) == 1
    assert _ids(dl.read_table(spark, table)) == _ids(src)
    # version 0 sees only the first append
    assert _ids(dl.read_table(spark, table, version=0)) == _ids(
        src.filter("o_orderkey % 2 = 0")
    )
    ops = [h["operation"] for h in dl.history(table)]
    assert ops == ["append", "append"]


def test_overwrite_snapshot_isolation(spark, sf_dir, table):
    src = _orders(spark, sf_dir)
    dl.append(src, table)
    dl.overwrite(src.filter("o_orderstatus = 'F'"), table)
    latest = dl.read_table(spark, table)
    assert latest.select("o_orderstatus").distinct().collect()[0][0] == "F"
    # time travel reconstructs the pre-overwrite table exactly
    assert _ids(dl.read_table(spark, table, version=0)) == _ids(src)


def test_compact_is_metadata_only(spark, sf_dir, table):
    src = _orders(spark, sf_dir)
    dl.append(src.filter("o_orderkey % 3 = 0").repartition(4), table)
    dl.append(src.filter("o_orderkey % 3 != 0").repartition(4), table)
    before = len(dl.live_files(table))
    dl.compact(spark, table, num_files=1)
    after = len(dl.live_files(table))
    assert before >= 8 and after == 1
    assert _ids(dl.read_table(spark, table)) == _ids(src)
    # pre-compact versions still read the original files
    assert len(_ids(dl.read_table(spark, table, version=1))) == src.count()


def test_version_collision_retries(spark, sf_dir, table):
    """Two writers racing the same version: the loser must retry onto
    the next version and BOTH commits survive (appends never conflict)."""
    src = _orders(spark, sf_dir)
    dl.append(src.filter("o_orderkey % 2 = 0"), table)
    # simulate a concurrent writer stealing version 1 between this
    # writer's snapshot and its publish: pre-create the version file
    adds = dl._write_data_files(
        src.filter("o_orderkey % 2 = 1"), table, 99, None, None
    )
    dl._publish(
        table, 1, [{"commit": {"version": 1, "operation": "append",
                               "schema": src.schema.json()}}]
    )  # the "other" writer (empty append) takes v1
    v = dl._commit_retry(table, "append", adds, [], src.schema.json(), 0, 10)
    assert v == 2  # retried past the stolen version
    assert _ids(dl.read_table(spark, table)) == _ids(src)


def test_overwrite_conflict_raises(spark, sf_dir, table):
    """An overwrite/compact whose remove-set went stale must raise, not
    silently resurrect or double-remove files."""
    src = _orders(spark, sf_dir)
    dl.append(src, table)
    stale_removes = [a["path"] for a in dl.live_files(table)]
    dl.overwrite(src.filter("o_orderstatus = 'F'"), table)  # table moves
    adds = dl._write_data_files(src.limit(5), table, 98, None, None)
    with pytest.raises(dl.ConcurrentWriteError):
        dl._commit_retry(
            table, "overwrite", adds, stale_removes, src.schema.json(), 0, 10
        )


def test_file_skipping_bites_and_is_safe(spark, sf_dir, table):
    src = _orders(spark, sf_dir)
    dl.append(
        src.repartition(8), table,
        stat_cols=["o_orderkey"], cluster_by=["o_orderkey"],
    )
    bound = src.agg(F.expr("max(o_orderkey) div 4")).first()[0]
    pred = [("o_orderkey", "<=", int(bound))]
    selected, total = dl.plan_files(table, predicate=pred)
    assert total >= 8
    assert 0 < len(selected) < total, "stats pruning must actually skip files"
    got = _ids(dl.read_table(spark, table, predicate=pred))
    want = _ids(src.filter(F.col("o_orderkey") <= int(bound)))
    assert got == want  # skipping never drops a matching row
    # string-column stats skip too
    shutil.rmtree(table)
    dl.append(
        src.repartition(4), table,
        stat_cols=["o_orderstatus"], cluster_by=["o_orderstatus"],
    )
    sel2, tot2 = dl.plan_files(table, predicate=[("o_orderstatus", "=", "P")])
    assert len(sel2) < tot2


def test_skipping_missing_stats_never_skips(spark, sf_dir, table):
    src = _orders(spark, sf_dir)
    dl.append(src.repartition(4), table)  # no stat_cols
    sel, tot = dl.plan_files(table, predicate=[("o_orderkey", "<=", 10)])
    assert len(sel) == tot  # absence of stats means scan, never skip


def test_empty_predicate_result_keeps_schema(spark, sf_dir, table):
    src = _orders(spark, sf_dir)
    dl.append(src.repartition(2), table, stat_cols=["o_orderkey"],
              cluster_by=["o_orderkey"])
    df = dl.read_table(spark, table, predicate=[("o_orderkey", "<", -1)])
    assert df.count() == 0
    assert df.columns == src.columns


def test_checkpoint_replay(spark, sf_dir, table):
    src = _orders(spark, sf_dir)
    for r in range(6):
        dl.append(src.filter(F.col("o_orderkey") % 6 == r), table,
                  checkpoint_every=3)
    ckpts = [n for n in os.listdir(os.path.join(table, "_txn_log"))
             if n.endswith(".checkpoint.json")]
    assert ckpts, "checkpoints must be written at the interval"
    # replay from a checkpoint reconstructs the same live set as a
    # full-log replay (delete pre-checkpoint commit files to prove the
    # reader really starts from the checkpoint)
    full = {a["path"] for a in dl.live_files(table)}
    for v in range(3):
        os.unlink(dl._version_path(table, v))
    assert {a["path"] for a in dl.live_files(table)} == full
    assert _ids(dl.read_table(spark, table)) == _ids(src)


def test_vacuum_deletes_only_unreferenced(spark, sf_dir, table):
    src = _orders(spark, sf_dir)
    dl.append(src, table)
    dl.overwrite(src.filter("o_orderstatus = 'F'"), table)
    deleted = dl.vacuum(table, keep_versions=1)
    assert deleted, "the overwritten files must be vacuumed"
    # latest still reads
    assert dl.read_table(spark, table).count() == src.filter(
        "o_orderstatus = 'F'"
    ).count()
    # time travel past the horizon now fails loudly at scan time
    with pytest.raises(Exception):
        dl.read_table(spark, table, version=0).count()


def test_atomic_publish_no_partial_log(spark, sf_dir, table):
    src = _orders(spark, sf_dir)
    dl.append(src, table)
    log = os.path.join(table, "_txn_log")
    assert not [n for n in os.listdir(log) if n.startswith(".tmp")]
    # every commit record is complete, parseable JSON lines
    for name in os.listdir(log):
        if name.endswith(".json") and not name.endswith(".checkpoint.json"):
            with open(os.path.join(log, name)) as f:
                lines = [json.loads(line) for line in f]
            assert "commit" in lines[0]


def test_read_nonexistent_table_raises(spark):
    with pytest.raises(FileNotFoundError):
        dl.read_table(spark, os.path.join(tempfile.gettempdir(), "no_such_tbl"))


def test_version_out_of_range_raises(spark, sf_dir, table):
    dl.append(_orders(spark, sf_dir), table)
    with pytest.raises(ValueError):
        dl.read_table(spark, table, version=5)


def test_txn_idempotent_append(spark, sf_dir, table):
    """The same (app, batch) appended twice lands exactly once — the
    foreachBatch retry/restart class."""
    src = _orders(spark, sf_dir)
    half = src.filter("o_orderkey % 2 = 0")
    v1 = dl.append(half, table, txn=("appA", 0))
    v2 = dl.append(half, table, txn=("appA", 0))  # replay: must no-op
    assert v1 == v2 == dl.table_version(table)
    assert dl.read_table(spark, table).count() == half.count()
    assert dl.last_txn_batch(table, "appA") == 0
    assert dl.last_txn_batch(table, "appB") == -1
    # a LOWER batch id replays too (restart from an older checkpoint)
    dl.append(half, table, txn=("appA", 1))
    dl.append(half, table, txn=("appA", 0))
    assert dl.read_table(spark, table).count() == 2 * half.count()


def test_txn_race_inside_commit(spark, sf_dir, table):
    """Two retries of the SAME micro-batch racing the commit protocol:
    the loser's re-check inside _commit_retry must see the winner's txn
    and drop its own adds."""
    src = _orders(spark, sf_dir)
    half = src.filter("o_orderkey % 2 = 1")
    adds = dl._write_data_files(half, table, 0, None, None)
    # winner commits first (simulating the race interleaving)
    dl.append(half, table, txn=("appX", 7))
    v = dl._commit_retry(
        table, "append", adds, [], half.schema.json(), -1, 10,
        txn=("appX", 7),
    )
    assert v == dl.table_version(table)
    assert dl.read_table(spark, table).count() == half.count()


def test_stream_sink_exactly_once(spark, sf_dir, table, tmp_path):
    """Full pipeline: availableNow stream → foreachBatch deltalite sink,
    then a COMPLETE REPLAY against a fresh checkpoint — row counts must
    not move (exactly-once end-to-end)."""
    from pygdf_spark.streaming import (
        read_events_stream,
        run_available_now_deltalite,
    )

    def run(tag):
        ev = read_events_stream(spark, sf_dir)
        buys = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "value"
        )
        return run_available_now_deltalite(
            buys, table, str(tmp_path / f"ckpt_{tag}"), app_id="t_once"
        )

    n_first = run("a")
    assert n_first >= 1
    count1 = dl.read_table(spark, table).count()
    n_replay = run("b")  # fresh checkpoint: every batch replays
    assert n_replay == 0, "replayed batches must all be deduped"
    assert dl.read_table(spark, table).count() == count1


def test_merge_upsert_semantics(spark, sf_dir, table):
    src_tbl = _orders(spark, sf_dir)
    dl.append(src_tbl.repartition(8), table,
              stat_cols=["o_orderkey"], cluster_by=["o_orderkey"])
    mx = src_tbl.agg(F.max("o_orderkey")).first()[0]
    updates = src_tbl.filter("o_orderkey % 100 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") * 10
    )
    inserts = src_tbl.limit(3).withColumn(
        "o_orderkey", F.col("o_orderkey") + mx + 1
    )
    res = dl.merge_into(
        spark, table, updates.unionByName(inserts), on="o_orderkey",
        stat_cols=["o_orderkey"],
    )
    out = dl.read_table(spark, table)
    assert out.count() == src_tbl.count() + 3
    # update wins: every %100 key carries the 10x price
    got = dict(
        out.filter("o_orderkey % 100 = 0 AND o_orderkey <= " + str(mx))
        .select("o_orderkey", "o_totalprice").collect()
    )
    want = dict(updates.select("o_orderkey", "o_totalprice").collect())
    assert got == want
    # pre-merge snapshot is untouched (snapshot isolation across merge)
    assert dl.read_table(spark, table, version=0).count() == src_tbl.count()
    assert res["files_total"] >= 8


def test_merge_rewrites_only_touched_files(spark, sf_dir, table):
    """A narrow key band + inserts must rewrite ONLY the band's files —
    the two-pass prune is the merge's whole 100 TB story."""
    src_tbl = _orders(spark, sf_dir)
    dl.append(src_tbl.repartition(8), table,
              stat_cols=["o_orderkey"], cluster_by=["o_orderkey"])
    mx = src_tbl.agg(F.max("o_orderkey")).first()[0]
    narrow = src_tbl.filter(F.col("o_orderkey") < mx // 8).withColumn(
        "o_totalprice", F.lit(1.0)
    )
    ins = src_tbl.limit(1).withColumn(
        "o_orderkey", F.col("o_orderkey") + mx + 1
    )
    res = dl.merge_into(
        spark, table, narrow.unionByName(ins), on="o_orderkey",
        stat_cols=["o_orderkey"],
    )
    assert 0 < res["files_rewritten"] < res["files_total"], res
    out = dl.read_table(spark, table)
    assert out.count() == src_tbl.count() + 1
    assert out.filter(F.col("o_orderkey") < mx // 8).agg(
        F.max("o_totalprice")
    ).first()[0] == 1.0


def test_merge_pure_insert_touches_nothing(spark, sf_dir, table):
    src_tbl = _orders(spark, sf_dir)
    dl.append(src_tbl.repartition(4), table,
              stat_cols=["o_orderkey"], cluster_by=["o_orderkey"])
    mx = src_tbl.agg(F.max("o_orderkey")).first()[0]
    ins = src_tbl.limit(5).withColumn(
        "o_orderkey", F.col("o_orderkey") + mx + 1
    )
    res = dl.merge_into(spark, table, ins, on="o_orderkey",
                        stat_cols=["o_orderkey"])
    assert res["files_rewritten"] == 0
    assert dl.read_table(spark, table).count() == src_tbl.count() + 5


def test_merge_null_key_is_loud_and_empty_source_noop(spark, sf_dir, table):
    src_tbl = _orders(spark, sf_dir)
    dl.append(src_tbl.repartition(2), table, stat_cols=["o_orderkey"])
    nulled = src_tbl.limit(4).withColumn(
        "o_orderkey", F.when(F.col("o_orderkey") % 2 == 0, None)
        .otherwise(F.col("o_orderkey"))
    )
    with pytest.raises(ValueError, match="NULL merge key"):
        dl.merge_into(spark, table, nulled, on="o_orderkey")
    v = dl.table_version(table)
    res = dl.merge_into(spark, table, src_tbl.limit(0), on="o_orderkey")
    assert res["version"] == v and res["files_rewritten"] == 0
    assert dl.table_version(table) == v  # no empty commit


def _ingest_shape(spark, sf_med, table):
    """The lake benchmark's pass up to its merge: 5 appends of 400
    key-consecutive ``orders`` rows as 4 files each (20 files), then a
    200-row local source frame, about half of it updates of live keys.
    Returns (source, expected {key: totalprice} after the merge)."""
    import pandas as pd
    import pyarrow.parquet as pq

    path = os.path.join(sf_med, "orders.parquet")
    pdf = pq.read_table(path).sort_by("o_orderkey").to_pandas()
    schema = spark.read.parquet(path).schema
    for b in range(5):
        dl.append(
            spark.createDataFrame(pdf.iloc[400 * b:400 * (b + 1)], schema)
            .repartition(4),
            table, stat_cols=["o_orderkey"], txn=("ingest", b),
        )
    upd = pdf.iloc[3:2000:20].copy()
    upd["o_totalprice"] += 1.0
    src = spark.createDataFrame(pd.concat([pdf.iloc[2000:2100], upd]), schema)
    want = dict(zip(pdf.o_orderkey.iloc[:2100], pdf.o_totalprice.iloc[:2100]))
    want.update(zip(upd.o_orderkey, upd.o_totalprice))
    return src, want


def test_merge_job_budget(spark, sf_med, table, jobs):
    """The benchmark's merge shape runs in at most 8 Spark jobs: the
    range aggregate (2), the touch pass, whose source keys broadcast
    without a distinct first, and a rewrite sized from the log, which
    asks no frame for its partition count (13 before)."""
    src, want = _ingest_shape(spark, sf_med, table)
    res, n = jobs(lambda: dl.merge_into(spark, table, src, on="o_orderkey",
                                        stat_cols=["o_orderkey"]))
    assert n <= 8, n
    assert res["files_rewritten"] == res["files_total"] == 20
    got = dl.read_table(spark, table).select("o_orderkey", "o_totalprice")
    assert dict(got.collect()) == want


def test_merge_output_sized_from_log(spark, sf_med, table):
    """A 200-row merge into 20 small files writes ONE range-clustered
    file (the log puts the rewrite far under the target file size),
    and its zone map covers exactly the keys it holds."""
    import pyarrow.parquet as pq

    src, want = _ingest_shape(spark, sf_med, table)
    before = {a["path"] for a in dl.live_files(table)}
    dl.merge_into(spark, table, src, on="o_orderkey",
                  stat_cols=["o_orderkey"])
    added = [a for a in dl.live_files(table) if a["path"] not in before]
    assert len(added) == 1, [a["path"] for a in added]
    keys = pq.read_table(
        os.path.join(table, added[0]["path"]), columns=["o_orderkey"]
    ).column(0).to_pylist()
    assert keys == sorted(want)
    stats = added[0]["stats"]["o_orderkey"]
    assert (stats["min"], stats["max"]) == (keys[0], keys[-1])


def test_merge_unclustered_output_sized_from_log(spark, sf_med, table):
    """Without ``stat_cols`` the same merge is coalesced into the
    log-sized file count: one file, not one per input partition."""
    src, want = _ingest_shape(spark, sf_med, table)
    before = {a["path"] for a in dl.live_files(table)}
    res = dl.merge_into(spark, table, src.repartition(8), on="o_orderkey")
    assert res["files_rewritten"] == res["files_total"] == 20
    added = [a for a in dl.live_files(table) if a["path"] not in before]
    assert len(added) == 1, [a["path"] for a in added]
    got = dl.read_table(spark, table).select("o_orderkey", "o_totalprice")
    assert dict(got.collect()) == want


def test_merge_insert_into_empty_table(spark, table):
    """A table without live rows gives the log no bytes per row: the
    clustered insert falls back to the frame's own partition count and
    still lands non-overlapping zone maps."""
    df = spark.range(30).selectExpr("id AS k", "id * 2 AS v")
    dl.append(df.limit(0), table, stat_cols=["k"])
    assert dl.live_files(table) == []
    res = dl.merge_into(spark, table, df.repartition(3), on="k",
                        stat_cols=["k"])
    assert (res["files_rewritten"], res["files_total"]) == (0, 0)
    assert sorted(dl.read_table(spark, table).collect()) == sorted(
        df.collect()
    )
    spans = sorted((a["stats"]["k"]["min"], a["stats"]["k"]["max"])
                   for a in dl.live_files(table))
    assert len(spans) == 3
    assert all(hi < lo for (_, hi), (lo, _) in zip(spans, spans[1:]))


def test_merge_update_duplicate_key_rejected(spark, sf_dir, table, jobs):
    """Update mode's source-key uniqueness check rides in the range
    aggregate: a duplicate key raises before the touch pass runs, and
    nothing is committed."""
    src_tbl = _orders(spark, sf_dir)
    dl.append(src_tbl.repartition(2), table, stat_cols=["o_orderkey"])
    v = dl.table_version(table)
    dup = src_tbl.orderBy("o_orderkey").limit(5)
    dup = dup.unionByName(dup.limit(1))

    def merge():
        with pytest.raises(ValueError, match=r"unique \(6 rows, 5 distinct"):
            dl.merge_into(spark, table, dup, on="o_orderkey",
                          when_matched="update",
                          set_exprs={"o_totalprice": "src_o_totalprice"})

    _, n = jobs(merge)
    assert n <= 3, n  # the aggregate alone; the touch pass is 3 more
    assert dl.table_version(table) == v


def test_zorder_skips_on_every_dimension(spark, sf_dir, table):
    """The whole point of z-order: BOTH single-column predicates prune
    files. A 1-D sort can only prune on its own column."""
    src = _orders(spark, sf_dir)
    dl.append_zorder(src.repartition(8), table,
                     ["o_custkey", "o_orderkey"], num_files=8)
    for col in ("o_custkey", "o_orderkey"):
        mx = src.agg(F.max(col)).first()[0]
        pred = [(col, "<=", int(mx) // 6)]
        sel, tot = dl.plan_files(table, predicate=pred)
        assert 0 < len(sel) < tot, (col, len(sel), tot)
        got = dl.read_table(spark, table, predicate=pred).count()
        assert got == src.filter(F.col(col) <= int(mx) // 6).count()
    # contrast: a 1-D cluster on o_orderkey cannot prune o_custkey
    import shutil as _sh
    _sh.rmtree(table)
    dl.append(src.repartition(8), table,
              stat_cols=["o_custkey", "o_orderkey"],
              cluster_by=["o_orderkey"])
    mx = src.agg(F.max("o_custkey")).first()[0]
    sel, tot = dl.plan_files(
        table, predicate=[("o_custkey", "<=", int(mx) // 6)]
    )
    assert len(sel) == tot  # full-width ranges: nothing skippable


def test_zorder_constant_and_null_columns(spark, sf_dir, table):
    """Constant and null-bearing z-columns degrade gracefully (plane
    collapses to 0) instead of dividing by zero."""
    src = _orders(spark, sf_dir).withColumn("const", F.lit(7)).withColumn(
        "maybe", F.when(F.col("o_orderkey") % 3 == 0, None)
        .otherwise(F.col("o_orderkey"))
    )
    dl.append_zorder(src.repartition(4), table, ["const", "maybe"],
                     num_files=4)
    assert dl.read_table(spark, table).count() == src.count()


def test_change_feed_full_matrix(spark, sf_dir, table):
    """CDC across append → merge → compact → overwrite: inserts,
    updates (pre/post), compact silence, and coarse delete+insert."""
    src = _orders(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    dl.append(src.repartition(4), table,
              stat_cols=["o_orderkey"], cluster_by=["o_orderkey"])  # v0
    mx = src.agg(F.max("o_orderkey")).first()[0]
    upd = src.filter("o_orderkey % 9 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") + 1
    )
    ins = src.limit(2).withColumn("o_orderkey", F.col("o_orderkey") + mx + 1)
    dl.merge_into(spark, table, upd.unionByName(ins), on="o_orderkey",
                  stat_cols=["o_orderkey"])                          # v1
    dl.compact(spark, table, num_files=1)                            # v2
    # v0→v1: exact insert/update sets, no phantoms from moved rows
    ch = dl.table_changes(spark, table, 0, 1, key="o_orderkey")
    counts = dict(
        ch.groupBy("_change_type").count().collect()
    )
    n_upd = upd.count()
    assert counts == {"insert": 2, "update_preimage": n_upd,
                      "update_postimage": n_upd}
    # v1→v2 (compact only): zero change rows
    assert dl.table_changes(spark, table, 1, 2, key="o_orderkey").count() == 0
    # overwrite with key: deletes for vanished keys
    dl.overwrite(src.filter("o_orderkey % 2 = 0"), table)            # v3
    ch2 = dl.table_changes(spark, table, 2, 3, key="o_orderkey")
    c2 = dict(ch2.groupBy("_change_type").count().collect())
    assert c2.get("delete", 0) > 0
    # every live odd key vanished; surviving evens unchanged → no updates
    # (except the merge-updated evens whose price moved vs v2? no —
    # overwrite source is the ORIGINAL src evens, so %18 keys regress)
    # keep the assertion structural: deletes == odd-key count + phantom-free
    odd = src.filter("o_orderkey % 2 = 1").count()
    assert c2["delete"] >= odd
    # coarse mode (no key): file-set granularity delete+insert
    coarse = dl.table_changes(spark, table, 2, 3)
    assert set(r[0] for r in coarse.select("_change_type").distinct()
               .collect()) == {"delete", "insert"}


def test_change_feed_vacuumed_range_raises(spark, sf_dir, table):
    src = _orders(spark, sf_dir)
    dl.append(src, table)
    dl.overwrite(src.limit(10), table)
    dl.vacuum(table, keep_versions=1)
    with pytest.raises(Exception):
        dl.table_changes(spark, table, 0, 1, key="o_orderkey").count()


def test_change_feed_bad_range_raises(spark, sf_dir, table):
    dl.append(_orders(spark, sf_dir), table)
    with pytest.raises(ValueError):
        dl.table_changes(spark, table, 1, 0)
    with pytest.raises(ValueError):
        dl.table_changes(spark, table, 0, 9)


def test_schema_evolution_additive_column(spark, sf_dir, table):
    """Appends may widen the schema: old files read back with nulls in
    the new column; the snapshot schema is the union."""
    src = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    dl.append(src.repartition(2), table)
    widened = src.withColumn("region_tag", F.lit("eu"))
    dl.append(widened.repartition(2), table)
    out = dl.read_table(spark, table)
    assert set(out.columns) == {"o_orderkey", "o_totalprice", "region_tag"}
    n = src.count()
    assert out.count() == 2 * n
    assert out.filter(F.col("region_tag").isNull()).count() == n
    assert out.filter(F.col("region_tag") == "eu").count() == n


def test_matview_incremental_equals_recompute(spark, sf_dir, tmp_path):
    from pygdf_spark.operators.matview import (
        create_agg_view, read_agg_view, refresh_agg_view,
    )

    src_df = _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey",
        (F.round(F.col("o_totalprice") * 100, 0)).cast("long").alias("cents"),
    )
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    dl.append(src_df.repartition(4), src, stat_cols=["o_orderkey"],
              cluster_by=["o_orderkey"])
    create_agg_view(spark, src, view, "o_custkey", "cents")
    mx = src_df.agg(F.max("o_orderkey")).first()[0]
    dl.append(src_df.limit(50).withColumn(
        "o_orderkey", F.col("o_orderkey") + mx + 1
    ).repartition(2), src, stat_cols=["o_orderkey"])
    upd = src_df.filter("o_orderkey % 13 = 0").withColumn(
        "cents", F.col("cents") + 5
    )
    dl.merge_into(spark, src, upd, on="o_orderkey", stat_cols=["o_orderkey"])
    r = refresh_agg_view(spark, src, view, "o_custkey", "cents",
                         key="o_orderkey")
    assert r["groups_touched"] > 0
    got = {t[0]: (t[1], t[2]) for t in
           read_agg_view(spark, view).collect()}
    want = {t[0]: (t[1], t[2]) for t in
            dl.read_table(spark, src).groupBy("o_custkey").agg(
                F.count("*").alias("n"), F.sum("cents").alias("s")
            ).collect()}
    assert got == want  # incremental == full recompute, every group
    # idempotent: a second refresh at the same source version no-ops
    r2 = refresh_agg_view(spark, src, view, "o_custkey", "cents",
                          key="o_orderkey")
    assert r2["groups_touched"] == 0
    assert {t[0]: (t[1], t[2]) for t in
            read_agg_view(spark, view).collect()} == want


def test_matview_tombstones_groups_reaching_zero(spark, sf_dir, tmp_path):
    from pygdf_spark.operators.matview import (
        create_agg_view, read_agg_view, refresh_agg_view,
    )

    src_df = _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey",
        F.lit(1).cast("long").alias("one"),
    )
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    dl.append(src_df, src)
    create_agg_view(spark, src, view, "o_custkey", "one")
    keep_key = src_df.agg(F.min("o_custkey")).first()[0]
    dl.overwrite(src_df.filter(F.col("o_custkey") == keep_key), src)
    refresh_agg_view(spark, src, view, "o_custkey", "one",
                     key="o_orderkey")
    out = read_agg_view(spark, view)
    assert out.count() == 1  # every other group tombstoned to n_rows=0
    assert out.first()[0] == keep_key
    # the tombstones are retained in the raw table (audit trail)
    raw = dl.read_table(spark, view)
    assert raw.filter("n_rows = 0").count() > 0


def test_matview_refresh_requires_create(spark, sf_dir, tmp_path):
    from pygdf_spark.operators.matview import refresh_agg_view

    src = str(tmp_path / "src")
    dl.append(_orders(spark, sf_dir), src)
    with pytest.raises(ValueError, match="not a materialized view"):
        refresh_agg_view(spark, src, str(tmp_path / "nope"),
                         "o_custkey", "o_orderkey", key="o_orderkey")


# --------------------------------------------- deletion vectors / restore


def _dv_table(spark, sf_dir, table, parts=4):
    src = _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    dl.append(src.repartition(parts), table, stat_cols=["o_orderkey"],
              cluster_by=["o_orderkey"])
    return src


def test_delete_dv_equals_rewrite(spark, sf_dir, table, tmp_path):
    """Same predicate, both physical strategies, identical logical
    result — and the DV path must not rewrite a single data file."""
    other = str(tmp_path / "tbl2")
    src = _dv_table(spark, sf_dir, table)
    _dv_table(spark, sf_dir, other)
    files_before = {a["path"] for a in dl.live_files(table)}
    r_dv = dl.delete_where(spark, table, [("o_orderstatus", "=", "F")])
    r_rw = dl.delete_where(spark, other, [("o_orderstatus", "=", "F")],
                           mode="rewrite")
    assert r_dv["rows_deleted"] == r_rw["rows_deleted"] > 0
    assert {a["path"] for a in dl.live_files(table)} == files_before
    a = _ids(dl.read_table(spark, table))
    b = _ids(dl.read_table(spark, other))
    expect = _ids(src.filter("o_orderstatus <> 'F'"))
    assert a == b == expect
    # time travel: the pre-delete snapshot is untouched
    assert dl.read_table(spark, table, version=0).count() == src.count()


def test_delete_dv_stacking_consolidates(spark, sf_dir, table):
    """Two OVERLAPPING dv deletes: each touched file's action holds
    exactly one sidecar whose count is the union of its positions."""
    src = _dv_table(spark, sf_dir, table)
    lo = int(src.agg(F.expr("percentile(o_orderkey, 0.3)")).first()[0])
    hi = int(src.agg(F.expr("percentile(o_orderkey, 0.6)")).first()[0])
    dl.delete_where(spark, table, [("o_orderkey", "<", lo)])
    r2 = dl.delete_where(spark, table, [("o_orderkey", "<", hi)])
    expect = src.filter(F.col("o_orderkey") >= hi)
    assert dl.read_table(spark, table).count() == expect.count()
    total_dv = 0
    for a in dl.live_files(table):
        if a.get("dv"):
            assert len(a["dv"]) == 1, "stacked DVs must consolidate"
            total_dv += a["dv"][0]["count"]
    assert total_dv == src.count() - expect.count()
    assert r2["rows_deleted"] == src.filter(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
    ).count()


def test_delete_null_predicate_keeps_rows(spark, sf_dir, table):
    """SQL DELETE semantics: predicate NULL -> row KEPT, both modes."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, None)], "k int, v int"
    )
    dl.append(df, table)
    dl.delete_where(spark, table, "v > 15")  # NULL > 15 is NULL -> keep
    kept = sorted(r[0] for r in dl.read_table(spark, table).select("k").collect())
    assert kept == [1, 2, 4]
    other = str(table) + "_rw"
    dl.append(df, other)
    dl.delete_where(spark, other, "v > 15", mode="rewrite")
    kept2 = sorted(r[0] for r in dl.read_table(spark, other).select("k").collect())
    assert kept2 == [1, 2, 4]


def test_delete_dv_stats_prune_noop(spark, sf_dir, table):
    """A delete whose range misses every file's [min,max] commits
    NOTHING (no new version, no sidecar)."""
    _dv_table(spark, sf_dir, table)
    v = dl.table_version(table)
    r = dl.delete_where(spark, table, [("o_orderkey", "<", -1)])
    assert r["rows_deleted"] == 0 and r["files_touched"] == 0
    assert dl.table_version(table) == v
    r2 = dl.delete_where(spark, table, [("o_orderstatus", "=", "Z")])
    assert r2["rows_deleted"] == 0 and dl.table_version(table) == v


def test_delete_dv_compact_materializes(spark, sf_dir, table):
    """Compacting a DV-carrying table must apply the vectors, never
    resurrect deleted rows; the compacted actions carry no dv."""
    src = _dv_table(spark, sf_dir, table)
    dl.delete_where(spark, table, [("o_orderstatus", "=", "O")])
    expect = _ids(src.filter("o_orderstatus <> 'O'"))
    dl.compact(spark, table, num_files=2)
    assert not any(a.get("dv") for a in dl.live_files(table))
    assert _ids(dl.read_table(spark, table)) == expect


def test_merge_after_dv_delete_reinserts(spark, sf_dir, table):
    """A key whose only row was DV-deleted is ABSENT: merging it back
    must INSERT it (DV-aware touch detection), not silently skip it."""
    src = _dv_table(spark, sf_dir, table)
    key = int(src.agg(F.min("o_orderkey")).first()[0])
    dl.delete_where(spark, table, [("o_orderkey", "=", key)])
    assert dl.read_table(
        spark, table, predicate=[("o_orderkey", "=", key)]
    ).count() == 0
    row = src.filter(F.col("o_orderkey") == key).withColumn(
        "o_totalprice", F.lit(123.45)
    )
    res = dl.merge_into(spark, table, row, on="o_orderkey",
                        stat_cols=["o_orderkey"])
    got = dl.read_table(spark, table, predicate=[("o_orderkey", "=", key)])
    assert got.count() == 1
    assert abs(got.first()["o_totalprice"] - 123.45) < 1e-9
    assert res["files_rewritten"] == 0, (
        "the key's only row was deleted -> no file contains it -> "
        "pure insert, zero rewrites"
    )


def test_purge_then_vacuum_cleans_sidecars(spark, sf_dir, table):
    src = _dv_table(spark, sf_dir, table)
    dl.delete_where(spark, table, [("o_orderstatus", "=", "F")])
    expect = _ids(src.filter("o_orderstatus <> 'F'"))
    dl.purge_dv(spark, table, stat_cols=["o_orderkey"])
    assert not any(a.get("dv") for a in dl.live_files(table))
    deleted = dl.vacuum(table, keep_versions=1)
    assert any(p.startswith("dv/") for p in deleted), (
        "the orphaned sidecar dir must be vacuumed"
    )
    assert _ids(dl.read_table(spark, table)) == expect


def test_vacuum_keeps_live_sidecars(spark, sf_dir, table):
    src = _dv_table(spark, sf_dir, table)
    dl.delete_where(spark, table, [("o_orderstatus", "=", "F")])
    dl.vacuum(table, keep_versions=1)
    # the sidecar is still referenced by the live version: must survive
    expect = _ids(src.filter("o_orderstatus <> 'F'"))
    assert _ids(dl.read_table(spark, table)) == expect


def test_restore_roundtrip_and_vacuum_horizon(spark, sf_dir, table):
    src = _dv_table(spark, sf_dir, table)
    dl.delete_where(spark, table, [("o_orderstatus", "=", "F")])   # v1
    dl.overwrite(src.filter("o_orderstatus = 'P'"), table)         # v2
    v = dl.restore(table, 1)                                       # v3
    assert v == 3
    assert _ids(dl.read_table(spark, table)) == _ids(
        src.filter("o_orderstatus <> 'F'")
    )
    # the restore is CDF-visible as row-level changes
    ch = dl.table_changes(spark, table, 2, 3, key="o_orderkey")
    ins = ch.filter("_change_type = 'insert'").count()
    assert ins == src.filter("o_orderstatus NOT IN ('F','P')").count()
    # restore target out of range / vacuumed raises loudly
    with pytest.raises(ValueError):
        dl.restore(table, 99)
    dl.overwrite(src.limit(10), table)                             # v4
    dl.vacuum(table, keep_versions=1)
    with pytest.raises(FileNotFoundError):
        dl.restore(table, 0)


def test_delete_dv_concurrent_compact_conflict(spark, sf_dir, table):
    """A delete_dv whose re-add set went stale (compact removed the
    files underneath) must raise, not resurrect the old files."""
    _dv_table(spark, sf_dir, table)
    base = dl.live_files(table)
    stale = [dict(a, dv=[{"path": "dv/fake", "count": 1}])
             for a in base]
    dl.compact(spark, table, num_files=1)  # table moves; files replaced
    with pytest.raises(dl.ConcurrentWriteError):
        dl._commit_retry(
            table, "delete_dv", stale, [], "{}", 0, 10,
            require_unchanged={a["path"]: b for a, b in zip(stale, base)},
        )


def test_delete_dv_racing_deletes_no_lost_update(spark, sf_dir, table):
    """Two DV deletes derived from the SAME base snapshot: the second
    to commit must raise (lost-update guard) — committing it would
    silently resurrect the first delete's rows."""
    _dv_table(spark, sf_dir, table)
    base = dl.live_files(table)
    first = dl.delete_where(spark, table, [("o_orderstatus", "=", "F")])
    assert first["rows_deleted"] > 0
    # simulate the loser: a second delete that consolidated from the
    # PRE-first-state base actions
    stale = [dict(a, dv=[{"path": "dv/stale", "count": 1}]) for a in base
             if a["path"] in {x["path"] for x in dl.live_files(table)
                              if x.get("dv")}]
    with pytest.raises(dl.ConcurrentWriteError, match="changed"):
        dl._commit_retry(
            table, "delete_dv", stale, [], "{}", 0, 10,
            require_unchanged={a["path"]: {k: v for k, v in a.items()
                                           if k != "dv"}
                               for a in stale},
        )
    # sequential re-derive works and keeps BOTH deletes
    second = dl.delete_where(spark, table, "o_orderkey % 10 = 3")
    src = _orders(spark, sf_dir)
    expect = src.filter(
        (F.col("o_orderstatus") != "F") & (F.col("o_orderkey") % 10 != 3)
    ).count()
    assert dl.read_table(spark, table).count() == expect
    assert second["rows_deleted"] > 0


def test_restore_concurrent_append_conflict(spark, sf_dir, table):
    """RESTORE computed against a stale head must raise — a concurrent
    append's rows silently surviving the rollback would corrupt the
    restored snapshot's meaning."""
    src = _dv_table(spark, sf_dir, table)
    dl.overwrite(src.limit(50), table)      # v1
    # restore derived at head v1, but an append lands first
    target = 0
    base = dl.table_version(table)
    dl.append(src.limit(7), table)          # head moves to v2
    with pytest.raises(dl.ConcurrentWriteError, match="head moved"):
        dl._commit_retry(
            table, "restore", [], [], "{}", base, 10, expect_head=base,
        )
    v = dl.restore(table, target)           # fresh derive succeeds
    assert dl.read_table(spark, table, version=v).count() == src.count()


def test_change_feed_delete_dv_rows(spark, sf_dir, table):
    """CDF across a dv delete: exactly the newly-deleted rows, as
    'delete' — a second overlapping delete emits only the increment."""
    src = _dv_table(spark, sf_dir, table)
    lo = int(src.agg(F.expr("percentile(o_orderkey, 0.2)")).first()[0])
    hi = int(src.agg(F.expr("percentile(o_orderkey, 0.4)")).first()[0])
    dl.delete_where(spark, table, [("o_orderkey", "<", lo)])   # v1
    dl.delete_where(spark, table, [("o_orderkey", "<", hi)])   # v2
    ch = dl.table_changes(spark, table, 0, 2, key="o_orderkey")
    by_v = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in ch.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n")).collect()
    }
    n1 = src.filter(F.col("o_orderkey") < lo).count()
    n2 = src.filter(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
    ).count()
    assert by_v == {(1, "delete"): n1, (2, "delete"): n2}


# ------------------------------------------------------ CHECK constraints


def test_check_constraint_blocks_bad_append_atomically(spark, sf_dir, table):
    src = _orders(spark, sf_dir)
    dl.append(src.filter("o_totalprice > 0"), table)
    dl.add_check_constraint(spark, table, "price_pos", "o_totalprice > 0")
    assert dl.table_constraints(table) == {"price_pos": "o_totalprice > 0"}
    v = dl.table_version(table)
    bad = src.limit(20).withColumn("o_totalprice", F.lit(-1.0))
    with pytest.raises(ValueError, match="price_pos"):
        dl.append(bad, table)
    # atomic refusal: no new version, no orphan data visible
    assert dl.table_version(table) == v
    assert dl.read_table(spark, table).filter("o_totalprice <= 0").count() == 0
    # a clean append still lands; merge enforcement too
    dl.append(src.limit(5), table)
    with pytest.raises(ValueError, match="price_pos"):
        dl.merge_into(spark, table, bad, on="o_orderkey")


def test_check_constraint_null_passes_and_add_validates_existing(
    spark, sf_dir, table
):
    df = spark.createDataFrame([(1, 10), (2, None)], "k int, v int")
    dl.append(df, table)
    # NULL passes CHECK (SQL semantics) -> constraint addition succeeds
    dl.add_check_constraint(spark, table, "v_pos", "v > 0")
    # an existing violation blocks ADDing a constraint
    with pytest.raises(ValueError, match="existing rows violate"):
        dl.add_check_constraint(spark, table, "k_big", "k > 5")
    dl.drop_check_constraint(table, "v_pos")
    assert dl.table_constraints(table) == {}
    with pytest.raises(KeyError):
        dl.drop_check_constraint(table, "nope")


def test_check_constraint_survives_checkpoint(spark, sf_dir, table):
    df = spark.createDataFrame([(1, 10)], "k int, v int")
    dl.append(df, table, checkpoint_every=1)
    dl.add_check_constraint(spark, table, "v_pos", "v > 0",
                            checkpoint_every=1)
    for i in range(3):  # push checkpoints PAST the constraint commit
        dl.append(spark.createDataFrame([(i + 2, 5)], "k int, v int"),
                  table, checkpoint_every=1)
    assert dl.table_constraints(table) == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="v_pos"):
        dl.append(spark.createDataFrame([(9, -1)], "k int, v int"), table)


# ------------------------------------------------------ bloom file index


def test_bloom_index_point_lookup_skips(spark, sf_dir, table):
    """Point lookups on an unclustered high-cardinality key: min/max
    stats cannot prune (random hex overlaps every range) but the bloom
    index prunes most files — and never the file holding the key."""
    src = _orders(spark, sf_dir).select(
        "o_orderkey", F.md5(F.col("o_orderkey").cast("string")).alias("uk")
    )
    dl.append(src.repartition(8), table, stat_cols=["uk"],
              bloom_cols=["uk"])
    keys = [r["uk"] for r in src.limit(10).collect()]
    total = len(dl.live_files(table))
    assert total >= 8
    for uk in keys:
        sel, tot = dl.plan_files(table, predicate=[("uk", "=", uk)])
        assert len(sel) < tot, "bloom must prune files for a point key"
        got = dl.read_table(spark, table, predicate=[("uk", "=", uk)])
        assert got.count() == 1, "bloom must never drop the real match"
    # a key that exists nowhere prunes (almost) everything
    sel, tot = dl.plan_files(table, predicate=[("uk", "=", "no-such-key")])
    assert len(sel) <= max(1, tot // 2)


def test_bloom_index_absent_column_never_skips(spark, sf_dir, table):
    src = _orders(spark, sf_dir)
    dl.append(src.repartition(4), table, bloom_cols=["o_clerk_missing"])
    sel, tot = dl.plan_files(
        table, predicate=[("o_clerk_missing", "=", "x")]
    )
    assert len(sel) == tot  # no index -> cannot skip


def test_bloom_index_numeric_literal_kinds(spark, sf_dir, table):
    """An int literal probing a float bloom column (and vice versa)
    must never false-negative: col = 1 matches 1.0 in the engine, so
    the bloom key folds integral floats onto ints."""
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.5), (3, 3.0)], "k long, fv double"
    )
    dl.append(df.repartition(3), table, bloom_cols=["fv", "k"])
    # int literal vs double column
    got = dl.read_table(spark, table, predicate=[("fv", "=", 1)])
    assert got.count() == 1
    # float literal vs long column
    got2 = dl.read_table(spark, table, predicate=[("k", "=", 2.0)])
    assert got2.count() == 1
    # non-integral literal on the long column: no match, prune is fine
    assert dl.read_table(spark, table, predicate=[("fv", "=", 2.5)]).count() == 1


def test_compact_small_files_only_touches_small(spark, sf_dir, table):
    """Size-tiered OPTIMIZE: one big file + many streaming crumbs —
    only the crumbs rewrite; the big file's add action is untouched;
    the logical row set is unchanged and DVs on crumbs materialize."""
    src = _orders(spark, sf_dir)
    dl.append(src, table)                       # v0: one big file
    big_paths = {a["path"] for a in dl.live_files(table)}
    for i in range(4):                          # 4 tiny appends (crumbs)
        dl.append(src.limit(10).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(9_000_000 + i * 100)
        ), table)
    key = 9_000_000 + int(src.agg(F.min("o_orderkey")).first()[0])
    dl.delete_where(spark, table, [("o_orderkey", "=", key)])  # dv a crumb
    before = dl.read_table(spark, table)
    n_before = before.count()
    big_bytes = max(a["bytes"] for a in dl.live_files(table))
    res = dl.compact_small_files(spark, table, target_bytes=big_bytes)
    assert res["files_compacted"] >= 4
    after_paths = {a["path"] for a in dl.live_files(table)}
    assert big_paths <= after_paths, "the big file must ride through"
    assert not any(a.get("dv") for a in dl.live_files(table))
    assert dl.read_table(spark, table).count() == n_before
    # a single small file is left alone (no churn commit)
    v = dl.table_version(table)
    res2 = dl.compact_small_files(spark, table, target_bytes=1)
    assert res2["files_compacted"] == 0 and dl.table_version(table) == v


def test_table_stats_o1_and_dv_adjusted(spark, sf_dir, table):
    """O(log) row counts: exact after appends, dv deletes subtract,
    purge/compact stay exact — never a data scan."""
    src = _orders(spark, sf_dir)
    dl.append(src.repartition(4), table, stat_cols=["o_orderkey"])
    n = src.count()
    st = dl.table_stats(table)
    assert st["rows"] == n and st["rows_exact"] and st["files"] >= 4
    dl.delete_where(spark, table, [("o_orderstatus", "=", "F")])
    n2 = src.filter("o_orderstatus <> 'F'").count()
    assert dl.table_stats(table)["rows"] == n2
    dl.purge_dv(spark, table)
    assert dl.table_stats(table)["rows"] == n2
    assert dl.table_stats(table, version=0)["rows"] == n


def test_null_predicate_pruning(spark, sf_dir, table):
    """isnull prunes all-non-null files; notnull prunes all-null files;
    results always exact."""
    df = spark.createDataFrame(
        [(1, 10), (2, 20)], "k int, v int"
    )
    nulls = spark.createDataFrame([(3, None), (4, None)], "k int, v int")
    dl.append(df.coalesce(1), table, stat_cols=["v"])
    dl.append(nulls.coalesce(1), table, stat_cols=["v"])
    sel, tot = dl.plan_files(table, predicate=[("v", "isnull", None)])
    assert tot == 2 and len(sel) == 1
    got = dl.read_table(spark, table, predicate=[("v", "isnull", None)])
    assert sorted(r["k"] for r in got.collect()) == [3, 4]
    sel2, _ = dl.plan_files(table, predicate=[("v", "notnull", None)])
    assert len(sel2) == 1
    got2 = dl.read_table(spark, table, predicate=[("v", "notnull", None)])
    assert sorted(r["k"] for r in got2.collect()) == [1, 2]


def test_compact_zorder_reclusters_and_prunes(spark, sf_dir, table):
    """OPTIMIZE ZORDER: a table ingested in ONE dimension's order gets
    re-clustered on two dimensions — afterwards single-column
    predicates on BOTH dimensions prune files, the row set is
    unchanged, and outstanding DVs materialize."""
    src = _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    # ingestion clustered ONLY by orderkey
    dl.append(src.repartition(8), table, stat_cols=["o_orderkey"],
              cluster_by=["o_orderkey"])
    dl.delete_where(spark, table, [("o_orderstatus", "=", "P")])
    expect = _ids(dl.read_table(spark, table))
    dl.compact_zorder(spark, table, ["o_orderkey", "o_custkey"],
                      num_files=8)
    assert not any(a.get("dv") for a in dl.live_files(table))
    assert _ids(dl.read_table(spark, table)) == expect
    # both dimensions now prune
    k_mid = int(src.agg(F.expr("percentile(o_orderkey, 0.1)")).first()[0])
    c_mid = int(src.agg(F.expr("percentile(o_custkey, 0.1)")).first()[0])
    sel_k, tot = dl.plan_files(table, predicate=[("o_orderkey", "<=", k_mid)])
    sel_c, _ = dl.plan_files(table, predicate=[("o_custkey", "<=", c_mid)])
    assert len(sel_k) < tot and len(sel_c) < tot


def test_snapshot_memo_identity(spark, sf_dir, table):
    """The (table, version) snapshot memo must (a) serve hits for an
    unchanged log, (b) MISS when the table is wholesale replaced on
    disk at the same path (the bench/test rmtree+rebuild pattern), and
    (c) never change what read_table reconstructs."""
    src = _orders(spark, sf_dir).limit(100)
    dl.append(src.filter("o_orderkey % 2 = 0"), table)
    dl.append(src.filter("o_orderkey % 2 = 1"), table)
    first = _ids(dl.read_table(spark, table))
    # same key twice: second call is a memo hit and bit-equal
    s1 = dl._snapshot(table, 1)
    assert dl._snapshot(table, 1) is s1
    # rebuild the table at the SAME path with different content
    shutil.rmtree(table)
    dl.append(src.filter("o_orderkey % 3 = 0"), table)
    dl.append(src.filter("o_orderkey % 3 != 0"), table)
    s2 = dl._snapshot(table, 1)
    assert s2 is not s1  # identity token changed -> replayed fresh
    assert _ids(dl.read_table(spark, table)) == _ids(src)
    assert first != _ids(dl.read_table(spark, table, version=0))
