"""Genuinely-streaming queries (SURVEY.md §2.10): each runs a real
``readStream`` pipeline (file micro-batch source → event-time operator
→ memory sink, ``trigger(availableNow=True)``) to completion and
returns the sink contents. The DuckDB oracle verifies the final state
against plain batch SQL — streaming and batch semantics must agree on
bounded input.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pygdf_spark.queries._util import cents
from pygdf_spark.streaming import (
    dedup_first_per_key,
    enrich_with_dim,
    read_events_stream,
    run_available_now,
    run_stream,
    session_counts,
    sliding_counts,
    stateful_change_capture,
    stateful_user_counts,
    tumbling_counts,
    view_purchase_join,
)


def sstream_tumbling_live(spark, sf_dir):
    """readStream → 5-min tumbling windows → complete-mode memory sink."""
    ev = read_events_stream(spark, sf_dir)
    out = run_available_now(tumbling_counts(ev), "complete")
    return out.orderBy("w_start", "event_type")


SSTREAM_TUMBLING_SQL = """
SELECT (TIMESTAMP '1970-01-01' + (epoch_ns(ts) // 300000000000) * 300 * INTERVAL 1 SECOND) AS w_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_val
FROM events GROUP BY 1, 2 ORDER BY w_start, event_type
"""


def sstream_sliding_live(spark, sf_dir):
    """readStream → 10/5-min sliding windows → complete-mode sink."""
    ev = read_events_stream(spark, sf_dir)
    out = run_available_now(sliding_counts(ev), "complete")
    return out.orderBy("w_start")


SSTREAM_SLIDING_SQL = """
SELECT w_start, COUNT(*) AS n FROM (
  SELECT (TIMESTAMP '1970-01-01' + (epoch_ns(ts) // 300000000000) * 300 * INTERVAL 1 SECOND) AS w_start FROM events
  UNION ALL
  SELECT (TIMESTAMP '1970-01-01' + ((epoch_ns(ts) // 300000000000) * 300 - 300) * INTERVAL 1 SECOND) FROM events
) GROUP BY w_start ORDER BY w_start
"""


def sstream_dedup_live(spark, sf_dir):
    """readStream → watermarked dropDuplicates state → append sink."""
    ev = read_events_stream(spark, sf_dir)
    out = run_available_now(dedup_first_per_key(ev), "append")
    return out.orderBy("user_id", "event_type")


SSTREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
"""


def sstream_stateful_counts(spark, sf_dir):
    """readStream → applyInPandasWithState per-user counter → update
    sink. One micro-batch (one file) ⇒ the emitted update per key IS
    the final total, so the batch COUNT(*) oracle checks it exactly."""
    ev = read_events_stream(spark, sf_dir)
    out = run_available_now(stateful_user_counts(ev), "update")
    return out.orderBy("user_id")


SSTREAM_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id ORDER BY user_id
"""


def sstream_session_live(spark, sf_dir):
    """readStream → per-user session windows (10-min gap) →
    complete-mode memory sink. Oracle: gaps-and-islands sessionization
    in SQL (new island when the gap to the previous event is ≥ the
    session gap — session_window merges [t, t+gap) intervals that
    overlap, so an exact-gap successor starts a new session)."""
    ev = read_events_stream(spark, sf_dir)
    out = run_available_now(session_counts(ev), "complete")
    return out.orderBy("user_id", "s_start")


SSTREAM_SESSION_SQL = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events
),
brk AS (
  SELECT user_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   >= 600000000 OR
                   lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM e
),
isl AS (
  SELECT user_id, us,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM brk
)
SELECT make_timestamp(MIN(us)) AS s_start, user_id, COUNT(*) AS n
FROM isl GROUP BY user_id, sid ORDER BY user_id, s_start
"""


def sstream_join_live(spark, sf_dir):
    """readStream ⋈ readStream: purchases matched to same-user views in
    the preceding 2 hours (watermarked interval join, append sink)."""
    ev = read_events_stream(spark, sf_dir)
    out = run_available_now(view_purchase_join(ev), "append")
    return out.orderBy("user_id", "view_id", "buy_id")


SSTREAM_JOIN_SQL = """
SELECT v.user_id, v.event_id AS view_id, b.event_id AS buy_id
FROM (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
      FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
      FROM events WHERE event_type = 'purchase') b
  ON v.user_id = b.user_id
 AND b.us >= v.us AND b.us < v.us + 7200000000
ORDER BY 1, 2, 3
"""


def sstream_static_join_live(spark, sf_dir):
    """readStream ⋈ STATIC broadcast dim: purchases enriched with the
    customer's nation inside each micro-batch (stateless map-side
    join), aggregated per nation in complete mode."""
    from pygdf_spark.queries._util import T

    ev = read_events_stream(spark, sf_dir)
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    out = run_available_now(enrich_with_dim(ev, cust), "complete")
    return out.select(
        "c_nationkey",
        "n_purchases",
        F.col("sum_value").cast("double").alias("sum_value"),
    ).orderBy("c_nationkey")


SSTREAM_STATIC_JOIN_SQL = """
SELECT c.c_nationkey, COUNT(*) AS n_purchases,
       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY c.c_nationkey ORDER BY c.c_nationkey
"""


def sstream_scd2_changes_live(spark, sf_dir):
    """readStream → applyInPandasWithState CDC change-capture (emit
    only events whose event_type differs from the key's last) → append
    sink. The streaming half of the batch SCD-2 history build
    (scd2_event_history): the emitted change rows are exactly that
    query's gaps-and-islands change extraction, so the batch LAG
    oracle checks the stateful operator exactly. The user_id predicate
    applies BEFORE the stateful operator — state stays bounded to the
    selected keys."""
    ev = read_events_stream(spark, sf_dir).filter(F.col("user_id") < 100)
    out = run_available_now(stateful_change_capture(ev), "append")
    return out.orderBy("user_id", "t_s", "event_id")


SSTREAM_SCD2_SQL = """
WITH s AS (
  SELECT user_id,
         (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) AS t_s,
         event_id, event_type
  FROM events WHERE user_id < 100
),
chg AS (
  SELECT *, LAG(event_type) OVER (PARTITION BY user_id
                                  ORDER BY t_s, event_id) AS prev
  FROM s
)
SELECT user_id, t_s, event_id, event_type AS attr
FROM chg WHERE prev IS NULL OR prev <> event_type
ORDER BY user_id, t_s, event_id
"""


def sstream_lake_sink_live(spark, sf_dir):
    """readStream → foreachBatch EXACTLY-ONCE sink into a deltalite
    table (txn-stamped idempotent commits — the streaming-ingestion-
    into-a-lakehouse shape) → snapshot read → aggregate. The stream is
    run TWICE against a fresh checkpoint the second time, so every
    micro-batch is genuinely REPLAYED: the txn high-water mark must
    swallow all of the replay or the sums double — the oracle checks
    exactly-once, not just at-least-once."""
    import os
    import shutil
    import tempfile

    from pygdf_spark.sources import deltalite as dl
    from pygdf_spark.streaming import (
        read_events_stream,
        run_available_now_deltalite,
    )

    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(),
                        f"pygdf_lakesink_{sf}_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    table = os.path.join(base, "tbl")

    def run(tag):
        ev = read_events_stream(spark, sf_dir)
        buys = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "value"
        )
        run_available_now_deltalite(
            buys, table, os.path.join(base, f"ckpt_{tag}"), app_id="lake_sink"
        )

    run("a")
    run("b")  # fresh checkpoint: full replay — txn guard must dedupe
    snap = dl.read_table(spark, table)
    return snap.agg(
        F.count("*").alias("n_purchases"),
        F.sum("event_id").alias("id_sum"),
        F.sum(cents("value")).alias("value_cents"),
    )


SSTREAM_LAKE_SINK_SQL = """
SELECT COUNT(*) AS n_purchases,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events WHERE event_type = 'purchase'
"""


def sstream_lake_source_live(spark, sf_dir):
    """deltalite as a REGISTERED STREAMING SOURCE (PySpark 4 Python
    DataSource API, streaming/lake_source.py): three append commits —
    with a COMPACT in between that the source must skip as pure
    metadata, never re-emit — are tailed by a real
    ``spark.readStream.format("deltalite")`` query (version offsets in
    Spark's own offset log, one input partition per committed file,
    Arrow record batches executor-side) into a memory sink. The oracle
    aggregates the three appended row sets directly: a duplicated
    (re-emitted compact) or dropped file breaks count AND sums."""
    import os
    import shutil
    import tempfile

    from pygdf_spark.queries._util import events_ts
    from pygdf_spark.sources import deltalite as dl
    from pygdf_spark.streaming.lake_source import register

    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(),
                        f"pygdf_lakesrc_{sf}_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    table = os.path.join(base, "tbl")

    ev = events_ts(spark, sf_dir).select(
        "event_id", "user_id", "event_type",
        cents("value").alias("v_c"),
    )
    dl.append(ev.filter(F.col("event_id") % 3 == 0).repartition(2), table)
    dl.append(ev.filter(F.col("event_id") % 3 == 1).repartition(2), table)
    dl.compact(spark, table, num_files=1)   # metadata only: must NOT re-emit
    dl.append(ev.filter(F.col("event_id") % 3 == 2).repartition(2), table)

    register(spark)
    q = run_stream(
        spark.readStream.format("deltalite").option("path", table).load()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").alias("id_sum"),
            F.sum("v_c").alias("value_cents"),
        ),
        "memory", mode="complete", checkpoint=os.path.join(base, "ckpt"),
    )
    return spark.table(q.name).orderBy("event_type")


SSTREAM_LAKE_SOURCE_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events GROUP BY event_type ORDER BY event_type
"""


def sstream_lake_cdf_live(spark, sf_dir):
    """STREAMING Change Data Feed (readChangeFeed=true on the
    registered deltalite source): an append then an overlapping pair
    of deletion-vector deletes are consumed as row-level changes —
    inserts for the ingest, exactly the INCREMENTAL delete set per dv
    commit (the overlap must not double-emit), computed per-file on
    executors from the position deltas. The oracle reconstructs the
    same change sets relationally."""
    import os
    import shutil
    import tempfile

    from pygdf_spark.queries._util import events_ts
    from pygdf_spark.sources import deltalite as dl
    from pygdf_spark.streaming.lake_source import register

    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(),
                        f"pygdf_lakecdf_{sf}_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    table = os.path.join(base, "tbl")

    ev = events_ts(spark, sf_dir).select(
        "event_id", "user_id", "event_type",
        cents("value").alias("v_c"),
    )
    dl.append(ev.repartition(4), table)                       # v0
    dl.delete_where(spark, table, "event_type = 'view'")      # v1
    dl.delete_where(
        spark, table, "event_type = 'view' OR event_id % 5 = 0"
    )                                                         # v2 (increment)

    register(spark)
    q = run_stream(
        spark.readStream.format("deltalite").option("path", table)
        .option("readChangeFeed", "true").load()
        .groupBy("_commit_version", "_change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("id_sum"),
            F.sum("v_c").alias("value_cents"),
        ),
        "memory", mode="complete", checkpoint=os.path.join(base, "ckpt"),
    )
    return spark.table(q.name).orderBy("_commit_version", "_change_type")


SSTREAM_LAKE_CDF_SQL = """
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
         COUNT(*) AS n_rows, CAST(SUM(event_id) AS BIGINT) AS id_sum,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM events
  UNION ALL
  SELECT 1, 'delete', COUNT(*), CAST(SUM(event_id) AS BIGINT),
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT 2, 'delete', COUNT(*), CAST(SUM(event_id) AS BIGINT),
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
  FROM events WHERE event_type <> 'view' AND event_id % 5 = 0
) ORDER BY _commit_version, _change_type
"""


def sstream_lake_merge_live(spark, sf_dir):
    """Streaming CDC APPLY into a lakehouse STATE table: a seeded
    per-user state (users < 50 at zero) consumes the purchase stream
    via foreachBatch MERGE — each micro-batch reduces to one delta row
    per user, matched users UPDATE additively (set_exprs see the
    source delta as src_<col>), first-seen users INSERT — and the
    whole run REPLAYS against a fresh checkpoint, so exactly-once on
    the MERGE path rides the txn high-water mark inside the commit
    protocol (a doubled batch doubles the additive sums — the oracle
    would catch it). Final state must equal the from-scratch per-user
    aggregate unioned with the untouched zero-seed users."""
    import os
    import shutil
    import tempfile

    from pygdf_spark.sources import deltalite as dl
    from pygdf_spark.streaming import (
        read_events_stream,
        run_available_now_lake_merge,
    )

    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(),
                        f"pygdf_lakemerge_{sf}_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    table = os.path.join(base, "tbl")

    from pygdf_spark.queries._util import T

    seed = (
        T(spark, sf_dir, "events").select("user_id").distinct()
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            F.lit(0).cast("long").alias("total_cents"),
            F.lit(0).cast("long").alias("n_buys"),
        )
    )
    dl.append(seed, table, stat_cols=["user_id"],
              cluster_by=["user_id"], target_files=4)

    def delta(bdf):
        return (
            bdf.filter(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(
                F.sum(cents("value")).alias("total_cents"),
                F.count(F.lit(1)).alias("n_buys"),
            )
        )

    def run(tag):
        ev = read_events_stream(spark, sf_dir)
        run_available_now_lake_merge(
            ev, table, os.path.join(base, f"ckpt_{tag}"),
            on="user_id",
            set_exprs={
                "total_cents": "total_cents + src_total_cents",
                "n_buys": "n_buys + src_n_buys",
            },
            app_id="cdc_state", stat_cols=["user_id"], prepare=delta,
        )

    run("a")
    run("b")  # fresh checkpoint: full replay — txn guard must dedupe
    snap = dl.read_table(spark, table)
    return snap.select("user_id", "total_cents", "n_buys") \
        .orderBy("user_id")


SSTREAM_LAKE_MERGE_SQL = """
WITH buys AS (
  SELECT user_id,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS total_cents,
         COUNT(*) AS n_buys
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
seed AS (SELECT DISTINCT user_id FROM events WHERE user_id < 50)
SELECT COALESCE(b.user_id, s.user_id) AS user_id,
       COALESCE(b.total_cents, 0) AS total_cents,
       COALESCE(b.n_buys, 0) AS n_buys
FROM seed s FULL OUTER JOIN buys b ON s.user_id = b.user_id
ORDER BY user_id
"""


QUERIES = {
    "sstream_lake_merge_live": sstream_lake_merge_live,
    "sstream_lake_cdf_live": sstream_lake_cdf_live,
    "sstream_lake_source_live": sstream_lake_source_live,
    "sstream_lake_sink_live": sstream_lake_sink_live,
    "sstream_scd2_changes_live": sstream_scd2_changes_live,
    "sstream_stateful_counts": sstream_stateful_counts,
    "sstream_static_join_live": sstream_static_join_live,
    "sstream_session_live": sstream_session_live,
    "sstream_join_live": sstream_join_live,
    "sstream_tumbling_live": sstream_tumbling_live,
    "sstream_sliding_live": sstream_sliding_live,
    "sstream_dedup_live": sstream_dedup_live,
}

ORACLE = {
    "sstream_lake_merge_live": SSTREAM_LAKE_MERGE_SQL,
    "sstream_lake_cdf_live": SSTREAM_LAKE_CDF_SQL,
    "sstream_lake_source_live": SSTREAM_LAKE_SOURCE_SQL,
    "sstream_lake_sink_live": SSTREAM_LAKE_SINK_SQL,
    "sstream_scd2_changes_live": SSTREAM_SCD2_SQL,
    "sstream_stateful_counts": SSTREAM_STATEFUL_SQL,
    "sstream_static_join_live": SSTREAM_STATIC_JOIN_SQL,
    "sstream_session_live": SSTREAM_SESSION_SQL,
    "sstream_join_live": SSTREAM_JOIN_SQL,
    "sstream_tumbling_live": SSTREAM_TUMBLING_SQL,
    "sstream_sliding_live": SSTREAM_SLIDING_SQL,
    "sstream_dedup_live": SSTREAM_DEDUP_SQL,
}
