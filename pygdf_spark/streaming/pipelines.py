"""Structured Streaming pipelines (SURVEY.md §2.10).

The reference's streaming surface is offset-range Kafka micro-batches
(custreamz/kafka.py:92 ``read_gdf(start, end)`` with format decode, no
event-time semantics). Our engine maps that model onto Spark Structured
Streaming and then adds what the reference lacks: event-time windows,
watermarks, and stateful dedup.

Source parity: ``read_gdf``'s offset-bounded batch corresponds to a
bounded file/Kafka micro-batch here — ``trigger(availableNow=True)``
processes exactly the data present and terminates, which is the same
"read offsets [a, b) as one DataFrame" contract, generalized. A real
Kafka deployment swaps ``readStream.parquet`` for
``readStream.format("kafka")`` + ``from_json``/``from_avro`` with
``startingOffsets``/``endingOffsets`` — identical downstream plan.

State at scale: windowed aggregations and dropDuplicates keep per-key
state in the state store, partitioned by grouping key across executors;
watermarks bound that state (and are REQUIRED for append-mode windows
and for dedup state eviction at 100 TB/day rates). Complete mode is
used only for bounded verification runs — unbounded production streams
use append/update + watermark.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pygdf_spark.queries._util import (
    dec,
    normalize_ts,
    parquet_schema,
    pin_session_confs,
    shuffle_width,
)

_MEM_IDS = itertools.count()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream with its TIMESTAMP(NANOS)
    column converted to µs TimestampType (same truncation as the batch
    reader — SURVEY.md §1.2, types.hpp:216-220)."""
    pin_session_confs(spark)  # window starts are session-tz-dependent
    path = os.path.join(sf_dir, "events.parquet")
    # the file source needs a schema; the batch reader's memo (keyed on
    # the file's identity) infers it once per version of the file
    schema = parquet_schema(spark, path) or spark.read.parquet(path).schema
    if os.path.isdir(path):
        # multi-file layout (Spark-written table dir, e.g. the sf1
        # fixture): stream the table directory itself. pathGlobFilter
        # would be wrong here: it matches FILE names, and the data
        # files are part-*.parquet. No maxFilesPerTrigger — the part
        # files are not time-ordered, so per-file micro-batches would
        # watermark-drop genuinely-unordered rows (measured at sf1:
        # the stream-stream join kept 1,442 of 7,130 oracle rows);
        # one availableNow batch keeps batch/stream parity, matching
        # the single-file shape below. Late-data semantics get their
        # own dedicated coverage (stream_late_data_cutoff).
        sdf = spark.readStream.schema(schema).parquet(path)
    else:
        # single-file layout (driver testdata): the file source wants a
        # directory; stream the sf dir filtered down to the events file
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_ts(sdf)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """5-minute tumbling event-time windows per event_type — the same
    plan shape as the batch `stream_tumbling_window` query."""
    win = F.window("ts", "5 minutes")
    return events.groupBy(win.start.alias("w_start"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).cast("double").alias("sum_val"),
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """10-minute windows sliding every 5."""
    win = F.window("ts", "10 minutes", "5 minutes")
    return events.groupBy(win.start.alias("w_start")).agg(
        F.count(F.lit(1)).alias("n")
    )


def session_counts(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Per-user session windows (gap-merged): Spark's session_window
    operator — net-new capability vs the reference (custreamz has no
    event-time semantics). Sessions merge while consecutive events are
    strictly closer than the gap; state is partitioned by user_id across
    executors and, in append mode with a watermark, evicted as event
    time passes each session's close."""
    sw = F.session_window("ts", gap)
    return (
        events.groupBy(sw, "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("session_window.start").alias("s_start"),
            "user_id",
            "n",
        )
    )


def dedup_first_per_key(events: DataFrame) -> DataFrame:
    """Streaming dropDuplicates on (user_id, event_type): EXACT global
    first-per-key semantics (matches a batch DISTINCT, the oracle-
    pinnable form). State note: because the event-time column is NOT in
    the key subset, Spark keeps one state entry per distinct key for
    the life of the query — bounded by key-domain size, NOT by the
    watermark. For an unbounded key domain use
    :func:`dedup_within_watermark` instead. Only the key columns are
    emitted: WHICH duplicate row survives depends on arrival order
    (nondeterministic under parallel file listing), the key set does
    not."""
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def dedup_within_watermark(events: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Streaming dedup with EVICTABLE state: dropDuplicatesWithinWatermark
    guarantees dedup of key repeats arriving within ``delay`` of each
    other and lets the state store drop entries once the watermark
    passes — the 100 TB/day unbounded-key-domain shape (repeats farther
    apart than the watermark may BOTH survive; that is the documented
    trade for bounded state)."""
    return (
        events.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the
    arbitrary-state surface the reference has no analog for (its
    streaming is stateless micro-batch decode). Keeps one counter per
    user in the state store (partitioned by key across executors) and
    emits the updated total each micro-batch.

    The kernel is plain Python over Arrow batches, so any per-key
    custom state machine (sessionization, CDC merge, dedup-with-TTL)
    drops into the same shape."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_change_capture(events: DataFrame) -> DataFrame:
    """Streaming CDC (change-data-capture) collapse: per key, emit only
    the events whose attribute differs from the last one seen — the
    STREAMING half of the batch SCD-2 history build
    (queries/timeseries.py::scd2_event_history); feeding these change
    rows into that interval builder incrementally maintains the
    dimension. State is ONE tuple per key (the last attribute), so
    state volume is |keys|, not |events|; each micro-batch sorts its
    per-key slice by event time before comparing (rows within a batch
    arrive unordered)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = events.select(
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("t_s"),
        "event_id",
        "event_type",
    )

    def update(key, pdfs, state: GroupState):
        chunks = list(pdfs)
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(["t_s", "event_id"])
        last = state.get[0] if state.exists else None
        rows = []
        for t_s, eid, attr in zip(pdf["t_s"], pdf["event_id"],
                                  pdf["event_type"]):
            if attr != last:
                rows.append((key[0], t_s, eid, attr))
                last = attr
        state.update((last,))
        out = pd.DataFrame(rows, columns=["user_id", "t_s", "event_id",
                                          "attr"])
        yield out.astype({"user_id": "int64", "t_s": "int64",
                          "event_id": "int64"})

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, t_s long, event_id long, attr string",
        stateStructType="last_attr string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_with_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-STATIC join: every purchase event enriched map-side with
    its customer's nation via a broadcast of the static dimension — the
    canonical streaming-ETL enrichment. Stateless (no watermark, no
    state store): the static side is planned as a broadcast hash join
    inside each micro-batch, so the stream never shuffles. At scale the
    dim table refreshes by restarting the query or using a Delta-style
    changeable source; the plan shape is identical."""
    d = dim.select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    buys = events.filter(F.col("event_type") == "purchase")
    enriched = buys.join(F.broadcast(d), "user_id")
    return enriched.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(dec("value")).alias("sum_value"),
    )


def view_purchase_join(events: DataFrame, horizon: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's views in the preceding `horizon`. Both sides carry
    watermarks DERIVED FROM the horizon (delay = horizon + 1 hour
    slack, so the watermark always covers the join range — a fixed
    delay silently dropped in-horizon matches whenever the caller
    passed a larger horizon), and the join condition bounds event-time
    distance, so the state store can evict rows once the watermark
    passes their join horizon — the REQUIRED shape for an unbounded
    stream-stream join (an unbounded-range join would accumulate state
    forever). Net-new vs the reference (custreamz decodes micro-batches
    only)."""
    import re as _re

    m = _re.fullmatch(r"\s*(\d+)\s*(hours?)\s*", horizon)
    if not m:
        raise ValueError(
            f"horizon {horizon!r} must be whole hours (e.g. '2 hours') — "
            "the watermark slack arithmetic derives from it"
        )
    delay = f"{int(m.group(1)) + 1} hours"
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", delay)
    )
    buys = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", delay)
    )
    cond = (
        (F.col("v_user") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") < F.col("view_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return views.join(buys, cond, "inner").select(
        F.col("v_user").alias("user_id"), "view_id", "buy_id"
    )


# Structured Streaming creates one state-store instance per shuffle
# partition per stateful operator, FIXED at the query's first run (it is
# part of checkpoint state and AQE never coalesces it). A stream-stream
# join carries four stores per partition, so an oversized count is pure
# per-partition open/commit overhead on bounded runs (32 partitions made
# the interval join ~4x slower than 8 on the sf0.01 gate).
_STREAM_SHUFFLE_PARTITIONS = 8
# a bounded availableNow run that has not drained by then is stalled
_STREAM_TIMEOUT_S = 300


def run_stream(
    sdf: DataFrame, sink, *, mode: str = "append",
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Run a streaming DataFrame over exactly the data currently in the
    source (``trigger(availableNow=True)``) and wait for it to finish —
    the one runner every bounded stream goes through.

    ``sink`` is ``"memory"`` (a uniquely named memory table; read it
    back with ``spark.table(q.name)``), a parquet directory path, or a
    ``foreachBatch`` function. The shuffle width is scoped to
    ``_STREAM_SHUFFLE_PARTITIONS`` while the query runs. A query that
    has not terminated after ``_STREAM_TIMEOUT_S`` seconds is stopped
    and ``TimeoutError`` raised, so a stalled stream never hands back a
    partial sink; a failed query raises ``StreamingQueryException``.
    Returns the finished query (``name``, ``recentProgress``)."""
    w = sdf.writeStream.outputMode(mode)
    if callable(sink):
        w = w.foreachBatch(sink)
    elif sink == "memory":
        w = w.format("memory").queryName(f"pygdf_stream_sink_{next(_MEM_IDS)}")
    else:
        w = w.format("parquet").option("path", sink)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    with shuffle_width(sdf.sparkSession, _STREAM_SHUFFLE_PARTITIONS):
        q = w.trigger(availableNow=True).start()
        try:
            if not q.awaitTermination(_STREAM_TIMEOUT_S):
                raise TimeoutError(
                    f"stream {q.name or q.id} did not finish within "
                    f"{_STREAM_TIMEOUT_S} s; stopped"
                )
        finally:
            q.stop()  # no-op once terminated
    return q


def run_available_now(sdf: DataFrame, mode: str = "complete") -> DataFrame:
    """``run_stream`` into a memory sink; returns the sink as a batch
    DataFrame."""
    return sdf.sparkSession.table(run_stream(sdf, "memory", mode=mode).name)


def run_available_now_parquet(
    sdf: DataFrame, path: str, checkpoint: str, mode: str = "append",
) -> DataFrame:
    """``run_stream`` into a real PARQUET sink with a checkpoint — the
    durable-sink shape production streams use (exactly-once via the
    checkpoint's offset+commit log; append mode, so aggregations need a
    watermark that closes their windows). Returns the sink read back as
    a batch DataFrame."""
    run_stream(sdf, path, mode=mode, checkpoint=checkpoint)
    spark = sdf.sparkSession
    try:
        return spark.read.parquet(path)
    except Exception:
        # a zero-row stream commits no data files, so schema inference
        # fails — return an empty frame with the stream's own schema
        return spark.createDataFrame([], sdf.schema)


def _run_txn_batches(sdf: DataFrame, table: str, checkpoint: str,
                     commit) -> int:
    """``run_stream`` with a foreachBatch sink into a deltalite table:
    empty batches are skipped, every other batch is handed to
    ``commit(bdf, batch_id)``, which makes a txn-stamped commit and
    returns the table version after it. Returns the number of batches
    that advanced the version (a replayed batch is a no-op)."""
    from pygdf_spark.sources import deltalite as dl

    committed = []

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        if bdf.isEmpty():
            return
        before = dl.table_version(table)
        if commit(bdf, int(batch_id)) > before:
            committed.append(batch_id)

    run_stream(sdf, write_batch, checkpoint=checkpoint)
    return len(committed)


def run_available_now_deltalite(
    sdf: DataFrame, table: str, checkpoint: str, app_id: str = "stream",
) -> int:
    """EXACTLY-ONCE streaming sink into a deltalite table.

    ``foreachBatch`` is at-least-once: a micro-batch can re-run after a
    crash between the sink write and the checkpoint commit. Each batch
    append here stamps a ``txn: {app, batch}`` action into its commit
    header (the Delta idempotent-writes pattern); a replayed batch at or
    below the table's high-water mark for this app is skipped inside
    the COMMIT protocol itself, so duplicates cannot land even if two
    retries race — the loser's version-file create fails and its
    re-check sees the winner's txn. End-to-end: source offsets in the
    Spark checkpoint + idempotent txn commits in the table log =
    exactly-once, the production shape for streaming ingestion into a
    lakehouse table. Returns the number of micro-batches that actually
    committed."""
    from pygdf_spark.sources import deltalite as dl

    return _run_txn_batches(
        sdf, table, checkpoint,
        lambda bdf, b: dl.append(bdf, table, txn=(app_id, b)),
    )


def run_available_now_lake_merge(
    sdf: DataFrame, table: str, checkpoint: str, on,
    set_exprs: dict[str, str], app_id: str = "cdc",
    stat_cols: list[str] | None = None, prepare=None,
) -> int:
    """Streaming CDC APPLY: every micro-batch is MERGEd into a
    deltalite table (WHEN MATCHED THEN UPDATE SET ``set_exprs`` /
    WHEN NOT MATCHED THEN INSERT), txn-stamped so a replayed batch is
    swallowed inside the commit protocol — the exactly-once change-
    feed consumer a warehouse dimension/state table runs. The batch
    frame must already be keyed uniquely on ``on`` (aggregate per key
    inside the stream before this sink). Only files holding a matched
    key rewrite (merge's stats-prune + touch-detection shape), so the
    per-batch cost tracks the batch's key footprint, not table size."""
    from pygdf_spark.sources import deltalite as dl

    def merge_batch(bdf: DataFrame, batch_id: int) -> int:
        if prepare is not None:
            # per-batch reduction to one row per key (the CDC delta) —
            # runs on the BATCH frame, where plain aggregates are legal
            bdf = prepare(bdf)
        return dl.merge_into(
            bdf.sparkSession, table, bdf, on=on,
            when_matched="update", set_exprs=set_exprs,
            stat_cols=stat_cols, txn=(app_id, batch_id),
        )["version"]

    return _run_txn_batches(sdf, table, checkpoint, merge_batch)
