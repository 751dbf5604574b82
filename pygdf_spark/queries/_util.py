"""Shared helpers for the query registry.

Determinism discipline (critical for the DuckDB oracle hash-compare):

- **Floating-point aggregates are order-dependent.** Spark and DuckDB sum
  doubles in different orders, so ``SUM(double)`` can differ in the last
  few ulps and break a value-hash. Every money/quantity aggregate here
  sums exact integers and only then casts the *result* to double — both
  engines then produce bit-identical doubles. Money sums are
  ``isum(cents(...))``: int64 cents (or products of cents) summed in
  int64 lanes and recombined once per group, with no per-row decimal
  work (the oracle sums the same BIGINTs in HUGEINT). The ``dsum``
  sums elsewhere cast to ``decimal(12,2)`` and sum exactly.
- **Statistical moments** (variance/correlation/skew) are computed from
  exact integer/decimal power sums with one final double expression,
  identical in both engines, instead of the built-in order-dependent
  accumulators.
- **Arrays**: anything collected into a list is sorted
  (``sort_array``/``list_sort``) so set-like results are deterministic.
- Column names are aliased identically in Spark and oracle SQL — the
  driver sorts columns by name before hashing.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the driver tables from the sf dir.

    Defensively pins session confs the queries assume on whatever
    session the caller built (the driver's session config is unknown;
    both are runtime-settable, verified):

    - ``nanosAsLong``: events.parquet stores TIMESTAMP(NANOS), which
      Spark rejects at schema conversion otherwise.
    - ``ansi.enabled=false``: Spark 4 defaults ANSI ON, where integer
      div/mod by zero and overflow THROW; the oracle SQL mirrors the
      non-ANSI null-on-edge semantics (round-2 lesson: binary_ops_pack
      failed only on a bare session).
    - ``session.timeZone=UTC``: hour()/window()/timestamp casts are
      session-tz-dependent; the DuckDB oracle reads naive timestamps,
      so a non-UTC driver session would shift VALUES (the bare-session
      sweep only proves execution, not values).

    The table is read with its schema from ``parquet_schema``, so only
    the first read of a file pays Spark's footer-inference job: the
    memo's key is the absolute path, the file's identity (size and
    mtime, per file for a directory table) and the session's
    parquet-inference confs, so a rewritten file or a session with
    other confs infers afresh. A missing path or a URI reads exactly
    as ``spark.read.parquet`` does."""
    pin_session_confs(spark)
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


# (abspath, file identity, inference confs) → StructType that Spark
# inferred for it. Schema METADATA only, never rows. Bounded FIFO, as
# deltalite's _SNAPSHOT_MEMO is.
_SCHEMA_MEMO: dict = {}
_SCHEMA_MEMO_MAX = 128
_SCHEMA_MEMO_LOCK = threading.Lock()
# session confs that change the type Spark infers from a parquet footer
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def _file_identity(path: str):
    """(size, mtime_ns) of a file; for a directory table the sorted
    (relpath, size, mtime_ns) of every file under it."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    ident = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            ident.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(ident))


def parquet_schema(spark: SparkSession, path: str):
    """The schema ``spark.read.parquet(path)`` would infer, memoized on
    the path, the file's identity and the session's inference confs
    (see T). Returns None for a missing path or a ``scheme://`` URI:
    those are not memoized."""
    if "://" in path:
        return None
    path = os.path.abspath(path)
    try:
        ident = _file_identity(path)
    except FileNotFoundError:
        return None
    key = (path, ident, tuple(spark.conf.get(k, None) for k in _INFER_CONFS))
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        with _SCHEMA_MEMO_LOCK:
            if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
                _SCHEMA_MEMO.pop(next(iter(_SCHEMA_MEMO)))
            _SCHEMA_MEMO[key] = schema
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the memoized schema given, so
    no inference job runs once the file's schema is known."""
    schema = parquet_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the scan would carry fewer
    partitions than the session's parallelism (guide §2.5 input skew):
    a small single-row-group parquet input scans as ONE partition, so
    heavy per-row pipelines (tokenize/explode/hash over documents)
    serialize onto one core — measured as a single 2.6s task under
    ml_quality_score_apply at sf0.1. At scale the scan is already
    many-partition/many-file and this is a no-op, so the extra
    exchange never ships big data. The split estimate replicates
    Spark's own math from file sizes (driver metadata — cheaper than
    forcing an RDD conversion for getNumPartitions). Round-robin keeps
    determinism (Spark sorts before repartition); consumers must be
    keyed/ordered operations, so results are layout-independent."""
    sess = df.sparkSession
    n = min_parts or sess.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        mpb = int(sess.conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 << 20)
        ).rstrip("b"))
        est = sum(
            -(-os.path.getsize(f.removeprefix("file:")) // mpb)
            for f in files
        )
    except Exception:
        est = df.rdd.getNumPartitions()  # non-local FS: ask Spark
    if est < n:
        return df.repartition(n)
    return df


@contextmanager
def shuffle_width(spark: SparkSession, n: int):
    """Scope the session's shuffle partition count to ``n`` for the
    body, then restore the previous value (or unset it, if it was
    unset). Bounded verification inputs use it where the width is
    fixed at execution: streaming state stores (one per shuffle
    partition, part of the checkpoint, never coalesced by AQE) and the
    eager localCheckpoint rounds of the graph operators."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def pin_session_confs(spark: SparkSession) -> None:
    """Pin the runtime confs every query's semantics assume (see T's
    docstring) — callable from any entry point that bypasses T, e.g.
    the streaming readers (window starts are session-tz-dependent)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def dec(col, scale: int = 2, precision: int = 12):
    """Cast to an exact decimal so sums are order-independent.

    All driver money/quantity columns are exact at scale 2 (verified);
    tight precision keeps multi-way decimal products inside Spark's
    38-digit cap with zero precision loss.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col, alias: str, scale: int = 2):
    """Order-independent double sum: exact decimal sum, then one cast."""
    return F.sum(dec(col, scale)).cast("double").alias(alias)


def normalize_ts(df, col: str = "ts"):
    """Normalize the events ``ts`` column to µs TimestampType regardless
    of the on-disk layout. The driver's testdata has shipped both
    TIMESTAMP(NANOS) (read as long via nanosAsLong) and plain
    timestamp[us]/timestamp_ntz — handle all three so a testdata
    regeneration can't break every time-keyed query (round-2 lesson)."""
    t = dict(df.dtypes).get(col)
    if t == "bigint":
        # integer div — double division rounds at ~1e18 ns and shifts 1 µs
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if t == "timestamp_ntz":
        # session tz pinned to UTC, so the cast is value-identity
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def epoch_sec(col: str = "ts"):
    """Epoch seconds from a (normalized) TimestampType column — exact
    integer µs div, matching DuckDB ``epoch_ns(ts) // 1e9`` for the
    post-1970 driver data."""
    return F.expr(f"unix_micros({col}) div 1000000")


def events_ts(spark, sf_dir: str):
    """events table with ``ts`` as a real µs TimestampType. Oracle side
    uses CAST(ts AS TIMESTAMP) — DuckDB truncates ns→µs identically."""
    return normalize_ts(T(spark, sf_dir, "events"))


def cents(col):
    """Exact int64 cents of a double column — THE determinism idiom
    for money arithmetic, and the oracle-side mirror is sql_cents.

    Bit-identical to ``F.round(col * 100, 0).cast("long")`` for every
    double (ties, negatives, ±0, NaN, ±inf, null, magnitudes past
    2**52), but in plain double ops: Spark evaluates that round as
    ``BigDecimal.valueOf(v).setScale(0, HALF_UP)`` per row, a
    ``Double.toString`` each. Here ``rint`` rounds every non-tie to
    nearest; a tie (``|v| - floor(|v|)`` is exact, so ``== 0.5`` finds
    exactly the ties) goes away from zero. NaN and ±inf fall through
    to ``rint`` and cast as Spark's round does."""
    c = F.col(col) if isinstance(col, str) else col
    v = c * 100
    a = F.abs(v)
    f = F.floor(a)
    return (
        F.when(a - f == 0.5, F.signum(v) * (f + 1))
        .otherwise(F.rint(v))
        .cast("long")
    )


# Bits of isum's low lane. A test seam, not an option: a test widens
# the lane to bring the row bound down to a size it can build.
_ISUM_LANE_BITS = 32


def isum(col):
    """Exact SUM of an int64 column, summed in int64 lanes — equal to
    ``SUM(CAST(col AS DECIMAL(38,0)))`` without its per-row BigInteger
    buffer round trip. Each value splits into a signed high lane
    ``col >> 32`` and an unsigned low lane ``col & 0xFFFFFFFF``; each
    lane sums as a plain long and the two recombine once per group as
    ``decimal(38,0)``. NULL for a group without a non-null value.

    Neither lane can leave int64 in a group of at most 2**31 rows,
    whatever the values, so the sum is exact there. A larger group
    raises instead of wrapping or returning NULL: the guard is the
    group's row count, one shared ``count(1)`` buffer. On q1 at sf0.1
    it costs 0.01 s; ``try_sum`` lanes with a non-null marker cost
    0.6 s."""
    c = F.col(col) if isinstance(col, str) else col
    bits = _ISUM_LANE_BITS
    mask = (1 << bits) - 1
    # low lanes lie in [0, mask], high lanes in [-2**(63-bits), 2**(63-bits))
    max_rows = min(1 << bits, ((1 << 63) - 1) // mask)
    hi = F.sum(F.shiftright(c, bits)).cast("decimal(20,0)")
    lo = F.sum(c.bitwiseAND(F.lit(mask))).cast("decimal(20,0)")
    return F.when(
        F.count(F.lit(1)) > max_rows,
        F.raise_error(F.lit(
            f"isum: a group of more than {max_rows} rows can overflow "
            "its int64 lanes"
        )),
    ).otherwise((hi * F.lit(1 << bits) + lo).cast("decimal(38,0)"))


def sql_cents(col: str) -> str:
    """DuckDB fragment mirroring ``cents``:
    CAST(round(col * 100, 0) AS BIGINT). Both engines round the double
    ``col * 100`` half-away-from-zero."""
    return f"CAST(round({col} * 100, 0) AS BIGINT)"
