"""Sources & sinks (SURVEY.md §2.1) — the cuIO reader/writer surface
re-expressed as Spark DataFrameReader/Writer calls.

Reference parity (cpp/include/cudf/io/, python/cudf/cudf/io/):
- read_csv / write_csv       : csv.hpp:1124 / :1452 (options builder
  csv.hpp:40-1115 — delimiter, header, dtypes, usecols, skiprows,
  na_values, compression)
- read_parquet / write_parquet: parquet.hpp:371 / :802; column
  selection + predicate→row-group pruning (io/parquet.py:213-237) is
  Catalyst-native here (PushedFilters reach the parquet scan).
- read_orc / write_orc        : orc.hpp:363 / :579 (stripe-statistics
  pruning io/orc.py:110-169 → built-in ORC pushdown)
- read_json                   : json.hpp:308 (JSON-lines + inference)
- read_avro                   : avro.hpp:212 (needs the spark-avro
  module; gated at call time)

Compression, remote filesystems (s3://, gs://, hdfs://) and partitioned
directory layouts ride on Hadoop FS + the format codecs — no code here,
by design: at 100 TB the scan surface IS the optimization surface, and
everything (pruning, pushdown, split planning) must stay inside the
native readers, not in Python shims.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as ST

from pygdf_spark.queries import _util

_DTYPE_MAP = {
    "int8": ST.ByteType(), "int16": ST.ShortType(), "int32": ST.IntegerType(),
    "int64": ST.LongType(), "float32": ST.FloatType(), "float64": ST.DoubleType(),
    "float": ST.DoubleType(), "int": ST.LongType(), "str": ST.StringType(),
    "string": ST.StringType(), "bool": ST.BooleanType(), "date": ST.DateType(),
    "datetime64[ns]": ST.TimestampType(), "datetime64[us]": ST.TimestampType(),
    "timestamp": ST.TimestampType(),
}


def _schema(names, dtype) -> ST.StructType | None:
    """cuDF-style names+dtype → StructType (dtype: dict or single str)."""
    if names is None:
        return None
    if isinstance(dtype, dict):
        f = [ST.StructField(n, _DTYPE_MAP[str(dtype.get(n, "string")).lower()], True) for n in names]
    elif dtype is not None:
        f = [ST.StructField(n, _DTYPE_MAP[str(dtype).lower()], True) for n in names]
    else:
        f = [ST.StructField(n, ST.StringType(), True) for n in names]
    return ST.StructType(f)


def _s3_read(read_fn, filepath: str):
    """Remote-FS dispatch (s3://, gs://, hdfs://): native Hadoop-
    connector path first (the production path — pushdown/split planning
    stay in the JVM); when the scheme fails to resolve (no
    hadoop-aws/gcs-connector jar, this sandbox), localize and hand the
    LOCAL path to the same native reader. See sources/s3.py and
    sources/remote_fs.py for the bounded-fallback contract."""
    from pygdf_spark.sources.remote_fs import is_remote_path, remote_localize

    if not is_remote_path(filepath):
        return read_fn(filepath)
    try:
        return read_fn(filepath)
    except Exception:
        return read_fn(remote_localize(filepath))


def _s3_write(write_fn, path: str) -> None:
    """Same dispatch for sinks: native first; else stage the Spark write
    to a local temp dir and upload the part objects."""
    import tempfile

    from pygdf_spark.sources.remote_fs import is_remote_path, remote_upload

    if not is_remote_path(path):
        write_fn(path)
        return
    try:
        write_fn(path)
    except Exception:
        stage = tempfile.mkdtemp(prefix="pygdf_s3_out_")
        write_fn(stage)
        remote_upload(stage, path)


def _local_prefix_line(filepath: str, lineno: int) -> str | None:
    """Line ``lineno`` of a LOCAL single file, read driver-side.

    Returns None (caller falls back to the distributed fetch) unless
    ``filepath`` is a plain or ``file://`` path naming one regular
    file. Newline handling matches Hadoop's line reader: the ``\\n``
    terminator and at most one preceding ``\\r`` are stripped."""
    p = filepath
    if "://" in p:
        if not p.startswith("file://"):
            return None
        p = p[len("file://"):] or "/"
    if not os.path.isfile(p):
        return None
    try:
        with open(p, encoding="utf-8", newline="\n") as f:
            for i, line in enumerate(f):
                if i == lineno:
                    if line.endswith("\n"):
                        line = line[:-1]
                    if line.endswith("\r"):
                        line = line[:-1]
                    return line
    except (OSError, UnicodeDecodeError):
        return None
    return None


def _csv_prefix_read(
    spark: SparkSession, filepath: str, r, sep: str, quotechar: str,
    header_used: bool, names: list[str] | None, schema,
    skiprows: int, nrows: int | None, skipfooter: int,
    byte_range: tuple[int, int] | None,
):
    """The sequential-prefix CSV options (``skiprows``/``nrows``/
    ``skipfooter``/``byte_range``, reference csv.hpp:40-1115) need
    exact FILE line positions, which Spark's split-parallel csv scan
    deliberately does not expose. This path reads the file as
    distributed text, assigns exact global line numbers with
    ``zipWithIndex`` (two passes: per-partition counts, then offsets —
    no driver materialization, order-correct because text splits are
    file-offset ordered), filters by position, and hands the surviving
    lines to the SAME native csv parser (``DataFrameReader.csv`` over
    an RDD of strings). Restriction shared with the reference's
    byte-range reader: records must be single-line (no embedded
    newlines in quoted fields) for positions to be line positions."""
    import csv as _pycsv

    # minPartitions=1 (not the default 2): a file below one block still
    # lands in a single partition, which makes zipWithIndex's offset
    # pre-pass a NO-OP (it only launches its counting job when there is
    # more than one partition — opt r7, guide §1.2). Large files are
    # unaffected: minPartitions is a floor, block-size splitting still
    # parallelizes them.
    rdd = spark.sparkContext.textFile(filepath, 1)

    if byte_range is not None:
        if names is None:
            raise ValueError(
                "read_csv(byte_range=...) requires explicit `names` "
                "(the header line is generally outside the range) — "
                "same contract as the reference reader"
            )
        off, size = byte_range
        # per-partition byte totals -> prefix offsets (bounded collect:
        # one small int per partition), then keep rows whose FIRST byte
        # falls inside [off, off+size) — the reference's row-ownership
        # rule, so adjacent ranges partition a file exactly
        per_part = rdd.mapPartitionsWithIndex(
            lambda i, it: [(i, sum(len(line.encode("utf-8")) + 1
                                   for line in it))]
        ).collect()
        starts = {}
        acc = 0
        for i, n in sorted(per_part):
            starts[i] = acc
            acc += n

        def _in_range(i, it):
            pos = starts[i]
            for line in it:
                if off <= pos < off + size:
                    yield line
                pos += len(line.encode("utf-8")) + 1

        lines = rdd.mapPartitionsWithIndex(_in_range)
        df = r.schema(schema).option("header", "false").csv(lines) \
            if schema is not None else \
            r.option("header", "false").option("inferSchema", "true").csv(lines)
        return df.toDF(*names) if schema is None else df

    idx = rdd.zipWithIndex()
    data_start = skiprows
    cols = names
    if header_used:
        # header fetch: O(skiprows+1) prefix lines. For a LOCAL single
        # file that is pure driver-side metadata work (zero Spark jobs
        # — the same class as the parquet footer-rows shortcut); any
        # other path (remote scheme, glob, directory) keeps the
        # distributed fetch, whose cost at scale is one partition-0
        # prefix scan either way.
        hdr = _local_prefix_line(filepath, skiprows)
        if hdr is None:
            hdr = idx.filter(
                lambda t: t[1] == skiprows
            ).map(lambda t: t[0]).first()
        cols = next(_pycsv.reader([hdr], delimiter=sep, quotechar=quotechar))
        data_start = skiprows + 1
    hi = None
    if skipfooter:
        hi = rdd.count() - skipfooter  # one counting pass, only if asked
    lo_stop = None if nrows is None else data_start + nrows

    def keep(t):
        i = t[1]
        if i < data_start:
            return False
        if hi is not None and i >= hi:
            return False
        if lo_stop is not None and i >= lo_stop:
            return False
        return True

    lines = idx.filter(keep).map(lambda t: t[0])
    if schema is not None:
        return r.schema(schema).option("header", "false").csv(lines)
    df = r.option("header", "false").option("inferSchema", "true").csv(lines)
    return df.toDF(*cols) if cols else df


def read_csv(
    spark: SparkSession,
    filepath: str,
    sep: str = ",",
    header: bool | str = "infer",
    names: list[str] | None = None,
    dtype=None,
    usecols: list[str] | None = None,
    na_values: str | list[str] | None = None,
    quotechar: str = '"',
    comment: str | None = None,
    dayfirst: bool = False,
    compression: str = "infer",
    doublequote: bool = True,
    skiprows: int = 0,
    nrows: int | None = None,
    skipfooter: int = 0,
    parse_dates: list[str] | None = None,
    byte_range: tuple[int, int] | None = None,
) -> DataFrame:
    """read_csv (csv.hpp:1124; py io/csv.py). ``names`` + ``dtype``
    supply an explicit schema (cuDF semantics); otherwise the header is
    used with type inference. ``usecols`` prunes columns — Catalyst
    pushes the pruning into the scan. ``doublequote`` mirrors the
    cuDF/pandas default (a doubled quotechar inside a quoted field is a
    literal quote); Spark's native default is backslash-escape, so the
    escape char is pinned to the quotechar unless doublequote=False.

    Positional options (reference csv.hpp:40-1115): ``skiprows`` skips
    leading file lines BEFORE the header; ``nrows`` bounds the data
    rows read; ``skipfooter`` drops trailing file lines; ``byte_range``
    =(offset, size) reads only rows whose first byte falls in the
    range (requires ``names``). Any of these routes through the
    line-indexed distributed text path (see ``_csv_prefix_read``);
    with none set the read is the plain native csv scan.
    ``parse_dates`` casts the named columns to timestamp after the
    read (pandas semantics)."""
    from pyspark.sql import functions as F

    r = spark.read.option("sep", sep).option("quote", quotechar)
    if doublequote:
        r = r.option("escape", quotechar)
    if na_values is not None:
        vals = [na_values] if isinstance(na_values, str) else list(na_values)
        r = r.option("nullValue", vals[0])  # Spark supports one sentinel
    if comment is not None:
        r = r.option("comment", comment)
    schema = _schema(names, dtype)
    header_used = header is True or (header == "infer" and names is None)
    if skiprows or nrows is not None or skipfooter or byte_range is not None:
        df = _csv_prefix_read(
            spark, filepath, r, sep, quotechar, header_used, names, schema,
            skiprows, nrows, skipfooter, byte_range,
        )
    else:
        if schema is not None:
            r = r.schema(schema).option(
                "header",
                "false" if header == "infer" else str(bool(header)).lower(),
            )
        else:
            r = r.option("header", "true").option("inferSchema", "true")
        df = _s3_read(r.csv, filepath)
    for c in parse_dates or ():
        df = df.withColumn(c, F.to_timestamp(F.col(c)))
    if usecols:
        df = df.select(*usecols)
    return df


def write_csv(df: DataFrame, path: str, sep: str = ",", header: bool = True,
              mode: str = "overwrite", quotechar: str = '"',
              doublequote: bool = True) -> None:
    """write_csv (csv.hpp:1452). ``doublequote`` matches read_csv's
    default (Spark's native writer backslash-escapes quotes, which the
    doublequote reader would then read back verbatim — the writer and
    reader must agree on the dialect for round-trips)."""
    w = df.write.option("sep", sep).option("header", str(header).lower()).option("quote", quotechar)
    if doublequote:
        w = w.option("escape", quotechar)
    _s3_write(w.mode(mode).csv, path)


def read_parquet(
    spark: SparkSession,
    filepath: str,
    columns: list[str] | None = None,
    filters=None,
) -> DataFrame:
    """read_parquet (parquet.hpp:371; py io/parquet.py:164). ``filters``
    is a SQL predicate string — expressed declaratively so Catalyst
    pushes it into the scan (row-group pruning, the Spark analog of
    io/parquet.py:213-237's pyarrow-stats pruning). A local path reads
    with its memoized schema (``queries._util.read_parquet``), so a
    repeated read runs no footer-inference job."""
    df = _s3_read(functools.partial(_util.read_parquet, spark), filepath)
    if filters is not None:
        df = df.filter(filters)
    if columns:
        df = df.select(*columns)
    return df


def write_parquet(df: DataFrame, path: str, partition_cols: list[str] | None = None,
                  mode: str = "overwrite", compression: str = "snappy",
                  cluster_by: list[str] | None = None,
                  bloom_filter_cols: list[str] | None = None,
                  options: dict | None = None) -> None:
    """write_parquet incl. Hive-partitioned layout (parquet.hpp:802;
    partition_cols io/parquet.py:86-112).

    Two scan-pruning knobs that matter at 100 TB (write-side cost, paid
    once; read-side benefit, paid on every scan):

    - ``cluster_by``: sortWithinPartitions before writing, so row-group
      min/max statistics become TIGHT, NON-OVERLAPPING zone maps on the
      clustered columns — range predicates then skip whole row groups
      instead of reading them (no shuffle: ordering is per-partition).
    - ``bloom_filter_cols``: writes parquet bloom filters for the named
      columns (`parquet.bloom.filter.enabled#col`), so point-lookup
      equality predicates skip row groups whose bloom excludes the key —
      the high-cardinality-id case min/max stats can't prune.
    """
    if cluster_by:
        df = df.sortWithinPartitions(*cluster_by)
    w = df.write.option("compression", compression).mode(mode)
    for c in bloom_filter_cols or ():
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
    for k, v in (options or {}).items():
        w = w.option(k, v)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    _s3_write(w.parquet, path)


def read_orc(spark: SparkSession, filepath: str, columns: list[str] | None = None,
             filters=None) -> DataFrame:
    """read_orc (orc.hpp:363) — predicate reaches ORC stripe pruning."""
    df = spark.read.orc(filepath)
    if filters is not None:
        df = df.filter(filters)
    if columns:
        df = df.select(*columns)
    return df


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """write_orc (orc.hpp:579)."""
    df.write.mode(mode).orc(path)


def read_json(spark: SparkSession, filepath: str, lines: bool = True,
              dtype=None, names: list[str] | None = None) -> DataFrame:
    """read_json (json.hpp:308): JSON-lines with inference, or an
    explicit schema via names+dtype."""
    r = spark.read
    schema = _schema(names, dtype)
    if schema is not None:
        r = r.schema(schema)
    if not lines:
        r = r.option("multiLine", "true")
    return r.json(filepath)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_avro(spark: SparkSession, filepath: str) -> DataFrame:
    """read_avro (avro.hpp:212). Prefers the spark-avro datasource when
    its jar is on the classpath (JVM-native decode); otherwise falls
    back to the in-repo pure-Python OCF decoder (sources/avro_lite.py),
    which still decodes DISTRIBUTED — one mapInPandas task per file —
    so the fallback scales with file count rather than gating on an
    absent jar."""
    try:
        df = spark.read.format("avro").load(filepath)
        df.schema  # force datasource resolution
        return df
    except Exception:
        from pygdf_spark.sources.avro_lite import read_avro_lite

        return read_avro_lite(spark, filepath)


def write_avro(df: DataFrame, path: str) -> None:
    """Single-file Avro export via the pure-Python encoder (host
    round-trip — fixture/interop scale, like read_feather; bulk data
    belongs in parquet/ORC)."""
    from pygdf_spark.sources.avro_lite import write_avro as _write

    _write(df.toPandas(), path)


def read_feather(spark: SparkSession, filepath: str,
                 columns: list[str] | None = None) -> DataFrame:
    """read_feather (py io/feather.py): the reference reads Feather via
    a pyarrow host round-trip; same here — pyarrow deserializes the
    file driver-side and the table ships to executors as Arrow batches.
    Documented small-data interop (like cuDF's host round-trip); bulk
    data belongs in parquet/ORC."""
    import pyarrow.feather as feather

    tbl = feather.read_table(filepath, columns=columns)
    return spark.createDataFrame(tbl.to_pandas())


def write_feather(df: DataFrame, path: str) -> None:
    """write via pyarrow (host round-trip, small-data interop)."""
    import pyarrow as pa
    import pyarrow.feather as feather

    feather.write_feather(pa.Table.from_pandas(df.toPandas()), path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str] | str,
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed parquet table — the persisted co-location scale path.

    The reference co-locates join/groupby keys per call via
    hash_partition + exchange (partitioning.hpp:93; dask_cudf shuffle
    `dask_cudf/core.py:322`). Bucketing persists that layout: two tables
    bucketed on the same key with the same bucket count join bucket-to-
    bucket with ZERO shuffle exchanges, and every later join/groupBy on
    the key reuses the layout. At 100 TB this converts the dominant
    repeated cost (full-table shuffle) into a one-time write cost.
    ``sort_cols`` additionally pre-sorts within buckets (SMJ reads
    skip the sort)."""
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.bucketBy(n_buckets, *cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.mode("overwrite").format("parquet").saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    """Catalog read of a bucketed table (bucket metadata only lives in
    the catalog — a plain path read would lose the layout)."""
    return spark.table(table_name)


def read_hdf(spark: SparkSession, filepath: str, key: str | None = None) -> DataFrame:
    """read_hdf (py io/hdf.py): the reference round-trips HDF5 through
    pandas; same here, gated on PyTables being installed (it is not in
    this container — the gate raises an actionable error, mirroring the
    read_avro jar gate)."""
    import pandas as pd

    try:
        pdf = pd.read_hdf(filepath, key=key)
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "read_hdf needs the 'tables' (PyTables) package; install it or "
            "convert the file to parquet/feather for bulk ingest"
        ) from e
    return spark.createDataFrame(pdf)
