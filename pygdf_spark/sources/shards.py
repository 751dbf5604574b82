"""One shard sink and one shard source for the container codecs.

The container formats (``.npy``/``.npz`` shards, safetensors, WARC,
WebDataset, Avro OCF) are not splittable: one file is the format's unit
of parallelism, the same layout Spark uses for every columnar sink.
Each codec module supplies only an ``encode`` (one partition's rows →
file bytes) and a ``decode`` (one file's bytes → rows); this module
owns the distributed part.

Sink (``write_shards``), the shared-POSIX-FS directory contract:

- the target directory must be missing or empty (Spark's default
  ``errorifexists``); shards left by an earlier write to the same path
  would otherwise be read back with the new ones;
- one shard per non-empty partition, named by
  ``TaskContext.partitionId()``: a retried or speculative attempt
  overwrites its own shard instead of adding a duplicate;
- every file is written to a ``<final>.tmp-<uuid>`` sibling and then
  ``os.replace``d into place, so a killed attempt never leaves a torn
  shard that a reader would decode;
- the job runs through the noop sink; only one (shard, rows) row per
  shard leaves the executors, and nothing is collected.

Filesystem scope: the sink opens executor-local POSIX paths, so it
needs ``path`` on a filesystem shared by all executors (local[*] /
NFS). For object stores, write parquet and convert, or run the writer
per node. The source goes through Spark's ``binaryFile`` and is
FS-agnostic: HDFS/S3 paths work like local ones.

Source (``read_shards``): ``binaryFile`` lists and reads whole files,
and ``mapInPandas`` decodes each file into rows. Split policy: the
scan's own split packing (files are packed by size into about one
split per core, or 128 MB splits when larger) with no exchange; a
``repartition`` by path over twice the default parallelism measured
slower on every shard I/O registry query. Only files that must be
decoded together (a ``.npy`` ids/vecs pair) meet through one hash
exchange on their shard key. Building the read launches no Spark job.
"""

from __future__ import annotations

import os


def write_shards(df, path: str, encode, *names: str) -> None:
    """Write ``df`` as one shard per non-empty partition under ``path``.

    ``encode(pdf)`` turns one partition's rows (one pandas frame) into
    one bytes blob per entry of ``names``; each name is a ``%``
    template filled with the partition id (``"part-%06d.warc.gz"``).
    Raises ``FileExistsError`` before any Spark job when ``path`` is a
    non-empty directory."""
    import pandas as pd

    if os.path.isdir(path) and os.listdir(path):
        raise FileExistsError(
            f"shard directory {path!r} is not empty; remove it or write "
            f"to a new path")
    os.makedirs(path, exist_ok=True)

    def dump(batches):
        import uuid

        from pyspark import TaskContext

        parts = [pdf for pdf in batches if len(pdf)]
        if parts:
            pdf = pd.concat(parts, ignore_index=True)
            pid = TaskContext.get().partitionId()
            for name, blob in zip(names, encode(pdf)):
                final = os.path.join(path, name % pid)
                tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
                with open(tmp, "wb") as f:
                    f.write(blob)
                os.replace(tmp, final)
            yield pd.DataFrame({"shard": [names[0] % pid], "rows": [len(pdf)]})

    df.mapInPandas(dump, "shard string, rows long") \
        .write.format("noop").mode("overwrite").save()


def read_shards(spark, path_or_glob: str, decode, schema: str,
                glob: str | None = None, pair: str | None = None):
    """Read whole files under ``path_or_glob`` and decode them into rows
    of ``schema`` (a DDL string).

    ``decode(key, *blobs)`` returns one pandas frame. ``key`` is the
    file's path, and ``blobs`` its bytes. With ``pair``, a regex whose
    group 1 names the shard, the two files sharing a name arrive
    together in path order, and ``key`` is that name; a file without
    its partner arrives alone. ``glob`` filters file names
    (``pathGlobFilter``), so a directory without matching files reads
    as 0 rows while a missing one still raises."""
    from pyspark.sql import functions as F

    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    key = F.regexp_extract("path", pair, 1) if pair else F.col("path")
    files = reader.load(path_or_glob).select(key.alias("key"), "path", "content")
    width = 2 if pair else 1
    if pair:
        # splits are packed by size alone: one exchange brings a pair together
        files = files.repartition(spark.sparkContext.defaultParallelism, "key")

    def run(batches):
        waiting: dict = {}
        for pdf in batches:
            for k, p, content in zip(pdf["key"], pdf["path"], pdf["content"]):
                waiting.setdefault(k, []).append((p, content))
                if len(waiting[k]) == width:
                    yield decode(k, *(c for _, c in sorted(waiting.pop(k))))
        for k, members in waiting.items():
            yield decode(k, *(c for _, c in sorted(members)))

    return files.mapInPandas(run, schema)
