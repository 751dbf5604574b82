"""ML-interchange IO round-trips: NPY shard directories and safetensors.

Training-data pipelines at 100 TB meet tensors in two public formats
besides parquet: sharded ``.npy`` (embedding dumps) and safetensors
(checkpoint/embedding containers). Both are implemented as pure-Python
spec codecs (``sources/npy_lite.py`` / ``sources/safetensors_lite.py``
— the avro_lite jar-free pattern) over ``sources/shards.py``: write fans
out one shard per partition via ``mapInPandas``; read distributes whole
shards through Spark's ``binaryFile`` source (the shard is the format's
parallelism unit).

Oracle discipline: every stat over float payloads is the ORDER-
INDEPENDENT integer fold ``SUM(FLOOR(e*1000))`` — float32 bits survive
both round-trips exactly, and floor-quantizing per element avoids both
accumulation-order drift and .5-tie rounding divergence.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from pygdf_spark.queries._util import T


def _tmp(sf_dir: str, tag: str) -> str:
    # pid discriminator (ADVICE r5): two concurrent runs on the same host
    # + SF (e.g. adversarial gate alongside bench) must not rmtree each
    # other's shard dirs mid-read
    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(tempfile.gettempdir(), f"pygdf_{tag}_{sf}_{os.getpid()}")


def _shards(df, rows_per_shard: int = 50_000) -> int:
    """Shard count for the write half of a round-trip: fixed-SIZE
    shards whose COUNT grows with the data — the production layout
    (Common Crawl: ~90k × ~1 GB shards/crawl). A fixed shard count is
    a parallelism floor that goes superlinear at scale: the 32× curve
    first ran io_warc_roundtrip at 191 s because coalesce(4) put 1.6M
    per-record gzip ops on 4 of 32 cores. df.count() on a parquet scan
    is metadata-cheap."""
    return max(4, -(-df.count() // rows_per_shard))


def _shards_src(sf_dir: str, name: str, rows_per_shard: int = 50_000) -> int:
    """``_shards`` from the source's parquet FOOTER row count — zero
    Spark jobs (opt r7, guide §1.2). Only for UNFILTERED sources
    (projections keep row count; every call site below qualifies)."""
    import pyarrow.parquet as pq

    p = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(p):
        rows = sum(
            pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
            for f in os.listdir(p) if f.endswith(".parquet")
        )
    else:
        rows = pq.ParquetFile(p).metadata.num_rows
    return max(4, -(-rows // rows_per_shard))


def _vec_milli(col: str = "embedding"):
    """In-row order-independent checksum: Σ floor(1000·e) as BIGINT."""
    return F.aggregate(
        F.transform(col, lambda e: F.floor(e.cast("double") * 1000).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def io_npy_roundtrip(spark, sf_dir):
    """embeddings → sharded .npy write (ids/vecs pairs, one per
    partition) → binaryFile read-back → per-row dim + checksum.
    The round-trip preserves float32 bits, so the oracle reads the
    ORIGINAL parquet."""
    from pygdf_spark.sources.npy_lite import read_npy_dir, write_npy_dir

    # shard-size discipline: fixed-SIZE shards, data-scaled COUNT
    # (see _shards) — a few shards at test SF, parallelism grows with
    # the table at scale
    base = T(spark, sf_dir, "embeddings")
    emb = base.select("vec_id", "embedding").repartition(
        _shards_src(sf_dir, "embeddings"))
    path = _tmp(sf_dir, "npy_emb")
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    write_npy_dir(emb, path, "vec_id", "embedding")
    back = read_npy_dir(spark, path)
    return back.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        _vec_milli().alias("vec_milli"),
    ).orderBy("vec_id")


IO_NPY_SQL = """
SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims,
       CAST((SELECT SUM(CAST(FLOOR(e * 1000) AS BIGINT))
             FROM UNNEST(embedding) AS t(e)) AS BIGINT) AS vec_milli
FROM embeddings ORDER BY vec_id
"""


def io_safetensors_roundtrip(spark, sf_dir):
    """embeddings → SHARDED safetensors write (one container per
    partition via mapInPandas — no driver collect; the r5 verdict's
    scale fix) → distributed inventory read (binaryFile + header parse
    + per-tensor integer checksums) → per-tensor totals. Aggregating
    over shards makes the result shard-count-independent, so the oracle
    reads the ORIGINAL parquet."""
    from pygdf_spark.sources.safetensors_lite import (
        read_safetensors,
        write_safetensors,
    )

    base = T(spark, sf_dir, "embeddings")
    emb = (
        base.select(
            F.col("embedding"),
            F.col("label").cast("int").alias("labels"),
            F.col("vec_id").alias("vec_ids"),
        )
        .withColumnRenamed("embedding", "embeddings")
        .repartition(_shards_src(sf_dir, "embeddings"))
    )
    path = _tmp(sf_dir, "st_emb")
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    write_safetensors(
        emb, path,
        {"embeddings": "float32", "labels": "int32", "vec_ids": "int64"},
    )
    inv = read_safetensors(spark, f"{path}/shard-*.safetensors")
    # per-tensor totals across shards (dtype/n_dims are per-shard
    # constants); 'tensors' normalizes the tmp-path file label away
    return (
        inv.groupBy("tensor")
        .agg(
            F.min("dtype").alias("dtype"),
            F.sum("n_elems").alias("n_elems"),
            F.max("n_dims").alias("n_dims"),
            F.sum("sum_milli").alias("sum_milli"),
        )
        .select(
            F.lit("tensors").alias("file"), "tensor", "dtype",
            "n_elems", "n_dims", "sum_milli",
        )
        .orderBy("tensor")
    )


IO_SAFETENSORS_SQL = """
WITH emb AS (
  SELECT COUNT(*) AS n,
         MAX(len(embedding)) AS d,
         SUM((SELECT SUM(CAST(FLOOR(e * 1000) AS BIGINT))
              FROM UNNEST(embedding) AS t(e))) AS emb_milli,
         SUM(CAST(vec_id AS BIGINT)) * 1000 AS id_milli,
         SUM(CAST(label AS BIGINT)) * 1000 AS lab_milli
  FROM embeddings
)
SELECT * FROM (
  SELECT 'tensors' AS file, 'embeddings' AS tensor, 'float32' AS dtype,
         CAST(n * d AS BIGINT) AS n_elems, CAST(2 AS INT) AS n_dims,
         CAST(emb_milli AS BIGINT) AS sum_milli
  FROM emb
  UNION ALL
  SELECT 'tensors', 'labels', 'int32', CAST(n AS BIGINT), CAST(1 AS INT),
         CAST(lab_milli AS BIGINT) FROM emb
  UNION ALL
  SELECT 'tensors', 'vec_ids', 'int64', CAST(n AS BIGINT), CAST(1 AS INT),
         CAST(id_milli AS BIGINT) FROM emb
) ORDER BY tensor
"""


def io_npz_roundtrip(spark, sf_dir):
    """embeddings → sharded .npz write (one zip-of-npy container per
    partition, ids+vecs members) → distributed read-back → per-row dim
    + checksum. Bit-exact float32 round-trip, so the oracle reads the
    ORIGINAL parquet — the npy oracle applies verbatim."""
    from pygdf_spark.sources.npy_lite import read_npz_dir, write_npz_dir

    base = T(spark, sf_dir, "embeddings")
    emb = base.select("vec_id", "embedding").repartition(
        _shards_src(sf_dir, "embeddings"))
    path = _tmp(sf_dir, "npz_emb")
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    write_npz_dir(emb, path, "vec_id", "embedding")
    back = read_npz_dir(spark, path)
    return back.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        _vec_milli().alias("vec_milli"),
    ).orderBy("vec_id")


def io_warc_roundtrip(spark, sf_dir):
    """documents → sharded .warc.gz write (per-record gzip members, one
    shard per partition — the Common Crawl layout) → distributed
    binaryFile read-back → per-record URI + payload byte length. The
    round-trip preserves UTF-8 bytes exactly, so the oracle reads the
    ORIGINAL parquet (strlen = UTF-8 byte count in DuckDB, matching
    Spark's octet semantics on the decoded payload)."""
    import shutil

    from pygdf_spark.sources.warc_lite import read_warc, write_warc_dir

    base = T(spark, sf_dir, "documents")
    docs = (
        base.select(
            F.concat(F.lit("https://"), F.col("source"), F.lit("/doc/"),
                     F.col("doc_id").cast("string")).alias("uri"),
            F.lit("2026-01-01T00:00:00Z").alias("wdate"),
            F.col("doc_id").cast("string").alias("rid"),
            F.col("text"),
        )
        # fixed-size shards, data-scaled COUNT (see _shards): the write
        # parallelism grows with the corpus instead of flooring at 4
        .repartition(_shards_src(sf_dir, "documents"))
    )
    path = _tmp(sf_dir, "warc")
    shutil.rmtree(path, ignore_errors=True)
    write_warc_dir(docs, path, "uri", "wdate", "rid", "text")
    back = read_warc(spark, f"{path}/part-*.warc.gz")
    return back.select(
        F.col("record_id").cast("long").alias("doc_id"),
        "target_uri",
        "payload_len",
    ).orderBy("doc_id")


IO_WARC_SQL = """
SELECT doc_id,
       'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
       CAST(strlen(text) AS BIGINT) AS payload_len
FROM documents ORDER BY doc_id
"""


def io_webdataset_roundtrip(spark, sf_dir):
    """documents → WebDataset tar shards (members ``<doc_id>.txt`` +
    ``<doc_id>.cls``, one deterministic tar per partition) →
    distributed read-back → pivot-by-extension to reassemble samples →
    per-sample lang + text byte length vs the original parquet."""
    import shutil

    from pygdf_spark.sources.webdataset_lite import (
        read_webdataset,
        write_webdataset,
    )

    base = T(spark, sf_dir, "documents")
    docs = (
        base.select(F.col("doc_id").cast("string").alias("k"), "text", "lang")
        .repartition(_shards_src(sf_dir, "documents"))
    )
    path = _tmp(sf_dir, "wds")
    shutil.rmtree(path, ignore_errors=True)
    write_webdataset(docs, path, "k", {"text": "txt", "lang": "cls"})
    back = read_webdataset(spark, f"{path}/shard-*.tar")
    per = (
        back.groupBy("key")
        .pivot("ext", ["txt", "cls"])  # explicit domain: no discovery job
        .agg(F.first("data"))
    )
    return per.select(
        F.col("key").cast("long").alias("doc_id"),
        F.decode("cls", "UTF-8").alias("lang"),
        F.length("txt").cast("long").alias("txt_bytes"),
    ).orderBy("doc_id")


IO_WEBDATASET_SQL = """
SELECT doc_id, lang, CAST(strlen(text) AS BIGINT) AS txt_bytes
FROM documents ORDER BY doc_id
"""


QUERIES = {
    "io_npy_roundtrip": io_npy_roundtrip,
    "io_npz_roundtrip": io_npz_roundtrip,
    "io_safetensors_roundtrip": io_safetensors_roundtrip,
    "io_warc_roundtrip": io_warc_roundtrip,
    "io_webdataset_roundtrip": io_webdataset_roundtrip,
}

ORACLE = {
    "io_npy_roundtrip": IO_NPY_SQL,
    "io_npz_roundtrip": IO_NPY_SQL,
    "io_safetensors_roundtrip": IO_SAFETENSORS_SQL,
    "io_warc_roundtrip": IO_WARC_SQL,
    "io_webdataset_roundtrip": IO_WEBDATASET_SQL,
}
