"""NPY/safetensors spec-codec tests: hand-built bitstreams (independent
of the encoders), round-trips, malformed rejection, and the shard sink
and source (``sources/shards.py``) under every container writer."""

from __future__ import annotations

import json
import re
import struct

import numpy as np
import pytest

from pygdf_spark.sources.npy_lite import decode_npy, encode_npy
from pygdf_spark.sources.safetensors_lite import (
    decode_safetensors,
    encode_safetensors,
)


def test_npy_handbuilt_header():
    # hand-author a v1.0 npy: 3 int16 values, header padded per spec
    header = "{'descr': '<i2', 'fortran_order': False, 'shape': (3,), }"
    pad = 64 - ((6 + 4 + len(header) + 1) % 64)
    header = header + " " * pad + "\n"
    raw = (b"\x93NUMPY\x01\x00" + struct.pack("<H", len(header))
           + header.encode() + struct.pack("<3h", -5, 0, 300))
    arr = decode_npy(raw)
    assert arr.dtype == np.int16 and arr.tolist() == [-5, 0, 300]


def test_npy_roundtrip_and_errors():
    for a in [np.arange(6, dtype=np.int64),
              np.random.default_rng(0).normal(size=(4, 5)).astype(np.float32),
              np.array([], dtype=np.float64),
              np.array(True)]:
        out = decode_npy(encode_npy(a))
        assert out.dtype == a.dtype and out.shape == a.shape
        assert np.array_equal(out, a)
    with pytest.raises(ValueError, match="magic"):
        decode_npy(b"PK\x03\x04junk")
    with pytest.raises(ValueError, match="version"):
        decode_npy(b"\x93NUMPY\x09\x00" + b"\x00" * 16)


def test_npy_fortran_order_reconstruction():
    a = np.asfortranarray(np.arange(12).reshape(3, 4))
    hdr = "{'descr': '<i8', 'fortran_order': True, 'shape': (3, 4), }"
    pad = 64 - ((6 + 4 + len(hdr) + 1) % 64)
    hdr = hdr + " " * pad + "\n"
    raw = (b"\x93NUMPY\x01\x00" + struct.pack("<H", len(hdr))
           + hdr.encode() + a.tobytes(order="F"))
    assert np.array_equal(decode_npy(raw), a)


def test_safetensors_handbuilt():
    # hand-author per the public spec: u64 header len + JSON + buffer
    body = struct.pack("<4i", 1, 2, 3, 4) + struct.pack("<2f", 0.5, -1.5)
    header = json.dumps({
        "ints": {"dtype": "I32", "shape": [2, 2], "data_offsets": [0, 16]},
        "floats": {"dtype": "F32", "shape": [2], "data_offsets": [16, 24]},
        "__metadata__": {"who": "test"},
    }).encode()
    raw = struct.pack("<Q", len(header)) + header + body
    tensors, meta = decode_safetensors(raw)
    assert tensors["ints"].tolist() == [[1, 2], [3, 4]]
    assert tensors["floats"].tolist() == [0.5, -1.5]
    assert meta == {"who": "test"}


def test_safetensors_roundtrip_and_errors():
    t = {
        "w": np.random.default_rng(1).normal(size=(3, 8)).astype(np.float32),
        "b": np.arange(8, dtype=np.int64),
        "flag": np.array([True, False]),
        "scalar": np.array(7, dtype=np.int32),
    }
    out, meta = decode_safetensors(encode_safetensors(t, {"k": 1}))
    for k in t:
        assert out[k].shape == t[k].shape and out[k].dtype == t[k].dtype
        assert np.array_equal(out[k], t[k])
    assert meta == {"k": "1"}

    with pytest.raises(ValueError, match="truncated"):
        decode_safetensors(b"\x01\x02")
    big = struct.pack("<Q", 10**6) + b"{}"
    with pytest.raises(ValueError, match="header overruns"):
        decode_safetensors(big)
    # offsets escaping the buffer must be rejected (zero-trust parse)
    hdr = json.dumps({"x": {"dtype": "F32", "shape": [4],
                            "data_offsets": [0, 999]}}).encode()
    with pytest.raises(ValueError, match="out of range"):
        decode_safetensors(struct.pack("<Q", len(hdr)) + hdr + b"\x00" * 16)
    hdr2 = json.dumps({"x": {"dtype": "F32", "shape": [4],
                             "data_offsets": [0, 8]}}).encode()
    with pytest.raises(ValueError, match="size mismatch"):
        decode_safetensors(struct.pack("<Q", len(hdr2)) + hdr2 + b"\x00" * 8)


def _vectors(spark, n: int, parts: int):
    """n (vec_id, float32 embedding, text) rows over ``parts`` partitions."""
    rows = [(i, [float(np.float32(i / 7 + j)) for j in range(4)],
             f"doc {i} " * (i % 5)) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, text string"
    ).repartition(parts)


def _vec_rows(rows):
    return {(r["vec_id"], tuple(r["embedding"])) for r in rows}


def _inventory(rows):
    """safetensors inventory rows → {tensor: (dtype, n_elems, sum_milli)}
    summed over shards."""
    out: dict = {}
    for r in rows:
        _, n, m = out.get(r["tensor"], (None, 0, 0))
        out[r["tensor"]] = (r["dtype"], n + r["n_elems"], m + r["sum_milli"])
    return out


def _expected_inventory(rows):
    ids = np.array([r["vec_id"] for r in rows], np.int64)
    emb = np.array([r["embedding"] for r in rows], np.float32)
    return {
        "vec_id": ("int64", ids.size, int(ids.sum()) * 1000),
        "embedding": ("float32", emb.size,
                      int(np.floor(emb.astype("f8") * 1000).astype("i8").sum())),
    }


def _write(name, df, path):
    from pygdf_spark.sources.npy_lite import write_npy_dir, write_npz_dir
    from pygdf_spark.sources.safetensors_lite import write_safetensors
    from pygdf_spark.sources.warc_lite import write_warc_dir
    from pygdf_spark.sources.webdataset_lite import write_webdataset

    if name == "npy":
        write_npy_dir(df, path, "vec_id", "embedding")
    elif name == "npz":
        write_npz_dir(df, path, "vec_id", "embedding")
    elif name == "safetensors":
        write_safetensors(df, path, {"vec_id": "int64", "embedding": "float32"})
    elif name == "warc":
        write_warc_dir(
            df.selectExpr("concat('https://x/', vec_id) AS uri",
                          "'2026-01-01T00:00:00Z' AS d",
                          "CAST(vec_id AS STRING) AS rid", "text"),
            path, "uri", "d", "rid", "text")
    else:
        write_webdataset(df.selectExpr("CAST(vec_id AS STRING) AS k", "text"),
                         path, "k", {"text": "txt"})


def _read(name, spark, path):
    """The reader's DataFrame for ``path`` (built, not run)."""
    from pygdf_spark.sources.npy_lite import read_npy_dir, read_npz_dir
    from pygdf_spark.sources.safetensors_lite import read_safetensors
    from pygdf_spark.sources.warc_lite import read_warc
    from pygdf_spark.sources.webdataset_lite import read_webdataset

    return {"npy": read_npy_dir, "npz": read_npz_dir,
            "safetensors": read_safetensors, "warc": read_warc,
            "webdataset": read_webdataset}[name](spark, path)


def _normalized(name, rows):
    """Comparable form of a reader's rows."""
    if name in ("npy", "npz"):
        return _vec_rows(rows)
    if name == "safetensors":
        return _inventory(rows)
    if name == "warc":
        return {(int(r["record_id"]), bytes(r["payload"]).decode()) for r in rows}
    return {(int(r["key"]), bytes(r["data"]).decode()) for r in rows}


def _source(name, rows):
    """Comparable form of the source rows, in ``_normalized``'s terms."""
    if name in ("npy", "npz"):
        return _vec_rows(rows)
    if name == "safetensors":
        return _expected_inventory(rows)
    return {(r["vec_id"], r["text"]) for r in rows}


SHARD_WRITERS = ["npy", "npz", "safetensors", "warc", "webdataset"]


@pytest.mark.parametrize("name", SHARD_WRITERS)
def test_shard_writer_roundtrip(spark, tmp_path, name):
    """Every shard writer round-trips through its reader: float32 bits,
    ids, payload bytes survive; one shard per non-empty partition; no
    ``<final>.tmp-<uuid>`` file is left behind."""
    import os

    df = _vectors(spark, 40, 3)
    path = str(tmp_path / name)
    _write(name, df, path)
    names = os.listdir(path)
    assert names and not [n for n in names if ".tmp-" in n]
    assert len(names) == (6 if name == "npy" else 3)
    back = _read(name, spark, path).collect()
    assert _normalized(name, back) == _source(name, df.collect())


@pytest.mark.parametrize("name", SHARD_WRITERS)
def test_shard_writer_refuses_nonempty_target(spark, tmp_path, name, jobs):
    """A second write to a shard directory raises before any Spark job:
    stale shards of the first write would otherwise be read back with
    the new ones."""
    path = str(tmp_path / name)
    first = _vectors(spark, 40, 4)
    _write(name, first, path)
    second = _vectors(spark, 4, 2)

    def rewrite():
        with pytest.raises(FileExistsError, match=re.escape(path)):
            _write(name, second, path)

    assert jobs(rewrite)[1] == 0
    back = _read(name, spark, path).collect()
    assert _normalized(name, back) == _source(name, first.collect())


@pytest.mark.parametrize("name", ["npy", "npz"])
def test_empty_shard_dir_reads_as_zero_rows(spark, tmp_path, name):
    """A 0-row write leaves an empty directory that reads back as 0 rows
    with the declared schema; a missing directory still raises."""
    path = str(tmp_path / name)
    _write(name, _vectors(spark, 0, 2), path)
    back = _read(name, spark, path)
    assert back.collect() == []
    assert back.schema.simpleString() == "struct<vec_id:bigint,embedding:array<float>>"
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        _read(name, spark, str(tmp_path / "missing")).collect()


def test_npy_half_without_partner_raises(spark, tmp_path):
    """An ids shard whose vecs partner is gone fails the read loudly
    instead of silently dropping the shard's rows."""
    import os

    path = str(tmp_path / "npy")
    _write("npy", _vectors(spark, 40, 2), path)
    os.remove(os.path.join(path, sorted(n for n in os.listdir(path)
                                        if n.startswith("vecs-"))[0]))
    with pytest.raises(Exception, match="half missing"):
        _read("npy", spark, path).collect()


def test_shard_reads_build_without_jobs(spark, tmp_path, jobs):
    """Building any shard read (the five writers' readers and the Avro
    decoder) launches no Spark job; the files are read when it runs."""
    import pandas as pd

    from pygdf_spark.sources.avro_lite import read_avro_lite, write_avro

    df = _vectors(spark, 40, 4)
    for name in SHARD_WRITERS:
        path = str(tmp_path / name)
        _write(name, df, path)
        assert jobs(lambda: _read(name, spark, path))[1] == 0, name
    avro = tmp_path / "avro"
    avro.mkdir()
    for i in range(3):
        write_avro(pd.DataFrame({"k": [i, i + 10]}), str(avro / f"{i}.avro"))
    back, n = jobs(lambda: read_avro_lite(spark, str(avro)))
    assert n == 0
    assert sorted(r["k"] for r in back.collect()) == [0, 1, 2, 10, 11, 12]


def test_package_level_readers(spark, tmp_path):
    """cudf-style module functions: gd.read_npy_dir / gd.read_safetensors."""
    import pandas as pd

    import pygdf_spark as gd
    from pygdf_spark.sources.npy_lite import write_npy_dir
    from pygdf_spark.sources.safetensors_lite import encode_safetensors

    pdf = pd.DataFrame({"vec_id": [1, 2],
                        "embedding": [[0.5, 1.5], [2.5, 3.5]]})
    d = str(tmp_path / "sh")
    write_npy_dir(spark.createDataFrame(pdf), d, "vec_id", "embedding")
    out = gd.read_npy_dir(d, spark=spark).to_pandas()
    assert sorted(out["vec_id"].tolist()) == [1, 2]

    p = str(tmp_path / "t.safetensors")
    with open(p, "wb") as f:
        f.write(encode_safetensors({"w": np.arange(4, dtype=np.int64)}))
    inv = gd.read_safetensors(p, spark=spark).to_pandas()
    assert inv["tensor"].tolist() == ["w"] and inv["n_elems"].tolist() == [4]


def test_npz_roundtrip_and_malformed(spark, sf_dir, tmp_path):
    """Sharded .npz write→read preserves float32 bits; malformed zips
    and mismatched members raise ValueError (fail-loud)."""
    import os
    import zipfile

    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from pygdf_spark.sources.npy_lite import (
        encode_npy,
        read_npz_dir,
        write_npz_dir,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    src = emb.select("vec_id", "embedding").repartition(3)
    path = str(tmp_path / "npz")
    write_npz_dir(src, path, "vec_id", "embedding")
    shards = [n for n in os.listdir(path) if n.endswith(".npz")]
    assert len(shards) >= 1 and not [n for n in os.listdir(path)
                                     if ".tmp-" in n]
    back = read_npz_dir(spark, path)
    a = {r["vec_id"]: r["embedding"] for r in src.collect()}
    b = {r["vec_id"]: r["embedding"] for r in back.collect()}
    assert a == b  # float32 bit-exact both ways
    # malformed member set → loud
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    with zipfile.ZipFile(os.path.join(bad, "part-00000.npz"), "w") as z:
        z.writestr("ids.npy", encode_npy(np.arange(3, dtype=np.int64)))
        z.writestr("vecs.npy", encode_npy(np.zeros((2, 4), np.float32)))
    with pytest.raises(Exception, match="length mismatch"):
        read_npz_dir(spark, bad).collect()
    # not a zip at all → loud
    worse = str(tmp_path / "worse")
    os.makedirs(worse)
    with open(os.path.join(worse, "part-00000.npz"), "wb") as f:
        f.write(b"not a zip")
    with pytest.raises(Exception, match="malformed shard"):
        read_npz_dir(spark, worse).collect()
