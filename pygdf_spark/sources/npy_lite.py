"""Pure-Python NPY shard source/sink — distributed numpy-format IO.

The ``.npy`` format (public numpy NEP spec: magic ``\\x93NUMPY``,
version, ASCII header dict ``{descr, fortran_order, shape}``, raw
little-endian array body) is the lingua franca for embedding/tensor
interchange in ML data pipelines. A single ``.npy`` is not splittable,
so the distributed layout is the standard SHARD DIRECTORY: one
``ids-<i>.npy`` + ``vecs-<i>.npy`` pair per partition (the same layout
Spark uses for every columnar sink). Write and read go through ``sources/shards.py``: each
executor serializes its own partition locally (no driver collect), and
the read decodes whole shards in ``mapInPandas`` — shards are the
parallelism unit, like parquet row-groups.

Header parsing uses ``ast.literal_eval`` (the spec's own recommendation)
— never ``eval`` — and only the simple-dtype subset (numeric/bool), 1-D
or 2-D C-order, which is what embedding shards are.
"""

from __future__ import annotations

import ast
import struct

import numpy as np

_MAGIC = b"\x93NUMPY"


def encode_npy(arr: np.ndarray) -> bytes:
    """Serialize a C-order array to NPY v1.0 bytes (spec layout)."""
    arr = np.asarray(arr)
    if arr.ndim:  # ascontiguousarray would promote 0-d to (1,)
        arr = np.ascontiguousarray(arr)
    descr = arr.dtype.str  # e.g. '<f4'
    header = "{'descr': %r, 'fortran_order': False, 'shape': %r, }" % (
        descr, tuple(arr.shape))
    # pad with spaces so magic+2+2+len(header)+1 is a multiple of 64
    pad = 64 - ((len(_MAGIC) + 4 + len(header) + 1) % 64)
    header = header + " " * pad + "\n"
    return (
        _MAGIC + b"\x01\x00" + struct.pack("<H", len(header))
        + header.encode("latin1") + arr.tobytes()
    )


def decode_npy(data: bytes) -> np.ndarray:
    """Parse NPY v1/v2 bytes -> ndarray (simple dtypes, C-order)."""
    if data[:6] != _MAGIC:
        raise ValueError("not an NPY file: bad magic")
    major = data[6]
    if major == 1:
        (hlen,) = struct.unpack("<H", data[8:10])
        off = 10
    elif major == 2:
        (hlen,) = struct.unpack("<I", data[8:12])
        off = 12
    else:
        raise ValueError(f"unsupported NPY version {major}")
    header = ast.literal_eval(data[off : off + hlen].decode("latin1"))
    dtype = np.dtype(header["descr"])
    if dtype.hasobject:
        raise ValueError("object dtypes not supported")
    shape = tuple(header["shape"])
    body = data[off + hlen :]
    n = int(np.prod(shape)) if shape else 1
    arr = np.frombuffer(body, dtype=dtype, count=n).reshape(shape)
    if header.get("fortran_order"):
        arr = np.asfortranarray(arr.reshape(shape[::-1]).T)
    return arr


def _arrays(pdf, id_col: str, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    """One partition's (id, vector) rows → (int64 ids, float32 2-D vecs)."""
    return (np.asarray(pdf[id_col], np.int64),
            np.stack([np.asarray(v, np.float32) for v in pdf[vec_col]]))


def _rows(ids: np.ndarray, vecs: np.ndarray, where: str):
    """Decoded ids/vecs halves of one shard → (vec_id, embedding) rows."""
    import pandas as pd

    if len(ids) != len(vecs):
        raise ValueError(f"{where}: ids/vecs length mismatch")
    return pd.DataFrame({
        "vec_id": ids.astype("int64"),
        "embedding": [row.tolist() for row in vecs],
    })


def write_npy_dir(df, path: str, id_col: str, vec_col: str) -> None:
    """Write (id, vector) rows as a shard directory: per partition, one
    ``ids-<pid>.npy`` (int64) + ``vecs-<pid>.npy`` (float32 2-D) pair.
    Retry safety, the empty-target rule and filesystem scope are those
    of ``sources/shards.py``."""
    from pygdf_spark.sources.shards import write_shards

    write_shards(
        df.select(id_col, vec_col), path,
        lambda pdf: [encode_npy(a) for a in _arrays(pdf, id_col, vec_col)],
        "ids-%06d.npy", "vecs-%06d.npy",
    )


def read_npy_dir(spark, path: str):
    """Read an id/vector shard directory back to (id, vector) rows: the
    ids/vecs halves of each shard arrive together through
    ``sources/shards.py`` (FS-agnostic), then decode. A half without its
    partner raises."""
    from pygdf_spark.sources.shards import read_shards

    def load(shard, *halves):
        if len(halves) != 2:
            raise ValueError(f"npy shard {shard}: ids/vecs half missing")
        return _rows(*map(decode_npy, halves), f"npy shard {shard}")

    return read_shards(spark, path, load, "vec_id long, embedding array<float>",
                       glob="{ids,vecs}-*.npy", pair=r"-(\w+)\.npy$")


# ----------------------------------------------------------------- npz


def write_npz_dir(df, path: str, id_col: str, vec_col: str) -> None:
    """Sharded ``.npz`` sink: one zip container per partition holding
    the standard numpy archive members (``ids.npy`` + ``vecs.npy``).
    Shard naming, retry safety and the empty-target rule are those of
    ``sources/shards.py``. ZIP_STORED — the float payload is
    incompressible and STORED keeps the member byte ranges seekable for
    partial readers."""
    import io
    import zipfile

    from pygdf_spark.sources.shards import write_shards

    def pack(pdf):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
            for member, a in zip(("ids.npy", "vecs.npy"),
                                 _arrays(pdf, id_col, vec_col)):
                z.writestr(member, encode_npy(a))
        return [buf.getvalue()]

    write_shards(df.select(id_col, vec_col), path, pack, "part-%05d.npz")


def read_npz_dir(spark, path: str):
    """Read ``.npz`` shards back to (vec_id, embedding) rows — whole
    zip containers arrive through ``sources/shards.py`` (one task per
    shard), members decode with the same npy codec. Malformed zips or
    mismatched member lengths raise (fail-loud)."""
    import io
    import zipfile

    from pygdf_spark.sources.shards import read_shards

    def load(_path, content):
        try:
            z = zipfile.ZipFile(io.BytesIO(content))
            ids, vecs = decode_npy(z.read("ids.npy")), decode_npy(z.read("vecs.npy"))
        except (zipfile.BadZipFile, KeyError) as e:
            raise ValueError(f"npz: malformed shard: {e}") from e
        return _rows(ids, vecs, "npz")

    return read_shards(spark, path, load, "vec_id long, embedding array<float>",
                       glob="part-*.npz")
