"""Pure-Python safetensors codec — the LLM-ecosystem tensor container.

Public format (huggingface/safetensors spec): 8-byte little-endian
header length, a JSON header mapping tensor name → ``{dtype, shape,
data_offsets}`` (offsets relative to the byte buffer that follows),
then the raw little-endian tensor buffer. Zero-copy friendly and
trivially seekable — which is why it became the checkpoint/embedding
interchange format this engine's pipelines meet in practice.

Same execution contract as the other container codecs
(``sources/shards.py``): files arrive whole through Spark's
``binaryFile`` source and are parsed inside ``mapInPandas`` — no driver
involvement.
"""

from __future__ import annotations

import json
import struct

import numpy as np

#: spec dtype tag -> numpy dtype (little-endian)
_DTYPES = {
    "F64": "<f8", "F32": "<f4", "F16": "<f2",
    "I64": "<i8", "I32": "<i4", "I16": "<i2", "I8": "|i1",
    "U64": "<u8", "U32": "<u4", "U16": "<u2", "U8": "|u1",
    "BOOL": "|b1",
}
_TAGS = {np.dtype(v): k for k, v in _DTYPES.items()}


def encode_safetensors(tensors: dict[str, np.ndarray], metadata: dict | None = None) -> bytes:
    """Serialize named arrays to safetensors bytes (spec layout)."""
    header: dict = {}
    buf = bytearray()
    for name, arr in tensors.items():
        arr = np.asarray(arr)
        if arr.ndim:  # ascontiguousarray would promote 0-d to (1,)
            arr = np.ascontiguousarray(arr)
        dt = arr.dtype.newbyteorder("<") if arr.dtype.byteorder == ">" else arr.dtype
        tag = _TAGS.get(np.dtype(dt))
        if tag is None:
            raise ValueError(f"unsupported dtype {arr.dtype} for tensor {name!r}")
        start = len(buf)
        buf.extend(arr.astype(dt, copy=False).tobytes())
        header[name] = {
            "dtype": tag,
            "shape": list(arr.shape),
            "data_offsets": [start, len(buf)],
        }
    if metadata:
        header["__metadata__"] = {str(k): str(v) for k, v in metadata.items()}
    hjson = json.dumps(header, separators=(",", ":")).encode("utf-8")
    return struct.pack("<Q", len(hjson)) + hjson + bytes(buf)


def decode_safetensors(data: bytes) -> tuple[dict[str, np.ndarray], dict]:
    """Parse safetensors bytes -> ({name: ndarray}, metadata dict)."""
    if len(data) < 8:
        raise ValueError("truncated safetensors: missing header length")
    (hlen,) = struct.unpack("<Q", data[:8])
    if 8 + hlen > len(data):
        raise ValueError("truncated safetensors: header overruns file")
    header = json.loads(data[8 : 8 + hlen].decode("utf-8"))
    meta = header.pop("__metadata__", {})
    body = memoryview(data)[8 + hlen :]
    out: dict[str, np.ndarray] = {}
    for name, spec in header.items():
        tag = spec["dtype"]
        if tag not in _DTYPES:
            raise ValueError(f"unsupported dtype tag {tag!r}")
        dt = np.dtype(_DTYPES[tag])
        start, end = spec["data_offsets"]
        if not (0 <= start <= end <= len(body)):
            raise ValueError(f"tensor {name!r} offsets out of range")
        shape = tuple(spec["shape"])
        n = int(np.prod(shape)) if shape else 1
        if end - start != n * dt.itemsize:
            raise ValueError(f"tensor {name!r} size mismatch")
        out[name] = np.frombuffer(body[start:end], dtype=dt, count=n).reshape(shape)
    return out, meta


def write_safetensors(df, path: str, tensor_cols: dict[str, str],
                      single_file: bool = False) -> None:
    """Write a DataFrame as a SHARD DIRECTORY of safetensors containers —
    one ``shard-<pid>.safetensors`` per partition through
    ``sources/shards.py`` (executor-local serialization, no driver
    collect; retry safety, the empty-target rule and filesystem scope
    are documented there).

    ``tensor_cols`` maps column → numpy dtype string; an ``array<T>``
    column stacks to a 2-D ``(n, d)`` tensor, scalars to 1-D ``(n,)``.

    ``single_file=True`` keeps the old one-container mode (checkpoint-
    artifact semantics) — it collects the table driver-side, so it is
    gated behind ``options.max_driver_rows`` exactly like the compat
    veneer's collect paths.
    """
    from pygdf_spark.sources.shards import write_shards

    def _pack(pdf) -> dict[str, np.ndarray]:
        tensors = {}
        for col, dt in tensor_cols.items():
            s = pdf[col]
            if s.isna().any():
                raise ValueError(
                    f"column {col!r} has nulls — tensors are dense; "
                    f"fill or drop nulls before write_safetensors"
                )
            first = next((v for v in s if v is not None), None)
            if first is not None and isinstance(first, (list, np.ndarray)):
                tensors[col] = np.stack(
                    [np.asarray(v, dtype=dt) for v in s]
                ) if len(s) else np.empty((0, 0), dtype=dt)
            else:
                tensors[col] = s.to_numpy(dt)
        return tensors

    if single_file:
        from pygdf_spark.options import get_option

        cap = get_option("max_driver_rows")
        if cap is not None and df.count() > cap:
            raise ValueError(
                f"single_file=True collects the whole table on the driver; "
                f"row count exceeds options.max_driver_rows={cap} — use the "
                f"sharded mode (single_file=False)"
            )
        pdf = df.select(*tensor_cols).toPandas()
        with open(path, "wb") as f:
            f.write(encode_safetensors(_pack(pdf)))
        return

    write_shards(df.select(*tensor_cols), path,
                 lambda pdf: [encode_safetensors(_pack(pdf))],
                 "shard-%06d.safetensors")


def read_safetensors(spark, path_glob: str):
    """Distributed inventory read: one row per (file, tensor) with
    shape/dtype and integer-exact content stats — the manifest pass a
    checkpoint-auditing pipeline runs before deciding what to load."""
    import os

    import pandas as pd

    from pygdf_spark.sources.shards import read_shards

    def scan(p, content):
        tensors, _ = decode_safetensors(content)
        rows = []
        for name, arr in tensors.items():
            flat = arr.reshape(-1)
            rows.append({
                "file": os.path.basename(p),
                "tensor": name,
                "dtype": str(arr.dtype),
                "n_elems": int(flat.size),
                "n_dims": int(arr.ndim),
                # ORDER-INDEPENDENT integer checksum: floor-quantize per
                # element, then sum exactly — summing floats first would
                # drift with accumulation order across engines
                "sum_milli": int(
                    np.floor(flat.astype("f8") * 1000).astype("i8").sum()
                ),
            })
        return pd.DataFrame(
            rows, columns=["file", "tensor", "dtype", "n_elems",
                           "n_dims", "sum_milli"]
        ).astype({"n_elems": "int64", "n_dims": "int32", "sum_milli": "int64"})

    return read_shards(
        spark, path_glob, scan, "file string, tensor string, dtype string, "
                                "n_elems long, n_dims int, sum_milli long")
