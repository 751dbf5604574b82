"""WebDataset tar-shard source/sink — the multimodal training layout.

WebDataset (public format: github.com/webdataset/webdataset) stores a
training corpus as plain POSIX tar shards whose members are grouped by
basename: ``sample042.jpg`` + ``sample042.txt`` + ``sample042.json``
form ONE sample with three fields keyed by extension. It is the
de-facto interchange layout for image/audio+caption corpora because a
tar shard streams sequentially and shards are the parallelism unit.

Spark mapping (the container codecs' ``sources/shards.py``):

- read: shards arrive whole via ``binaryFile``, members are parsed
  with stdlib ``tarfile`` inside ``mapInPandas``; one output row per
  (sample key, extension) — pivot by extension to get one row per
  sample (demonstrated in queries/multimodal.py).
- write: one ``shard-<pid>.tar`` per partition.

Deterministic tars: member mtime/uid/gid are zeroed so byte-identical
inputs produce byte-identical shards (re-runs and retries are
idempotent artifacts, not timestamped ones).
"""

from __future__ import annotations

import io
import tarfile


def encode_webdataset(samples: list[tuple[str, str, bytes]]) -> bytes:
    """[(key, ext, data)] → deterministic tar bytes (uncompressed,
    USTAR) with members named ``<key>.<ext>``."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for key, ext, data in samples:
            info = tarfile.TarInfo(name=f"{key}.{ext}")
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def decode_webdataset(data: bytes) -> list[tuple[str, str, bytes]]:
    """tar bytes → [(key, ext, member bytes)]; ValueError on a corrupt
    or truncated archive (tarfile's ReadError re-raised with context)."""
    out = []
    try:
        with tarfile.open(fileobj=io.BytesIO(data), mode="r:*") as tf:
            for m in tf:
                if not m.isfile():
                    continue
                name = m.name.rsplit("/", 1)[-1]
                key, dot, ext = name.rpartition(".")
                if not dot:
                    key, ext = name, ""
                f = tf.extractfile(m)
                body = f.read() if f is not None else b""
                if len(body) != m.size:
                    raise ValueError(
                        f"truncated member {m.name!r} "
                        f"({len(body)}/{m.size} bytes)")
                out.append((key, ext, body))
    except tarfile.TarError as e:
        raise ValueError(f"corrupt WebDataset tar shard: {e}") from e
    return out


def write_webdataset(df, path: str, key_col: str,
                     field_cols: dict[str, str]) -> None:
    """Write one ``shard-<pid>.tar`` per partition through
    ``sources/shards.py`` (retry safety, the empty-target rule and
    filesystem scope are documented there). ``field_cols`` maps
    column → member extension (e.g. {"text": "txt", "img": "png"});
    binary columns are written raw, everything else UTF-8 encoded."""
    from pygdf_spark.sources.shards import write_shards

    def encode(pdf):
        samples = []
        # positional zip, not itertuples+getattr: pandas mangles
        # non-identifier column names ("my col" → _1) under itertuples,
        # which would getattr the wrong field
        series = [pdf[key_col]] + [pdf[c] for c in field_cols]
        for vals in zip(*series):
            key = vals[0]
            if key is None:
                raise ValueError("null sample key in WebDataset write")
            key = str(key)
            for (col, ext), v in zip(field_cols.items(), vals[1:]):
                if v is None:
                    # loud, not b"None" (write_safetensors lesson)
                    raise ValueError(
                        f"null value in WebDataset write "
                        f"(key={key!r}, column={col!r})")
                data = bytes(v) if isinstance(v, (bytes, bytearray)) \
                    else str(v).encode("utf-8")
                samples.append((key, ext, data))
        return [encode_webdataset(samples)]

    write_shards(df.select(key_col, *field_cols), path, encode,
                 "shard-%06d.tar")


def read_webdataset(spark, path_glob: str):
    """Distributed WebDataset read through ``sources/shards.py``: one
    decode per tar shard → one row per (shard, key, ext, data, n_bytes).
    Pivot on ext to assemble samples."""
    import os

    import pandas as pd

    from pygdf_spark.sources.shards import read_shards

    def scan(p, content):
        out = pd.DataFrame(decode_webdataset(content),
                           columns=["key", "ext", "data"])
        out.insert(0, "shard", os.path.basename(p))
        out["n_bytes"] = out["data"].map(len).astype("int64")
        return out

    return read_shards(
        spark, path_glob, scan,
        "shard string, key string, ext string, data binary, n_bytes long")
