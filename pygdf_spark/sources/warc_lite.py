"""Pure-Python WARC reader/writer — the Common Crawl interchange format.

Web-scale LLM corpora arrive as WARC (ISO 28500): a concatenation of
records, each ``WARC/1.0`` + CRLF headers + blank line + payload of
``Content-Length`` bytes + two CRLFs. Common Crawl ships them as
per-record gzip MEMBERS concatenated into one ``.warc.gz`` (so a reader
can seek to a member and inflate just that record; a whole-file reader
inflates members in a loop off ``zlib.decompressobj().unused_data``).

Execution contract (the container codecs' ``sources/shards.py``):
shards arrive whole through Spark's ``binaryFile`` source — the shard is
the format's parallelism unit, exactly how Common Crawl is processed in
practice (90k shards/crawl, embarrassingly parallel) — and records are
parsed inside ``mapInPandas``. No driver involvement.

The writer emits per-record-gzipped response records for fixtures and
export parity; write fans out one shard per partition.
"""

from __future__ import annotations

import zlib

_CRLF = b"\r\n"


def encode_warc_record(warc_type: str, target_uri: str, date: str,
                       record_id: str, payload: bytes,
                       content_type: str = "text/plain") -> bytes:
    """One uncompressed WARC/1.0 record (spec layout)."""
    headers = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: <urn:uuid:" + record_id.encode() + b">",
        b"WARC-Date: " + date.encode(),
        b"WARC-Target-URI: " + target_uri.encode(),
        b"Content-Type: " + content_type.encode(),
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    return _CRLF.join(headers) + _CRLF + _CRLF + payload + _CRLF + _CRLF


def _gzip_member(data: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(data) + co.flush()


def encode_warc(records: list[dict], gzip_members: bool = True) -> bytes:
    """records: [{warc_type, target_uri, date, record_id, payload}] →
    one ``.warc`` / ``.warc.gz`` blob (per-record gzip members, the
    Common Crawl layout)."""
    out = bytearray()
    for r in records:
        rec = encode_warc_record(
            r.get("warc_type", "response"), r["target_uri"], r["date"],
            r["record_id"], r["payload"],
            r.get("content_type", "text/plain"),
        )
        out.extend(_gzip_member(rec) if gzip_members else rec)
    return bytes(out)


def _gunzip_members(data: bytes) -> list[bytes]:
    """Inflate concatenated gzip members (the CC layout) — LINEARLY.

    Neither the naive ``decompressobj``/``unused_data`` loop NOR
    ``gzip.decompress`` is linear here: both re-slice the remaining
    buffer once per member (CPython's one-shot ``decompress`` is the
    same unused_data loop internally), which is O(members × bytes) —
    measured 89 s for ONE 13 MB / 50k-member shard. ``GzipFile`` over a
    ``BytesIO`` streams across member boundaries with bounded chunk
    reads (its ``_GzipReader`` tracks the offset; nothing is ever
    rescanned): the same shard inflates in well under a second.
    Truncation/corruption surface as EOFError/BadGzipFile/zlib.error →
    ValueError per the codec contract."""
    import gzip
    import io

    try:
        with gzip.GzipFile(fileobj=io.BytesIO(data)) as f:
            return [f.read()]
    except (EOFError, zlib.error, gzip.BadGzipFile, OSError) as e:
        raise ValueError(f"corrupt or truncated gzip member in WARC: {e}") from e


def decode_warc(data: bytes) -> list[dict]:
    """WARC bytes (plain or member-gzipped) → list of record dicts
    (warc_type, target_uri, date, record_id, content_type, payload).
    Raises ValueError on malformed input — truncated headers, bad
    Content-Length, short payloads — never silently drops records."""
    if data[:2] == b"\x1f\x8b":
        chunks = _gunzip_members(data)
        stream = b"".join(chunks)
    else:
        stream = data
    records = []
    pos = 0
    while pos < len(stream):
        # tolerate inter-record CRLF padding
        while stream[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= len(stream):
            break
        if not stream.startswith(b"WARC/", pos):
            raise ValueError(f"expected WARC/ version line at offset {pos}")
        hdr_end = stream.find(_CRLF + _CRLF, pos)
        if hdr_end < 0:
            raise ValueError("truncated WARC header block")
        headers: dict[str, str] = {}
        lines = stream[pos:hdr_end].split(_CRLF)
        for line in lines[1:]:
            k, _, v = line.partition(b":")
            headers[k.decode().strip().lower()] = v.decode("utf-8", "replace").strip()
        if "content-length" not in headers:
            raise ValueError("WARC record missing Content-Length")
        try:
            clen = int(headers["content-length"])
        except ValueError as e:
            raise ValueError("bad Content-Length in WARC record") from e
        body_start = hdr_end + 4
        payload = stream[body_start:body_start + clen]
        if len(payload) != clen:
            raise ValueError(
                f"truncated WARC payload ({len(payload)}/{clen} bytes)")
        rid = headers.get("warc-record-id", "")
        if rid.startswith("<urn:uuid:") and rid.endswith(">"):
            rid = rid[len("<urn:uuid:"):-1]
        records.append({
            "warc_type": headers.get("warc-type", ""),
            "target_uri": headers.get("warc-target-uri", ""),
            "date": headers.get("warc-date", ""),
            "record_id": rid,
            "content_type": headers.get("content-type", ""),
            "payload": payload,
        })
        pos = body_start + clen
    return records


def write_warc_dir(df, path: str, uri_col: str, date_col: str,
                   id_col: str, payload_col: str) -> None:
    """Write rows as a shard directory of ``part-<pid>.warc.gz`` files —
    one shard per partition through ``sources/shards.py`` (executor-local
    serialization; retry safety, the empty-target rule and filesystem
    scope are documented there)."""
    from pygdf_spark.sources.shards import write_shards

    def encode(pdf):
        recs = []
        for uri, date, rid, payload in zip(
            pdf[uri_col], pdf[date_col], pdf[id_col], pdf[payload_col]
        ):
            if payload is None or uri is None or rid is None:
                # loud, not b"None": a null would otherwise be silently
                # serialized as the 4-byte string "None" (the
                # write_safetensors null-cell lesson)
                raise ValueError(
                    f"null value in WARC write (record_id={rid!r}, "
                    f"uri={uri!r})")
            body = payload if isinstance(payload, (bytes, bytearray)) \
                else str(payload).encode("utf-8")
            recs.append({
                "warc_type": "response", "target_uri": str(uri),
                "date": str(date), "record_id": str(rid),
                "payload": bytes(body),
            })
        return [encode_warc(recs)]

    write_shards(df.select(uri_col, date_col, id_col, payload_col), path,
                 encode, "part-%06d.warc.gz")


def read_warc(spark, path_glob: str):
    """Distributed WARC read through ``sources/shards.py``: one decode
    per shard → one row per record (shard, warc_type, target_uri, date,
    record_id, content_type, payload binary, payload_len)."""
    import os

    import pandas as pd

    from pygdf_spark.sources.shards import read_shards

    cols = ["warc_type", "target_uri", "date", "record_id", "content_type",
            "payload"]

    def scan(p, content):
        out = pd.DataFrame(decode_warc(content), columns=cols)
        out.insert(0, "shard", os.path.basename(p))
        out["payload_len"] = out["payload"].map(len).astype("int64")
        return out

    return read_shards(
        spark, path_glob, scan, "shard string, warc_type string, "
        "target_uri string, date string, record_id string, "
        "content_type string, payload binary, payload_len long")
