"""Pure-Python Avro Object Container File codec with DISTRIBUTED decode.

The reference reads Avro natively (cpp/include/cudf/io/avro.hpp:212,
cpp/src/io/avro). Spark's own Avro support lives in the external
spark-avro jar, which this container does not ship — but the Avro OCF
format (the public Apache Avro 1.x spec) is small enough to decode in
Python, and the JVM stays the execution engine: ``read_avro`` reads ONE
header driver-side for the schema, and the files arrive whole through
the container codecs' shard source (``sources/shards.py``: Spark's
``binaryFile`` + ``mapInPandas``), so each task decodes its own files
into Arrow batches. That is the standard binary-ingest shape — one task per
file/split, no driver materialization — so a directory of N avro files
decodes with N-way parallelism at any scale.

Supported: null/boolean/int/long/float/double/string/bytes, the
``["null", T]`` nullable union, and logical types date (int) and
timestamp-micros/millis (long); codecs null and deflate. That covers
what pandas/cuDF-shaped frames round-trip.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from glob import glob

_MAGIC = b"Obj\x01"


# -- varint / zigzag (Avro spec: long = zigzag varint) -------------------

def _read_long(buf: io.BufferedIOBase) -> int:
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        v = b[0]
        acc |= (v & 0x7F) << shift
        if not v & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _write_long(out: bytearray, n: int) -> None:
    n = (n << 1) if n >= 0 else ((-n - 1) << 1 | 1)  # zigzag
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


def _read_bytes(buf) -> bytes:
    return buf.read(_read_long(buf))


def _write_bytes(out: bytearray, data: bytes) -> None:
    _write_long(out, len(data))
    out.extend(data)


# -- schema <-> decode/encode plans --------------------------------------

def _field_reader(ftype):
    """A reader fn for one Avro type node (dicts carry logicalType)."""
    if isinstance(ftype, list):  # union — only ["null", T] supported
        if len(ftype) != 2 or "null" not in ftype:
            raise TypeError(f"unsupported union {ftype}")
        other = ftype[0] if ftype[1] == "null" else ftype[1]
        null_idx = ftype.index("null")
        inner = _field_reader(other)

        def read_union(buf):
            return None if _read_long(buf) == null_idx else inner(buf)

        return read_union
    logical = ftype.get("logicalType") if isinstance(ftype, dict) else None
    base = ftype["type"] if isinstance(ftype, dict) else ftype
    if base == "null":
        return lambda buf: None
    if base == "boolean":
        def read_bool(buf):
            b = buf.read(1)
            if not b:
                raise EOFError("truncated boolean")
            return b != b"\x00"
        return read_bool
    if base in ("int", "long"):
        if logical == "date":
            import datetime

            epoch = datetime.date(1970, 1, 1)
            return lambda buf: epoch + datetime.timedelta(days=_read_long(buf))
        if logical in ("timestamp-micros", "timestamp-millis"):
            import datetime

            mult = 1 if logical == "timestamp-micros" else 1_000
            # tz-AWARE UTC: Avro timestamp-micros is an instant; a naive
            # datetime would be reinterpreted as session-LOCAL time by
            # the Arrow bridge, shifting every value under non-UTC
            # sessions (and diverging from spark-avro's reading)
            epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
            # integer microseconds: float seconds would round large epochs
            return lambda buf: epoch + datetime.timedelta(
                microseconds=_read_long(buf) * mult
            )
        return _read_long
    if base == "float":
        return lambda buf: struct.unpack("<f", buf.read(4))[0]
    if base == "double":
        return lambda buf: struct.unpack("<d", buf.read(8))[0]
    if base == "string":
        return lambda buf: _read_bytes(buf).decode("utf-8")
    if base == "bytes":
        return lambda buf: bytes(_read_bytes(buf))
    raise TypeError(f"unsupported avro type {ftype!r}")


def _read_header(fh):
    """(schema dict, codec, sync marker); leaves fh at the first block."""
    if fh.read(4) != _MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta = {}
    while True:
        n = _read_long(fh)
        if n == 0:
            break
        if n < 0:  # negative block count: size follows
            n = -n
            _read_long(fh)
        for _ in range(n):
            k = _read_bytes(fh).decode()
            meta[k] = _read_bytes(fh)
    sync = fh.read(16)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    return schema, codec, sync


def _decode_stream(fh) -> tuple[dict, list[dict]]:
    """Decode one OCF stream → (schema, records)."""
    schema, codec, sync = _read_header(fh)
    if schema.get("type") != "record":
        raise ValueError("top-level Avro schema must be a record")
    readers = [(f["name"], _field_reader(f["type"])) for f in schema["fields"]]
    records = []
    while True:
        head = fh.read(1)
        if not head:
            break
        fh.seek(-1, os.SEEK_CUR)
        count = _read_long(fh)
        size = _read_long(fh)
        block = fh.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise TypeError(f"unsupported codec {codec}")
        buf = io.BytesIO(block)
        for _ in range(count):
            records.append({name: rd(buf) for name, rd in readers})
        if fh.read(16) != sync:
            raise ValueError("Avro sync marker mismatch (corrupt block)")
    return schema, records


def read_records_buf(data: bytes) -> tuple[dict, list[dict]]:
    """Decode an in-memory OCF blob → (schema, records): one file's
    bytes in ``read_avro_lite``, one message payload in the Kafka path
    (custreamz read_gdf hands cudf.read_avro the raw buffer the same
    way; kafka.py:158-165)."""
    return _decode_stream(io.BytesIO(data))


# -- writer (fixtures / export parity) -----------------------------------

_PD_AVRO = {
    "int8": "int", "int16": "int", "int32": "int", "int64": "long",
    "float32": "float", "float64": "double", "bool": "boolean",
    "object": "string", "string": "string",
    # pandas nullable extension dtypes (r3 advice: these fell through
    # to "string", so nullable booleans round-tripped as "True"/"False")
    "Int8": "int", "Int16": "int", "Int32": "int", "Int64": "long",
    "UInt8": "int", "UInt16": "int", "UInt32": "long", "UInt64": "long",
    "Float32": "float", "Float64": "double", "boolean": "boolean",
    # numpy unsigned dtypes (uint64 range-checked at write: Avro long
    # is the widest integer the spec has)
    "uint8": "int", "uint16": "int", "uint32": "long", "uint64": "long",
}


def _is_missing(v) -> bool:
    """Scalar-safe missing test (r3 advice: ``str(v) == "NaT"`` nulled a
    legitimate string "NaT", and pd.NA fell through to the writer)."""
    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return True
    if isinstance(v, float):
        return v != v
    return False


def _schema_for(pdf) -> dict:
    fields = []
    for c, dt in pdf.dtypes.items():
        s = str(dt)
        if s.startswith("datetime64"):
            t: object = {"type": "long", "logicalType": "timestamp-micros"}
        else:
            t = _PD_AVRO.get(s, "string")
        fields.append({"name": str(c), "type": ["null", t]})
    return {"type": "record", "name": "row", "fields": fields}


def _field_writer(ftype):
    if isinstance(ftype, list):
        other = ftype[0] if ftype[1] == "null" else ftype[1]
        null_idx = ftype.index("null")
        inner = _field_writer(other)

        def write_union(out, v):
            if v is None:
                _write_long(out, null_idx)
            else:
                _write_long(out, 1 - null_idx)
                inner(out, v)

        return write_union
    logical = ftype.get("logicalType") if isinstance(ftype, dict) else None
    base = ftype["type"] if isinstance(ftype, dict) else ftype
    if base == "boolean":
        return lambda out, v: out.append(1 if v else 0)
    if base in ("int", "long"):
        if logical in ("timestamp-micros", "timestamp-millis"):
            import datetime

            unit = 1_000_000 if logical == "timestamp-micros" else 1_000
            epoch = datetime.datetime(1970, 1, 1)

            def write_ts(out, v):
                import datetime as _dt

                dt = v.to_pydatetime() if hasattr(v, "to_pydatetime") else v
                if dt.tzinfo is not None:
                    # tz-aware: exact instant conversion to UTC
                    dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                td = dt - epoch
                micros = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
                _write_long(out, micros if unit == 1_000_000 else micros // 1_000)

            return write_ts
        def write_int(out, v):
            i = int(v)
            if not (-(1 << 63) <= i < (1 << 63)):
                raise ValueError(
                    f"integer {i} out of Avro long range (uint64 values "
                    ">= 2**63 are not representable in the Avro spec)"
                )
            _write_long(out, i)
        return write_int
    if base == "float":
        return lambda out, v: out.extend(struct.pack("<f", float(v)))
    if base == "double":
        return lambda out, v: out.extend(struct.pack("<d", float(v)))
    if base == "string":
        return lambda out, v: _write_bytes(out, str(v).encode("utf-8"))
    if base == "bytes":
        return lambda out, v: _write_bytes(out, bytes(v))
    raise TypeError(f"unsupported avro type {ftype!r}")


def encode_avro(pdf, codec: str = "deflate") -> bytes:
    """pandas frame → one Avro OCF blob (null-able union per column)."""
    schema = _schema_for(pdf)
    writers = [
        (f["name"], _field_writer(f["type"])) for f in schema["fields"]
    ]
    body = bytearray()
    # positional iteration: schema field names are str(label), but the
    # frame may carry non-string labels (ints, tuples) — row dicts would
    # KeyError on the stringified name
    n_rows = len(pdf)
    for row in pdf.itertuples(index=False, name=None):
        for (name, wr), v in zip(writers, row):
            wr(body, None if _is_missing(v) else v)
    data = bytes(body)
    if codec == "deflate":
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        data = comp.compress(data) + comp.flush()
    out = bytearray()
    out.extend(_MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    _write_long(out, len(meta))
    for k, v in meta.items():
        _write_bytes(out, k.encode())
        _write_bytes(out, v)
    _write_long(out, 0)
    sync = b"pygdf-spark-sync"  # deterministic 16-byte marker
    out.extend(sync)
    _write_long(out, n_rows)
    _write_long(out, len(data))
    out.extend(data)
    out.extend(sync)
    return bytes(out)


def write_avro(pdf, path: str, codec: str = "deflate") -> None:
    """pandas frame → one Avro OCF file."""
    with open(path, "wb") as fh:
        fh.write(encode_avro(pdf, codec))


# -- the distributed Spark reader ----------------------------------------

_AVRO_SPARK = {
    "null": "string", "boolean": "boolean", "int": "int", "long": "long",
    "float": "float", "double": "double", "string": "string", "bytes": "binary",
}


def _spark_type(ftype) -> str:
    if isinstance(ftype, list):
        other = ftype[0] if ftype[1] == "null" else ftype[1]
        return _spark_type(other)
    logical = ftype.get("logicalType") if isinstance(ftype, dict) else None
    base = ftype["type"] if isinstance(ftype, dict) else ftype
    if logical == "date":
        return "date"
    if logical in ("timestamp-micros", "timestamp-millis"):
        return "timestamp"
    return _AVRO_SPARK[base]


def schema_to_ddl(schema: dict) -> str:
    """Avro record schema → Spark DDL string (single source for the
    file reader and the Kafka payload decoder)."""
    return ", ".join(
        f"`{f['name']}` {_spark_type(f['type'])}" for f in schema["fields"]
    )


def read_avro_lite(spark, filepath: str):
    """Distributed Avro read without the spark-avro jar: one header read
    driver-side for the schema, then one decode per file through
    ``sources/shards.py`` (``binaryFile`` + Arrow-batched
    ``mapInPandas``)."""
    import pandas as pd

    from pygdf_spark.sources.shards import read_shards

    is_dir = os.path.isdir(filepath)
    if any(ch in filepath for ch in "*?["):
        paths = sorted(glob(filepath))
    elif is_dir:
        paths = sorted(glob(os.path.join(filepath, "*.avro")))
    else:
        paths = [filepath]
    if not paths:
        raise FileNotFoundError(f"no avro files at {filepath}")
    with open(paths[0], "rb") as fh:
        schema, _, _ = _read_header(fh)
    names = [f["name"] for f in schema["fields"]]

    def decode(p, content):
        fschema, records = read_records_buf(content)
        fnames = [f["name"] for f in fschema["fields"]]
        if fnames != names:
            # the driver took the schema from the FIRST file; a divergent
            # sibling must fail loudly, not yield silently-null columns
            raise ValueError(
                f"avro schema mismatch in {p}: fields {fnames} "
                f"!= {names} (from the first file)"
            )
        return pd.DataFrame.from_records(records, columns=names)

    return read_shards(spark, filepath, decode, schema_to_ddl(schema),
                       glob="*.avro" if is_dir else None)
