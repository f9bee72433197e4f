"""Pure-Python Avro Object Container File codec + distributed Spark reader.

The reference's native input format is Avro (util/GenericRecordReader.kt:11-43
reads container files; the Kafka S3 sink writes them). On a real cluster the
spark-avro DataSource (`org.apache.spark:spark-avro_2.13`) is the right
reader — `spark.read.format("avro")` — and `read_topic_tree` uses it when the
jar is on the classpath. This container ships pip-pyspark WITHOUT spark-avro
and without network access, so this module implements the (public, simple)
Avro 1.x Object Container File format from the spec directly:

* header: magic `Obj\\x01`, metadata map (`avro.schema` JSON, `avro.codec`),
  16-byte sync marker;
* blocks: record count (zigzag long), byte size, payload (null, deflate,
  snappy, zstandard, bzip2 or xz codec), sync marker.

`read_avro_tree` stays distributed: a `binaryFile` scan ships each container
to an executor, and an Arrow-batched `mapInPandas` decodes records into the
SAME schema shape the parquet path produces (structs arrive as dicts — probed
to map to StructType through Arrow). Python decode is the slow path by
design: it is the no-jar fallback, the per-file cost is bounded by Kafka-sink
flush sizes (MBs), and parallelism is per-file. The writer half exists for
test fixtures and round-trip checks.

No code is shared with or derived from the reference implementation; the
format is implemented from the Apache Avro specification.
"""

from __future__ import annotations

import bz2
import io
import json
import lzma
import os
import struct
import zlib

from pyspark.sql import types as T

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------------------
# binary primitives
# ---------------------------------------------------------------------------


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise EOFError("truncated avro data")
        self.pos += n
        return b

    def long(self) -> int:
        # zigzag varint
        shift = 0
        accum = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            accum |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (accum >> 1) ^ -(accum & 1)

    def bytes_(self) -> bytes:
        return self.read(self.long())

    def string(self) -> str:
        return self.bytes_().decode("utf-8")


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# ---------------------------------------------------------------------------
# schema-driven decode / encode
# ---------------------------------------------------------------------------


def _norm_schema(schema):
    """Normalize name-or-dict schema nodes to dicts with a `type` key."""
    if isinstance(schema, str):
        return {"type": schema}
    if isinstance(schema, list):
        return schema
    return schema


def decode_value(r: _Reader, schema):
    schema = _norm_schema(schema)
    if isinstance(schema, list):  # union: long index picks the branch
        return decode_value(r, schema[r.long()])
    t = schema["type"]
    if t == "null":
        return None
    if t == "boolean":
        return r.read(1) == b"\x01"
    if t in ("int", "long"):
        v = r.long()
        lt = schema.get("logicalType")
        if lt in ("timestamp-millis", "timestamp-micros"):
            import datetime as _dt

            div = 1_000 if lt == "timestamp-millis" else 1_000_000
            # tz-AWARE UTC: Arrow treats a naive datetime as session-LOCAL
            # time, so on a non-UTC session a naive value would shift by
            # the zone offset vs the native spark-avro reader (which reads
            # the instant). Aware UTC pins the instant either way.
            return _dt.datetime(
                1970, 1, 1, tzinfo=_dt.timezone.utc
            ) + _dt.timedelta(microseconds=v * (1_000_000 // div))
        if lt == "date":
            import datetime as _dt

            return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
        return v
    if t == "float":
        return struct.unpack("<f", r.read(4))[0]
    if t == "double":
        return struct.unpack("<d", r.read(8))[0]
    if t == "bytes":
        return r.bytes_()
    if t == "string":
        return r.string()
    if t == "record":
        return {f["name"]: decode_value(r, f["type"]) for f in schema["fields"]}
    if t == "enum":
        return schema["symbols"][r.long()]
    if t == "fixed":
        return r.read(schema["size"])
    if t == "array":
        out = []
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:
                n = -n
                r.long()  # block byte size, unused when decoding eagerly
            for _ in range(n):
                out.append(decode_value(r, schema["items"]))
    if t == "map":
        out = {}
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:
                n = -n
                r.long()
            for _ in range(n):
                # key first — subscript assignment evaluates the RHS first
                key = r.string()
                out[key] = decode_value(r, schema["values"])
    raise ValueError(f"unsupported avro type: {t!r}")


def encode_value(out: bytearray, schema, value) -> None:
    schema = _norm_schema(schema)
    if isinstance(schema, list):
        for i, branch in enumerate(schema):
            b = _norm_schema(branch)
            if (value is None) == (b["type"] == "null"):
                out += _zigzag(i)
                return encode_value(out, branch, value)
        raise ValueError("no union branch for value")
    t = schema["type"]
    if t == "null":
        return None
    if t == "boolean":
        out += b"\x01" if value else b"\x00"
    elif t in ("int", "long"):
        lt = schema.get("logicalType")
        if lt in ("timestamp-millis", "timestamp-micros"):
            import datetime as _dt

            mult = 1_000 if lt == "timestamp-millis" else 1_000_000
            if value.tzinfo is None:  # naive means UTC here, by contract
                value = value.replace(tzinfo=_dt.timezone.utc)
            delta = value - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
            value = round(delta.total_seconds() * mult)
        elif lt == "date":
            import datetime as _dt

            value = (value - _dt.date(1970, 1, 1)).days
        out += _zigzag(int(value))
    elif t == "float":
        out += struct.pack("<f", value)
    elif t == "double":
        out += struct.pack("<d", value)
    elif t == "bytes":
        out += _zigzag(len(value)) + value
    elif t == "string":
        raw = value.encode("utf-8")
        out += _zigzag(len(raw)) + raw
    elif t == "record":
        for f in schema["fields"]:
            encode_value(out, f["type"], value[f["name"]])
    elif t == "enum":
        out += _zigzag(schema["symbols"].index(value))
    elif t == "fixed":
        out += value
    elif t == "array":
        if value:
            out += _zigzag(len(value))
            for item in value:
                encode_value(out, schema["items"], item)
        out += _zigzag(0)
    elif t == "map":
        if value:
            out += _zigzag(len(value))
            for k, v in value.items():
                raw = k.encode("utf-8")
                out += _zigzag(len(raw)) + raw
                encode_value(out, schema["values"], v)
        out += _zigzag(0)
    else:
        raise ValueError(f"unsupported avro type: {t!r}")


# ---------------------------------------------------------------------------
# block codecs
# ---------------------------------------------------------------------------


def _snappy_decode(payload: bytes) -> bytes:
    """An Avro snappy block: raw snappy, then a 4-byte big-endian CRC32 of
    the uncompressed bytes. Raw snappy opens with the uncompressed length
    as an unsigned varint, which pyarrow's decoder needs up front."""
    import pyarrow as pa

    body, crc = payload[:-4], payload[-4:]
    size = shift = 0
    for i, b in enumerate(body):
        size |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80 or i == 4:
            break
    data = pa.Codec("snappy").decompress(body, decompressed_size=size, asbytes=True)
    if len(crc) != 4 or struct.unpack(">I", crc)[0] != zlib.crc32(data):
        raise ValueError("avro snappy block fails its CRC32 check")
    return data


def _snappy_encode(data: bytes) -> bytes:
    import pyarrow as pa

    return pa.Codec("snappy").compress(data, asbytes=True) + struct.pack(
        ">I", zlib.crc32(data)
    )


def _zstd_decode(payload: bytes) -> bytes:
    # the stream reader needs no content size in the frame header
    import pyarrow as pa

    return pa.CompressedInputStream(pa.BufferReader(payload), "zstd").read()


def _zstd_encode(data: bytes) -> bytes:
    import pyarrow as pa

    return pa.Codec("zstd").compress(data, asbytes=True)


#: `avro.codec` name -> (decode, encode) of one block's payload
_CODECS = {
    "null": (bytes, bytes),
    "deflate": (
        lambda b: zlib.decompress(b, -15),
        lambda b: zlib.compress(b, 6)[2:-4],  # raw deflate
    ),
    "snappy": (_snappy_decode, _snappy_encode),
    "zstandard": (_zstd_decode, _zstd_encode),
    "bzip2": (bz2.decompress, bz2.compress),
    "xz": (lzma.decompress, lzma.compress),
}


def _codec(name: str):
    try:
        return _CODECS[name]
    except KeyError:
        raise ValueError(f"unsupported avro codec: {name!r}") from None


# ---------------------------------------------------------------------------
# container files
# ---------------------------------------------------------------------------


def read_header(source) -> tuple[dict, str, bytes, _Reader]:
    """Parse a container header from a path or bytes.

    Returns (schema dict, codec, sync marker, reader positioned at block 0).
    Reading just the header is how schema fingerprinting stays O(KB) per file.
    """
    if isinstance(source, (str, os.PathLike)):
        with open(source, "rb") as fh:
            buf = fh.read()
    else:
        buf = source
    r = _Reader(buf)
    if r.read(4) != MAGIC:
        raise ValueError("not an avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.long()
        for _ in range(n):
            # key must be read before the value (subscript assignment would
            # evaluate the right-hand side first)
            key = r.string()
            meta[key] = r.bytes_()
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = r.read(16)
    return schema, codec, sync, r


def read_schema(fh) -> dict:
    """Writer schema of the container open on the seekable binary `fh`.

    The header is metadata only, so one 64 KB prefix read serves any
    realistic schema. A schema larger than the prefix re-reads the whole
    file: the cut buffer surfaces as EOFError, IndexError (varint cut
    mid-byte) or KeyError (metadata map cut mid-entry)."""
    head = fh.read(64 * 1024)
    try:
        return read_header(head)[0]
    except (EOFError, IndexError, KeyError):
        fh.seek(0)
        return read_header(fh.read(-1))[0]


def read_container(source) -> tuple[dict, list]:
    """Decode a whole container file -> (schema, records)."""
    schema, codec, sync, r = read_header(source)
    records = []
    while r.pos < len(r.buf):
        count = r.long()
        size = r.long()
        block = _Reader(_codec(codec)[0](r.read(size)))
        for _ in range(count):
            records.append(decode_value(block, schema))
        if r.read(16) != sync:
            raise ValueError("sync marker mismatch")
    return schema, records


def write_container(
    path: str,
    schema: dict,
    records: list,
    codec: str = "null",
    sync_interval: int = 4000,
) -> str:
    """Write records as an Avro object container file (fixture writer)."""
    sync = os.urandom(16)
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    out.write(_zigzag(len(meta)))
    for k, v in meta.items():
        raw = k.encode()
        out.write(_zigzag(len(raw)) + raw)
        out.write(_zigzag(len(v)) + v)
    out.write(_zigzag(0))
    out.write(sync)
    for start in range(0, len(records), sync_interval):
        chunk = records[start : start + sync_interval]
        body = bytearray()
        for rec in chunk:
            encode_value(body, schema, rec)
        payload = _codec(codec)[1](bytes(body))
        out.write(_zigzag(len(chunk)))
        out.write(_zigzag(len(payload)))
        out.write(payload)
        out.write(sync)
    with open(path, "wb") as fh:
        fh.write(out.getvalue())
    return path


# ---------------------------------------------------------------------------
# avro schema -> Spark schema
# ---------------------------------------------------------------------------

_PRIMITIVES: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
    "enum": T.StringType(),
    "fixed": T.BinaryType(),
}


def avro_to_spark_type(schema) -> tuple[T.DataType, bool]:
    """(sparkType, nullable) for an avro schema node — spark-avro's mapping
    for the types the Kafka sink emits."""
    schema = _norm_schema(schema)
    if isinstance(schema, list):
        non_null = [b for b in schema if _norm_schema(b)["type"] != "null"]
        if len(non_null) != 1:
            raise ValueError("only [null, T] unions are supported")
        dt, _ = avro_to_spark_type(non_null[0])
        return dt, True
    t = schema["type"]
    lt = schema.get("logicalType")
    if lt in ("timestamp-millis", "timestamp-micros"):
        return T.TimestampType(), False
    if lt == "date":
        return T.DateType(), False
    if t in _PRIMITIVES:
        return _PRIMITIVES[t], False
    if t == "record":
        fields = []
        for f in schema["fields"]:
            dt, nullable = avro_to_spark_type(f["type"])
            fields.append(T.StructField(f["name"], dt, nullable))
        return T.StructType(fields), False
    if t == "array":
        dt, nullable = avro_to_spark_type(schema["items"])
        return T.ArrayType(dt, containsNull=nullable), False
    if t == "map":
        dt, nullable = avro_to_spark_type(schema["values"])
        return T.MapType(T.StringType(), dt, valueContainsNull=nullable), False
    raise ValueError(f"unsupported avro type: {t!r}")


# NOTE: cross-format fingerprinting lives in plans/restructure._schema_canon
# (StructType.json() of either format's schema) — there is deliberately no
# separate avro-side fingerprint helper here; a second canon shape would
# group files differently from the engine.
