"""Self-contained Avro Object Container File reader (+ small writer).

The reference reads `.avro` natively (utils.rs:62-64, DataFusion's avro
feature). This environment has neither the spark-avro jar nor a Python
avro package, so the format support here is implemented directly from the
PUBLIC Avro 1.11 specification (container-file + binary encoding):

    header  = magic "Obj\\x01" + file-metadata map + 16-byte sync marker
    block   = object count (zigzag long) + byte size (zigzag long)
              + serialized objects (after codec) + sync marker
    codecs  = "null" | "deflate" (raw DEFLATE, zlib wbits=-15)
    values  = zigzag varints (int/long), LE IEEE (float/double),
              length-prefixed bytes/string, records = fields in order,
              arrays/maps = counted blocks terminated by 0, union =
              branch index + value, enum = symbol index, fixed = n bytes

Distribution model (sources/io._read_avro): local files are cut into byte
ranges, and each task decodes the blocks that start in its range with
`decode_range`, the one block decoder, finding the first block by its
sync marker; a remote URI's files arrive whole through
`spark.read.format("binaryFile")` and decode as the range [0, size) of an
in-memory file. The decode itself is pure Python and therefore the slow
path per byte — acceptable because it runs ONCE at ingest, on executors,
after which data lives as parquet/DataFrames.

Supported: all primitives, record, enum (-> string), fixed (-> binary),
array, map, unions (nullable [null, X] -> X; general unions -> JSON
string), logical types date / timestamp-millis / timestamp-micros /
decimal(bytes|fixed). Unsupported (clear error): snappy codec, recursive
schemas.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from decimal import Decimal
from datetime import date, datetime, timedelta, timezone

MAGIC = b"Obj\x01"

_EPOCH_DATE = date(1970, 1, 1)
_EPOCH_DT = datetime(1970, 1, 1, tzinfo=timezone.utc)


class AvroError(ValueError):
    pass


# ---------------------------------------------------------------------------
# binary decoding primitives
# ---------------------------------------------------------------------------


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise AvroError("truncated avro data")
        self.pos += n
        return b

    def read_long(self) -> int:
        # zigzag varint
        buf, pos = self.buf, self.pos
        shift = 0
        acc = 0
        while True:
            try:
                b = buf[pos]
            except IndexError:
                raise AvroError("truncated varint") from None
            pos += 1
            acc |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        self.pos = pos
        return (acc >> 1) ^ -(acc & 1)

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())


# ---------------------------------------------------------------------------
# schema -> decoder
# ---------------------------------------------------------------------------


_BUILDING = "\x00building"  # _named/_make_* in-progress sentinel key


def _named(schema, names):
    """Resolve named-type references ("MyRecord") against seen defs.

    A reference to a record whose definition is still being compiled is a
    recursive schema: compiling it would recurse without bound, so it is
    rejected with a clear error (the module docstring's contract) instead
    of dying ~1000 frames deep in RecursionError."""
    if isinstance(schema, str) and schema in names:
        if schema in names.get(_BUILDING, ()):
            raise AvroError(
                f"recursive avro schemas are not supported: {schema!r} "
                f"references itself"
            )
        return names[schema]
    return schema


def _make_decoder(schema, names=None):
    """Compile an avro schema (parsed JSON) into a `f(_Reader) -> value`."""
    if names is None:
        names = {}
    schema = _named(schema, names)

    if isinstance(schema, list):  # union
        branches = [_named(s, names) for s in schema]
        types = [
            s if isinstance(s, str) else s.get("type") for s in branches
        ]
        decoders = [_make_decoder(s, names) for s in branches]
        if len(branches) == 2 and "null" in types:
            # nullable column — the overwhelmingly common union
            def dec_nullable(r, d=decoders):
                return d[r.read_long()](r)

            return dec_nullable

        def dec_union(r, d=decoders):
            v = d[r.read_long()](r)
            return json.dumps(v, default=str) if v is not None else None

        return dec_union

    if isinstance(schema, dict):
        t = schema["type"]
        logical = schema.get("logicalType")
        if t in ("record", "error"):
            name = schema.get("name")
            building = names.setdefault(_BUILDING, set())
            if name:
                names[name] = schema
                building.add(name)
            try:
                field_decs = [
                    _make_decoder(f["type"], names) for f in schema["fields"]
                ]
            finally:
                building.discard(name)
            field_names = [f["name"] for f in schema["fields"]]

            def dec_record(r, fd=field_decs, fn=field_names):
                return {n: d(r) for n, d in zip(fn, fd)}

            return dec_record
        if t == "enum":
            symbols = schema["symbols"]

            def dec_enum(r, s=symbols):
                return s[r.read_long()]

            return dec_enum
        if t == "fixed":
            size = schema["size"]
            if logical == "decimal":
                scale = schema.get("scale", 0)

                def dec_fixed_dec(r, n=size, s=scale):
                    return Decimal(
                        int.from_bytes(r.read(n), "big", signed=True)
                    ).scaleb(-s)

                return dec_fixed_dec

            def dec_fixed(r, n=size):
                return r.read(n)

            return dec_fixed
        if t == "array":
            item = _make_decoder(schema["items"], names)

            def dec_array(r, item=item):
                out = []
                while True:
                    n = r.read_long()
                    if n == 0:
                        return out
                    if n < 0:
                        n = -n
                        r.read_long()  # block byte size, unused
                    for _ in range(n):
                        out.append(item(r))

            return dec_array
        if t == "map":
            val = _make_decoder(schema["values"], names)

            def dec_map(r, val=val):
                out = {}
                while True:
                    n = r.read_long()
                    if n == 0:
                        return out
                    if n < 0:
                        n = -n
                        r.read_long()
                    for _ in range(n):
                        # NB: key must be read BEFORE the value — a
                        # `out[key_expr] = val(r)` one-liner evaluates the
                        # right-hand side first in Python
                        k = r.read_bytes().decode("utf-8")
                        out[k] = val(r)

            return dec_map
        # primitive with logical annotation (or plain dict form)
        if t == "bytes" and logical == "decimal":
            scale = schema.get("scale", 0)

            def dec_bytes_dec(r, s=scale):
                return Decimal(
                    int.from_bytes(r.read_bytes(), "big", signed=True)
                ).scaleb(-s)

            return dec_bytes_dec
        if t == "int" and logical == "date":
            return lambda r: _EPOCH_DATE + timedelta(days=r.read_long())
        if t == "long" and logical in ("timestamp-millis", "timestamp-micros"):
            unit = 1_000 if logical == "timestamp-millis" else 1

            def dec_ts(r, u=unit):
                # naive UTC datetime (Spark session is pinned to UTC)
                return (_EPOCH_DT + timedelta(microseconds=r.read_long() * u)
                        ).replace(tzinfo=None)

            return dec_ts
        return _make_decoder(t, names)

    # plain primitive name
    if schema == "null":
        return lambda r: None
    if schema == "boolean":
        return lambda r: r.read(1) == b"\x01"
    if schema in ("int", "long"):
        return _Reader.read_long
    if schema == "float":
        return lambda r: struct.unpack("<f", r.read(4))[0]
    if schema == "double":
        return lambda r: struct.unpack("<d", r.read(8))[0]
    if schema == "bytes":
        return _Reader.read_bytes
    if schema == "string":
        return lambda r: r.read_bytes().decode("utf-8")
    raise AvroError(f"unsupported avro type: {schema!r}")


# ---------------------------------------------------------------------------
# container file
# ---------------------------------------------------------------------------


class _StreamReader:
    """_Reader interface over a seekable binary file object (so a range
    decode never materializes more than the header and its own blocks)."""

    __slots__ = ("f",)

    def __init__(self, f):
        self.f = f

    def read(self, n: int) -> bytes:
        b = self.f.read(n)
        if len(b) != n:
            raise AvroError("truncated avro data")
        return b

    def read_long(self) -> int:
        shift = 0
        acc = 0
        while True:
            c = self.f.read(1)
            if not c:
                raise AvroError("truncated varint")
            b = c[0]
            acc |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())


def read_header(f):
    """Parse the container header of the seekable binary file `f` ->
    (schema_json, codec, sync, body_pos)."""
    f.seek(0)
    r = _StreamReader(f)
    if r.read(4) != MAGIC:
        raise AvroError("not an avro object container file (bad magic)")
    meta = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.read_long()
        for _ in range(n):
            k = r.read_bytes().decode("utf-8")
            meta[k] = r.read_bytes()
    sync = r.read(16)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise AvroError(f"unsupported avro codec: {codec!r}")
    return schema, codec, sync, f.tell()


def _first_block_at_or_after(f, target: int, sync: bytes, body_pos: int):
    """Absolute offset of the first block whose start is >= target, found
    by scanning for the preceding 16-byte sync marker (blocks start
    immediately after a sync; the header's trailing sync marks the first).
    Returns None if no further block exists. Same convention as Hadoop's
    Avro input split: the marker is 16 random bytes, so a false positive
    inside block data is vanishingly unlikely (and detected downstream by
    the trailing-sync check)."""
    if body_pos >= target:
        return body_pos
    data_start = target - 16  # a marker ENDING exactly at target qualifies
    f.seek(data_start)
    data = b""
    while True:
        chunk = f.read(1 << 20)
        if not chunk:
            return None
        prev_tail = data[-15:] if data else b""
        tail_start = data_start + len(data) - len(prev_tail)
        data = prev_tail + chunk
        data_start = tail_start
        idx = data.find(sync)
        if idx != -1:
            return data_start + idx + 16


def decode_range(f, start: int, end: int, expected_schema=None):
    """Decode the blocks of the avro container file open as the seekable
    binary file `f` whose START offset lies in [start, end) — the
    input-split contract that lets one large file fan out to many tasks:
    adjacent ranges never skip or double-read a block, because each
    block belongs to exactly the range containing its first byte. A
    whole file is the range [0, size); a file held in memory reads
    through `io.BytesIO`.

    Returns (schema_json, rows). The top-level schema must be a record
    (the standard tabular layout). `expected_schema` (parsed JSON)
    guards multi-file reads: a file whose embedded writer schema differs
    raises AvroError instead of silently reshaping rows."""
    schema, codec, sync, body_pos = read_header(f)
    if expected_schema is not None and schema != expected_schema:
        raise AvroError(
            f"avro schema mismatch in {getattr(f, 'name', 'a file')!r}: "
            "file schema differs from the first file's schema (schema "
            "evolution across a directory is not resolved; convert files "
            "to one schema)"
        )
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise AvroError("top-level avro schema must be a record")
    dec = _make_decoder(schema)
    pos = _first_block_at_or_after(f, max(start, body_pos), sync, body_pos)
    rows: list[dict] = []
    if pos is None or pos >= end:
        return schema, rows
    f.seek(0, 2)
    file_size = f.tell()
    f.seek(pos)
    sr = _StreamReader(f)
    while pos < end and pos < file_size:
        count = sr.read_long()
        size = sr.read_long()
        block = sr.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        br = _Reader(block)
        for _ in range(count):
            rows.append(dec(br))
        if sr.read(16) != sync:
            raise AvroError("sync marker mismatch (corrupt block)")
        pos = f.tell()
    return schema, rows


def avro_schema_to_spark(schema):
    """Avro record schema (parsed JSON) -> Spark StructType."""
    from pyspark.sql import types as T

    def conv(s, names=None):
        if names is None:
            names = {}
        s = _named(s, names)
        if isinstance(s, list):
            branches = [b for b in s if b != "null"]
            if len(branches) == 1:
                typ, _ = conv(branches[0], names)
                return typ, True
            return T.StringType(), True  # general union -> JSON string
        if isinstance(s, dict):
            t = s["type"]
            logical = s.get("logicalType")
            if t in ("record", "error"):
                name = s.get("name")
                building = names.setdefault(_BUILDING, set())
                if name:
                    names[name] = s
                    building.add(name)
                try:
                    fields = []
                    for f in s["fields"]:
                        typ, nullable = conv(f["type"], names)
                        fields.append(T.StructField(f["name"], typ, nullable))
                finally:
                    building.discard(name)
                return T.StructType(fields), False
            if t == "enum":
                return T.StringType(), False
            if t == "fixed":
                if logical == "decimal":
                    return (
                        T.DecimalType(s.get("precision", 38), s.get("scale", 0)),
                        False,
                    )
                return T.BinaryType(), False
            if t == "array":
                typ, nullable = conv(s["items"], names)
                return T.ArrayType(typ, nullable), False
            if t == "map":
                typ, nullable = conv(s["values"], names)
                return T.MapType(T.StringType(), typ, nullable), False
            if t == "bytes" and logical == "decimal":
                return (
                    T.DecimalType(s.get("precision", 38), s.get("scale", 0)),
                    False,
                )
            if t == "int" and logical == "date":
                return T.DateType(), False
            if t == "long" and logical in ("timestamp-millis", "timestamp-micros"):
                return T.TimestampType(), False
            return conv(t, names)
        prim = {
            "null": T.NullType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
        }
        if s in prim:
            return prim[s], False
        raise AvroError(f"unsupported avro type: {s!r}")

    typ, _ = conv(schema)
    return typ


# ---------------------------------------------------------------------------
# writer (fixture/convert harness — driver-side, small files)
# ---------------------------------------------------------------------------


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


def _make_encoder(schema, names=None):
    if names is None:
        names = {}
    schema = _named(schema, names)
    if isinstance(schema, list):  # union: index + value
        encs = [_make_encoder(s, names) for s in schema]
        types = [s if isinstance(s, str) else s.get("type") for s in schema]
        null_idx = types.index("null") if "null" in types else None
        non_null = [i for i in range(len(encs)) if i != null_idx]
        # The encoder can pick a branch unambiguously only for the
        # [null, X] shape (either order). A general multi-branch union
        # needs value-to-branch resolution; silently guessing branch 0
        # wrote the NULL branch for non-null values (value read back as
        # None — data corruption). The DECODER handles general unions;
        # only encoding them is refused, loudly.
        if len(non_null) != 1:
            raise AvroError(
                f"cannot encode union with {len(non_null)} non-null "
                f"branches ({types}): only [null, X] unions are supported "
                f"for writing"
            )
        val_idx = non_null[0]

        def enc_union(v, out, encs=encs, null_idx=null_idx, val_idx=val_idx):
            if v is None:
                if null_idx is None:
                    raise AvroError(f"None for non-nullable union {types}")
                out += _zigzag(null_idx)
                return
            out += _zigzag(val_idx)
            encs[val_idx](v, out)

        return enc_union
    if isinstance(schema, dict):
        t = schema["type"]
        logical = schema.get("logicalType")
        if t in ("record", "error"):
            name = schema.get("name")
            building = names.setdefault(_BUILDING, set())
            if name:
                names[name] = schema
                building.add(name)
            try:
                fencs = [
                    _make_encoder(f["type"], names) for f in schema["fields"]
                ]
            finally:
                building.discard(name)
            fnames = [f["name"] for f in schema["fields"]]

            def enc_record(v, out, fe=fencs, fn=fnames):
                for n, e in zip(fn, fe):
                    e(v.get(n) if isinstance(v, dict) else getattr(v, n), out)

            return enc_record
        if t == "array":
            item = _make_encoder(schema["items"], names)

            def enc_array(v, out, item=item):
                if v:
                    out += _zigzag(len(v))
                    for x in v:
                        item(x, out)
                out += _zigzag(0)

            return enc_array
        if t == "map":
            val = _make_encoder(schema["values"], names)

            def enc_map(v, out, val=val):
                if v:
                    out += _zigzag(len(v))
                    for k, x in v.items():
                        kb = k.encode("utf-8")
                        out += _zigzag(len(kb)) + kb
                        val(x, out)
                out += _zigzag(0)

            return enc_map
        if t == "bytes" and logical == "decimal":
            scale = schema.get("scale", 0)

            def enc_dec(v, out, s=scale):
                unscaled = int(Decimal(v).scaleb(s))
                n = max(1, (unscaled.bit_length() + 8) // 8)
                b = unscaled.to_bytes(n, "big", signed=True)
                out += _zigzag(len(b)) + b

            return enc_dec
        if t == "int" and logical == "date":
            return lambda v, out: out.__iadd__(_zigzag((v - _EPOCH_DATE).days))
        if t == "long" and logical in ("timestamp-micros", "timestamp-millis"):
            millis = logical == "timestamp-millis"

            def enc_ts(v, out, millis=millis):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=timezone.utc)
                # exact integer micros: total_seconds() is a float whose ulp
                # reaches ~0.5 us near year 2100, off-by-1-us round trips
                d = v - _EPOCH_DT
                micros = (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
                out += _zigzag(micros // 1000 if millis else micros)

            return enc_ts
        return _make_encoder(t, names)
    if schema == "null":
        return lambda v, out: None
    if schema == "boolean":
        return lambda v, out: out.__iadd__(b"\x01" if v else b"\x00")
    if schema in ("int", "long"):
        return lambda v, out: out.__iadd__(_zigzag(int(v)))
    if schema == "float":
        return lambda v, out: out.__iadd__(struct.pack("<f", v))
    if schema == "double":
        return lambda v, out: out.__iadd__(struct.pack("<d", v))
    if schema == "bytes":
        return lambda v, out: out.__iadd__(_zigzag(len(v)) + bytes(v))
    if schema == "string":
        return lambda v, out: out.__iadd__(
            _zigzag(len(v.encode("utf-8"))) + v.encode("utf-8")
        )
    raise AvroError(f"unsupported avro type for write: {schema!r}")


def write_avro(
    rows, avro_schema, codec: str = "deflate", block_bytes: int = 64 << 10
) -> bytes:
    """Serialize dict rows to one container-file byte string.

    Rows are flushed into a new block whenever the uncompressed body
    reaches `block_bytes` (cf. avro-tools' sync interval): many small
    blocks are what make a container file range-splittable — a
    single-block file can only ever be one input split."""
    if codec not in ("null", "deflate"):
        raise AvroError(f"unsupported avro codec: {codec!r}")
    enc = _make_encoder(avro_schema)
    sync = b"\x00\x01\x02\x03\x04\x05\x06\x07\x08\x09\x0a\x0b\x0c\x0d\x0e\x0f"
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(avro_schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    out.write(_zigzag(len(meta)))
    for k, v in meta.items():
        kb = k.encode("utf-8")
        out.write(_zigzag(len(kb)) + kb)
        out.write(_zigzag(len(v)) + v)
    out.write(_zigzag(0))
    out.write(sync)
    body = bytearray()
    n = 0

    def flush():
        nonlocal body, n
        if not n:
            return
        block = bytes(body)
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            block = co.compress(block) + co.flush()
        out.write(_zigzag(n))
        out.write(_zigzag(len(block)))
        out.write(block)
        out.write(sync)
        body = bytearray()
        n = 0

    for row in rows:
        enc(row, body)
        n += 1
        if len(body) >= block_bytes:
            flush()
    flush()
    return out.getvalue()
