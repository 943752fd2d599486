"""Pure-Python Avro Object Container File codec (stdlib only).

The reference's primary input is Avro container files
(/root/reference/src/main/java/com/spotify/hdfs2cass/Hdfs2Cass.java:107-108,
135-144). Spark's own Avro source is the EXTERNAL spark-avro module, absent
from pip-distributed pyspark — so `read_records(format="avro")` needs a
self-contained fallback to make the reference's front door runnable anywhere.
This module is that fallback's core: everything binary — header, block
framing, datum decode/encode — with NO imports outside the stdlib, so
`functions.shippable.pickle_by_value` can embed it whole into the reader UDF
pickle and executors never need the package on PYTHONPATH.

Implements the public Avro 1.11 spec (container format + binary encoding):
  - header: magic `Obj\\x01`, metadata map (avro.schema JSON, avro.codec),
    16-byte sync marker
  - blocks: count(varint) size(varint) payload sync — the sync marker is
    what makes container files BYTE-RANGE SPLITTABLE (scan forward to the
    next sync, exactly Hadoop/spark-avro split semantics; sources/avro.py
    plans the ranges)
  - datum encoding: zigzag varints, IEEE float/double, length-prefixed
    bytes/string, records/enums/fixed, block-encoded arrays/maps, unions
  - codecs: null and deflate (raw RFC1951 via zlib) natively; snappy and
    zstandard when a codec provider is importable (pyarrow here)
  - logical types: timestamp-millis/micros, date (the ones spark-avro maps
    to Catalyst types); decimals pass through as their underlying bytes

Decoders are COMPILED per schema (a closure tree built once, no schema-dict
walking per record) — the standard fastavro-style design, written fresh
against the spec.

The encoder half exists for fixtures and round-trip tests (this sandbox has
no other way to produce .avro files) and for symmetry; production writes go
to the Cassandra sinks, not Avro.
"""

from __future__ import annotations

import io
import json
import struct
import zlib

MAGIC = b"Obj\x01"
SYNC_SIZE = 16
_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


# ---------------------------------------------------------------- varints


def read_long(buf: io.BytesIO) -> int:
    """Zigzag-encoded variable-length long (spec: binary encoding)."""
    b = buf.read(1)
    if not b:
        raise EOFError("EOF inside varint")
    byte = b[0]
    n = byte & 0x7F
    shift = 7
    while byte & 0x80:
        b = buf.read(1)
        if not b:
            raise EOFError("EOF inside varint")
        byte = b[0]
        n |= (byte & 0x7F) << shift
        shift += 7
    return (n >> 1) ^ -(n & 1)


def write_long(out: bytearray, v: int) -> None:
    n = (v << 1) ^ (v >> 63) if v < 0 else (v << 1)
    n &= (1 << 64) - 1  # zigzag of any int64 fits 64 bits unsigned
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


# ---------------------------------------------------------------- schema


def parse_schema(schema: str | dict | list):
    """Normalize a schema (JSON string or already-parsed) to dict/list/str
    form and validate the subset we implement. Named-type REFERENCES
    (reusing an earlier record/enum/fixed by name) are resolved in the
    compile step."""
    if isinstance(schema, str):
        s = schema.strip()
        if s.startswith("{") or s.startswith("["):
            return json.loads(s)
        return s  # bare primitive name
    return schema


def _schema_type(schema) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


# ---------------------------------------------------------------- decoder


def compile_decoder(schema, named: dict | None = None):
    """schema -> fn(BytesIO) -> python value. Builds the closure tree once;
    `named` accumulates record/enum/fixed definitions for by-name reuse."""
    if named is None:
        named = {}
    schema = parse_schema(schema)
    t = _schema_type(schema)

    if t == "union":
        branches = [compile_decoder(b, named) for b in schema]

        def dec_union(buf, _b=branches):
            return _b[read_long(buf)](buf)

        return dec_union

    if isinstance(schema, str) and schema not in _PRIMITIVES:
        if schema in named:  # named-type reference
            return lambda buf, _n=named, _k=schema: _n[_k](buf)
        raise ValueError(f"unknown type reference: {schema!r}")

    logical = schema.get("logicalType") if isinstance(schema, dict) else None

    if t == "null":
        return lambda buf: None
    if t == "boolean":
        return lambda buf: buf.read(1) == b"\x01"
    if t in ("int", "long"):
        if logical in ("timestamp-millis", "timestamp-micros", "date",
                       "local-timestamp-millis", "local-timestamp-micros"):
            # surface the raw long/int; sources/avro.py converts to the
            # Catalyst temporal type column-wise (vectorized, not per-row)
            return read_long
        return read_long
    if t == "float":
        return lambda buf: struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return lambda buf: struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return lambda buf: buf.read(read_long(buf))
    if t == "string":
        return lambda buf: buf.read(read_long(buf)).decode("utf-8")

    if t == "record":
        fields = []  # compiled lazily below so self-references resolve
        name = schema.get("name")

        def dec_record(buf, _f=fields):
            return {fname: fdec(buf) for fname, fdec in _f}

        if name:
            named[name] = dec_record
        for f in schema["fields"]:
            fields.append((f["name"], compile_decoder(f["type"], named)))
        return dec_record

    if t == "enum":
        symbols = schema["symbols"]
        dec = lambda buf, _s=symbols: _s[read_long(buf)]  # noqa: E731
        if schema.get("name"):
            named[schema["name"]] = dec
        return dec

    if t == "fixed":
        size = schema["size"]
        dec = lambda buf, _n=size: buf.read(_n)  # noqa: E731
        if schema.get("name"):
            named[schema["name"]] = dec
        return dec

    if t == "array":
        item = compile_decoder(schema["items"], named)

        def dec_array(buf, _i=item):
            out = []
            while True:
                n = read_long(buf)
                if n == 0:
                    return out
                if n < 0:  # negative count: byte size follows (skippable form)
                    n = -n
                    read_long(buf)
                for _ in range(n):
                    out.append(_i(buf))

        return dec_array

    if t == "map":
        val = compile_decoder(schema["values"], named)

        def dec_map(buf, _v=val):
            out = {}
            while True:
                n = read_long(buf)
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    read_long(buf)
                for _ in range(n):
                    k = buf.read(read_long(buf)).decode("utf-8")
                    out[k] = _v(buf)

        return dec_map

    raise ValueError(f"unsupported avro type: {t!r}")


# ---------------------------------------------------------------- encoder


def compile_encoder(schema, named: dict | None = None):
    """schema -> fn(bytearray, value). Mirror of compile_decoder."""
    if named is None:
        named = {}
    schema = parse_schema(schema)
    t = _schema_type(schema)

    if t == "union":
        branch_encs = [compile_encoder(b, named) for b in schema]
        branch_types = [_schema_type(parse_schema(b)) for b in schema]

        def pick(v):
            # null-vs-value is the only dispatch the engine's fixtures need;
            # first non-null branch wins for values (single-type unions)
            if v is None:
                for i, bt in enumerate(branch_types):
                    if bt == "null":
                        return i
                raise ValueError("None for union without null branch")
            for i, bt in enumerate(branch_types):
                if bt != "null":
                    return i
            raise ValueError("union has no non-null branch")

        def enc_union(out, v, _b=branch_encs, _p=pick):
            i = _p(v)
            write_long(out, i)
            _b[i](out, v)

        return enc_union

    if isinstance(schema, str) and schema not in _PRIMITIVES:
        if schema in named:
            return lambda out, v, _n=named, _k=schema: _n[_k](out, v)
        raise ValueError(f"unknown type reference: {schema!r}")

    if t == "null":
        return lambda out, v: None
    if t == "boolean":
        return lambda out, v: out.append(1 if v else 0)
    if t in ("int", "long"):
        return lambda out, v: write_long(out, int(v))
    if t == "float":
        return lambda out, v: out.extend(struct.pack("<f", float(v)))
    if t == "double":
        return lambda out, v: out.extend(struct.pack("<d", float(v)))
    if t == "bytes":

        def enc_bytes(out, v):
            b = bytes(v)
            write_long(out, len(b))
            out.extend(b)

        return enc_bytes
    if t == "string":

        def enc_str(out, v):
            b = str(v).encode("utf-8")
            write_long(out, len(b))
            out.extend(b)

        return enc_str

    if t == "record":
        fields = []

        def enc_record(out, v, _f=fields):
            for fname, fenc in _f:
                fenc(out, v[fname])

        if schema.get("name"):
            named[schema["name"]] = enc_record
        for f in schema["fields"]:
            fields.append((f["name"], compile_encoder(f["type"], named)))
        return enc_record

    if t == "enum":
        idx = {s: i for i, s in enumerate(schema["symbols"])}
        enc = lambda out, v, _i=idx: write_long(out, _i[v])  # noqa: E731
        if schema.get("name"):
            named[schema["name"]] = enc
        return enc

    if t == "fixed":
        size = schema["size"]

        def enc_fixed(out, v, _n=size):
            b = bytes(v)
            if len(b) != _n:
                raise ValueError(f"fixed size {_n} != {len(b)}")
            out.extend(b)

        if schema.get("name"):
            named[schema["name"]] = enc_fixed
        return enc_fixed

    if t == "array":
        item = compile_encoder(schema["items"], named)

        def enc_array(out, v, _i=item):
            if v:
                write_long(out, len(v))
                for x in v:
                    _i(out, x)
            write_long(out, 0)

        return enc_array

    if t == "map":
        val = compile_encoder(schema["values"], named)

        def enc_map(out, v, _v=val):
            if v:
                write_long(out, len(v))
                for k, x in v.items():
                    kb = str(k).encode("utf-8")
                    write_long(out, len(kb))
                    out.extend(kb)
                    _v(out, x)
            write_long(out, 0)

        return enc_map

    raise ValueError(f"unsupported avro type: {t!r}")


# ---------------------------------------------------------------- codecs


def decompress_block(data: bytes, codec: str) -> bytes:
    if codec in ("null", ""):
        return data
    if codec == "deflate":
        return zlib.decompress(data, -15)  # raw RFC1951, no zlib header (spec)
    if codec == "snappy":
        # avro-snappy carries a 4-byte big-endian CRC32 of the UNCOMPRESSED
        # data after the compressed payload. pyarrow's raw-snappy decompress
        # wants the output size up front — it is the little-endian varint
        # PREAMBLE of the snappy stream itself, so parse it out.
        import pyarrow as pa

        raw = data[:-4]
        n, shift, i = 0, 0, 0
        while True:
            b = raw[i]
            n |= (b & 0x7F) << shift
            i += 1
            shift += 7
            if not b & 0x80:
                break
        out = pa.Codec("snappy").decompress(raw, decompressed_size=n, asbytes=True)
        crc = struct.unpack(">I", data[-4:])[0]
        if zlib.crc32(out) & 0xFFFFFFFF != crc:
            raise ValueError("snappy block CRC mismatch")
        return out
    if codec == "zstandard":
        import pyarrow as pa

        return pa.Codec("zstd").decompress(data, asbytes=True)
    raise ValueError(f"unsupported avro codec: {codec!r}")


def compress_block(data: bytes, codec: str) -> bytes:
    if codec in ("null", ""):
        return data
    if codec == "deflate":
        c = zlib.compressobj(9, zlib.DEFLATED, -15)
        return c.compress(data) + c.flush()
    if codec == "snappy":
        import pyarrow as pa

        comp = pa.Codec("snappy").compress(data, asbytes=True)
        return comp + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
    raise ValueError(f"unsupported write codec: {codec!r}")


# ---------------------------------------------------------------- container


def read_header(f) -> dict:
    """Parse the container header from an open binary file positioned at 0.
    Returns {schema, codec, sync, data_start}."""
    if f.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    # metadata is a map<bytes>: count-prefixed blocks, 0-terminated
    buf = _FileBuf(f)
    while True:
        n = read_long(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            read_long(buf)  # skip block byte size
        for _ in range(n):
            k = buf.read(read_long(buf)).decode("utf-8")
            meta[k] = buf.read(read_long(buf))
    sync = buf.read(SYNC_SIZE)
    return {
        "schema": json.loads(meta["avro.schema"].decode("utf-8")),
        "codec": meta.get("avro.codec", b"null").decode("utf-8"),
        "sync": sync,
        "data_start": f.tell(),
    }


class _FileBuf:
    """Minimal BytesIO-compatible shim over a file object (read only)."""

    def __init__(self, f):
        self.read = f.read


def iter_file_blocks(f, header: dict, start: int, end: int):
    """Yield decompressed block payloads (bytes, record_count) for every
    block whose SYNC-ALIGNED start lies in [start, end) — the Hadoop split
    contract: a block belongs to the split containing its first byte, and a
    reader whose range starts mid-block scans forward to the next sync.

    `start` is clamped to the first block (data_start); scanning reads
    overlapping 64 KiB chunks so a sync marker crossing a chunk boundary is
    still found."""
    sync = header["sync"]
    data_start = header["data_start"]
    if start <= data_start:
        # the first block belongs to the split whose range CONTAINS
        # data_start — an earlier tiny split (possible when split size <
        # header size) must not also claim it
        if data_start >= end:
            return
        pos = data_start
    else:
        # scan forward from start-1 (a sync ENDING exactly at `start` means
        # the block starts at `start` and belongs to us)
        f.seek(max(data_start, start - SYNC_SIZE))
        scan_base = f.tell()
        pos = None
        tail = b""
        while True:
            chunk = f.read(1 << 16)
            if not chunk:
                return  # no further block start in this file
            hay = tail + chunk
            i = hay.find(sync)
            if i != -1:
                pos = scan_base - len(tail) + i + SYNC_SIZE
                break
            tail = hay[-(SYNC_SIZE - 1):]
            scan_base = f.tell()
        if pos >= end:
            return
    f.seek(pos)
    buf = _FileBuf(f)
    while pos < end:
        first = f.read(1)
        if not first:
            return  # clean EOF at a block boundary
        f.seek(-1, 1)
        n_records = read_long(buf)
        n_bytes = read_long(buf)
        payload = f.read(n_bytes)
        got_sync = f.read(SYNC_SIZE)
        if got_sync != sync:
            raise ValueError(f"sync marker mismatch at offset {pos}")
        yield decompress_block(payload, header["codec"]), n_records
        pos = f.tell()


def write_container(path: str, schema, rows, codec: str = "null",
                    sync: bytes | None = None, block_records: int = 4096) -> int:
    """Write rows (dicts matching the record schema) as one container file.
    Fixture/test-scale writer (driver-side, single file); returns row count."""
    schema = parse_schema(schema)
    enc = compile_encoder(schema)
    if sync is None:
        # deterministic-ish but unique enough; stdlib only
        import os

        sync = os.urandom(SYNC_SIZE)
    meta = bytearray()
    write_long(meta, 2)
    for k, v in (
        ("avro.schema", json.dumps(schema).encode("utf-8")),
        ("avro.codec", codec.encode("utf-8")),
    ):
        kb = k.encode("utf-8")
        write_long(meta, len(kb))
        meta.extend(kb)
        write_long(meta, len(v))
        meta.extend(v)
    write_long(meta, 0)

    n_total = 0
    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(bytes(meta))
        f.write(sync)
        block = bytearray()
        n_block = 0

        def flush():
            nonlocal block, n_block, n_total
            if n_block == 0:
                return
            payload = compress_block(bytes(block), codec)
            head = bytearray()
            write_long(head, n_block)
            write_long(head, len(payload))
            f.write(bytes(head))
            f.write(payload)
            f.write(sync)
            n_total += n_block
            block, n_block = bytearray(), 0

        for row in rows:
            enc(block, row)
            n_block += 1
            if n_block >= block_records:
                flush()
        flush()
    return n_total
