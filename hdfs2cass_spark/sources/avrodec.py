"""Avro Object Container File writer.

The reference's primary input is Avro container files
(Hdfs2Cass.java:107-108,135-144), which the engine reads through Spark's
own Avro file source (``read_records(fmt="avro")``). This module writes
such files for fixtures, round-trip tests and the corrupt-file tests,
written fresh against the public Avro 1.11 spec:
  - header: magic `Obj\\x01`, metadata map (avro.schema JSON, avro.codec),
    16-byte sync marker; ``read_header`` parses it back
  - blocks: count(varint) size(varint) payload sync
  - datum encoding: zigzag varints, IEEE float/double, length-prefixed
    bytes/string, records/enums/fixed, block-encoded arrays/maps, unions
  - codecs: null, deflate (raw RFC1951 via zlib) and snappy (via pyarrow)

Encoders are COMPILED per schema: a closure tree built once, no schema-dict
walking per record.
"""

from __future__ import annotations

import json
import struct
import zlib

MAGIC = b"Obj\x01"
SYNC_SIZE = 16
_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


# ---------------------------------------------------------------- varints


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


# ---------------------------------------------------------------- encoder


def compile_encoder(schema, named: dict | None = None):
    """schema -> fn(bytearray, value)."""
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

    def long() -> int:
        # zigzag varint (spec: binary encoding)
        n = shift = 0
        while True:
            b = f.read(1)
            if not b:
                raise EOFError("EOF inside varint")
            n |= (b[0] & 0x7F) << shift
            shift += 7
            if not b[0] & 0x80:
                return (n >> 1) ^ -(n & 1)

    meta: dict[str, bytes] = {}
    # metadata is a map<bytes>: count-prefixed blocks, 0-terminated
    while n := long():
        if n < 0:
            n = -n
            long()  # skip block byte size
        for _ in range(n):
            k = f.read(long()).decode("utf-8")
            meta[k] = f.read(long())
    sync = f.read(SYNC_SIZE)
    return {
        "schema": json.loads(meta["avro.schema"].decode("utf-8")),
        "codec": meta.get("avro.codec", b"null").decode("utf-8"),
        "sync": sync,
        "data_start": f.tell(),
    }


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
