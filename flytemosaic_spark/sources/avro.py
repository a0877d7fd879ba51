"""Avro Object Container File (OCF) codec — pure stdlib apart from
the snappy block codec.

The Kafka/data-engineering interchange staple the engine's source
family lacked (S-row sibling of CSV/JSON/ORC/parquet): schema-embedded
binary rows in sync-marked blocks. Implemented from the public Avro
1.11 specification:

- container: ``Obj\\x01`` magic, file-metadata map (``avro.schema``
  JSON + ``avro.codec``), 16-byte sync marker; data blocks of
  (record count, byte size, payload, sync) with codecs ``null``,
  ``deflate`` (raw DEFLATE, stdlib zlib wbits=-15) and ``snappy``
  (a raw snappy block, native via pyarrow through
  ``sources/codecs.py``, + CRC-32 suffix per the spec);
- binary encoding: zigzag varint int/long, little-endian IEEE
  float/double, length-prefixed bytes/string, records in field
  order, arrays/maps in count-prefixed blocks (negative count =
  size-prefixed per the spec), union index + value, enum index,
  fixed-width fixed;
- schema: JSON schema subset covering records (nested), all
  primitives, arrays, maps, unions, enums, fixed, named-type
  references.

Own encoder (:func:`encode_avro`) exercises every decoder path —
the MP4/WARC/WebP/PDF own-encoder-as-oracle pattern; blocks are also
sync-scannable (:func:`decode_avro` verifies each block's sync
marker, the corruption check real readers rely on).

Malformed input raises ``AvroError``; allocation is capped BEFORE
trusting any length field (the zstd mutation-fuzz lesson).

Scale shape: one OCF file is block-splittable in principle, but here
files are the parallelism unit (the binaryFile rule); decode is
per-row Python behind mapInPandas with an explicit repartition count.
"""

from __future__ import annotations

import json
import struct
import zlib

_MAGIC = b"Obj\x01"
_MAX_ALLOC = 1 << 26
_MAX_ITEMS = 1 << 22


class AvroError(ValueError):
    """Structurally invalid Avro input."""


# ---------------------------------------------------------------------------
# binary primitives
# ---------------------------------------------------------------------------


class _Reader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def read(self, n: int) -> bytes:
        if n < 0 or n > _MAX_ALLOC:
            raise AvroError(f"bad length {n}")
        b = self.data[self.pos : self.pos + n]
        if len(b) < n:
            raise AvroError("truncated input")
        self.pos += n
        return b

    def varlong(self) -> int:
        shift = 0
        acc = 0
        while True:
            if self.pos >= len(self.data):
                raise AvroError("truncated varint")
            b = self.data[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 63:
                raise AvroError("varint too long")
        # A 10th byte may carry bits above bit 63; mask so the decoded
        # value stays in int64 range instead of surfacing later as an
        # Arrow/pandas conversion error.
        acc &= (1 << 64) - 1
        return (acc >> 1) ^ -(acc & 1)  # zigzag


def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    u &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# ---------------------------------------------------------------------------
# schema-driven datum read/write
# ---------------------------------------------------------------------------


def _resolve_schema(schema, names: dict):
    """Register named types and resolve name references."""
    if isinstance(schema, str):
        if schema in names:
            return names[schema]
        return schema  # primitive name
    if isinstance(schema, list):
        return [_resolve_schema(s, names) for s in schema]
    if isinstance(schema, dict):
        t = schema.get("type")
        if t in ("record", "enum", "fixed"):
            names[schema["name"]] = schema
        if t == "record":
            for f in schema.get("fields", []):
                f["type"] = _resolve_schema(f["type"], names)
        elif t == "array":
            schema["items"] = _resolve_schema(schema["items"], names)
        elif t == "map":
            schema["values"] = _resolve_schema(schema["values"], names)
        return schema
    raise AvroError(f"bad schema node {schema!r}")


_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string"
}


def _read_datum(r: _Reader, schema):
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union: index then value
        idx = r.varlong()
        if not 0 <= idx < len(schema):
            raise AvroError(f"union index {idx} out of range")
        return _read_datum(r, schema[idx])
    else:
        t = schema["type"]
    if t == "null":
        return None
    if t == "boolean":
        b = r.read(1)[0]
        if b > 1:
            raise AvroError("bad boolean")
        return bool(b)
    if t in ("int", "long"):
        return r.varlong()
    if t == "float":
        return struct.unpack("<f", r.read(4))[0]
    if t == "double":
        return struct.unpack("<d", r.read(8))[0]
    if t == "bytes":
        return r.read(r.varlong())
    if t == "string":
        try:
            return r.read(r.varlong()).decode("utf-8")
        except UnicodeDecodeError as e:
            raise AvroError("bad utf-8 in string") from e
    if t == "record":
        return {
            f["name"]: _read_datum(r, f["type"])
            for f in schema["fields"]
        }
    if t == "array" or t == "map":
        out = [] if t == "array" else {}
        total = 0
        while True:
            n = r.varlong()
            if n == 0:
                return out
            if n < 0:  # size-prefixed block
                n = -n
                r.varlong()  # byte size (skippability hint)
            total += n
            if total > _MAX_ITEMS:
                raise AvroError("collection too large")
            for _ in range(n):
                if t == "array":
                    out.append(_read_datum(r, schema["items"]))
                else:
                    k = r.read(r.varlong()).decode("utf-8")
                    out[k] = _read_datum(r, schema["values"])
    if t == "enum":
        idx = r.varlong()
        syms = schema["symbols"]
        if not 0 <= idx < len(syms):
            raise AvroError(f"enum index {idx} out of range")
        return syms[idx]
    if t == "fixed":
        return r.read(int(schema["size"]))
    raise AvroError(f"unsupported type {t!r}")


def _write_datum(out: bytearray, schema, v) -> None:
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):
        for i, s in enumerate(schema):
            if _union_matches(s, v):
                out += _zigzag(i)
                _write_datum(out, s, v)
                return
        raise AvroError(f"no union branch for {v!r}")
    else:
        t = schema["type"]
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if v else 0)
    elif t in ("int", "long"):
        out += _zigzag(int(v))
    elif t == "float":
        out += struct.pack("<f", float(v))
    elif t == "double":
        out += struct.pack("<d", float(v))
    elif t == "bytes":
        out += _zigzag(len(v)) + bytes(v)
    elif t == "string":
        b = v.encode("utf-8")
        out += _zigzag(len(b)) + b
    elif t == "record":
        for f in schema["fields"]:
            _write_datum(out, f["type"], v[f["name"]])
    elif t == "array":
        if v:
            out += _zigzag(len(v))
            for el in v:
                _write_datum(out, schema["items"], el)
        out += _zigzag(0)
    elif t == "map":
        if v:
            out += _zigzag(len(v))
            for k, el in v.items():
                kb = k.encode("utf-8")
                out += _zigzag(len(kb)) + kb
                _write_datum(out, schema["values"], el)
        out += _zigzag(0)
    elif t == "enum":
        out += _zigzag(schema["symbols"].index(v))
    elif t == "fixed":
        if len(v) != int(schema["size"]):
            raise AvroError("fixed size mismatch")
        out += bytes(v)
    else:
        raise AvroError(f"unsupported type {t!r}")


def _union_matches(schema, v) -> bool:
    t = schema if isinstance(schema, str) else schema.get("type")
    if v is None:
        return t == "null"
    if isinstance(v, bool):
        return t == "boolean"
    if isinstance(v, int):
        return t in ("int", "long")
    if isinstance(v, float):
        return t in ("float", "double")
    if isinstance(v, str):
        return t in ("string", "enum")
    if isinstance(v, (bytes, bytearray)):
        return t in ("bytes", "fixed")
    if isinstance(v, dict):
        return t in ("record", "map")
    if isinstance(v, list):
        return t == "array"
    return False


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------


def decode_avro(data: bytes) -> tuple[dict, list]:
    """OCF -> (schema, records). Verifies magic, per-block sync
    markers, and codec integrity (snappy blocks carry a CRC-32)."""
    r = _Reader(data)
    if r.read(4) != _MAGIC:
        raise AvroError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = r.varlong()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.varlong()
        if len(meta) + n > 1 << 12:
            raise AvroError("metadata map too large")
        for _ in range(n):
            k = r.read(r.varlong()).decode("utf-8")
            meta[k] = r.read(r.varlong())
    try:
        schema = json.loads(meta["avro.schema"])
    except (KeyError, ValueError) as e:
        raise AvroError("missing or bad avro.schema") from e
    schema = _resolve_schema(schema, {})
    codec = meta.get("avro.codec", b"null").decode("ascii")
    sync = r.read(16)
    records: list = []
    while r.pos < len(r.data):
        count = r.varlong()
        size = r.varlong()
        if count < 0 or count > _MAX_ITEMS or size < 0:
            raise AvroError("bad block header")
        block = r.read(size)
        if r.read(16) != sync:
            raise AvroError("sync marker mismatch (corrupt block)")
        if codec == "null":
            payload = block
        elif codec == "deflate":
            try:
                payload = zlib.decompressobj(-15).decompress(
                    block, _MAX_ALLOC + 1
                )
            except zlib.error as e:
                raise AvroError(f"bad deflate block: {e}") from e
            if len(payload) > _MAX_ALLOC:
                raise AvroError("block exceeds decoded-size cap")
        elif codec == "snappy":
            if len(block) < 4:
                raise AvroError("snappy block too short")
            from flytemosaic_spark.sources.codecs import decompress_chunk

            try:
                payload = decompress_chunk(block[:-4], {"id": "snappy"})
            except ValueError as e:
                raise AvroError(f"bad snappy block: {e}") from e
            crc = struct.unpack(">I", block[-4:])[0]
            if zlib.crc32(payload) & 0xFFFFFFFF != crc:
                raise AvroError("snappy block CRC mismatch")
        else:
            raise AvroError(f"unsupported codec {codec!r}")
        br = _Reader(payload)
        for _ in range(count):
            records.append(_read_datum(br, schema))
        if br.pos != len(payload):
            raise AvroError("trailing bytes in block")
    return schema, records


def encode_avro(
    records: list,
    schema: dict | str | list,
    codec: str = "null",
    sync: bytes = b"\x00" * 16,
    block_records: int = 64,
) -> bytes:
    """Records + schema -> an OCF byte string (fixture generator:
    every decoder path is exercised by the variants)."""
    # serialize the ORIGINAL schema (name references intact — the
    # resolved form is cyclic for recursive records), then resolve a
    # private deep copy for writing
    schema_json = json.dumps(schema, separators=(",", ":"))
    schema = _resolve_schema(json.loads(schema_json), {})
    out = bytearray(_MAGIC)
    meta = {
        "avro.schema": schema_json.encode(),
        "avro.codec": codec.encode(),
    }
    out += _zigzag(len(meta))
    for k, v in meta.items():
        kb = k.encode()
        out += _zigzag(len(kb)) + kb + _zigzag(len(v)) + v
    out += _zigzag(0)
    if len(sync) != 16:
        raise AvroError("sync marker must be 16 bytes")
    out += sync
    for i in range(0, max(1, len(records)), block_records):
        chunk = records[i : i + block_records]
        if not chunk and records:
            break
        body = bytearray()
        for rec in chunk:
            _write_datum(body, schema, rec)
        if codec == "null":
            payload = bytes(body)
        elif codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = c.compress(bytes(body)) + c.flush()
        elif codec == "snappy":
            from flytemosaic_spark.sources.codecs import compress_chunk

            payload = compress_chunk(bytes(body), {"id": "snappy"}) + struct.pack(
                ">I", zlib.crc32(bytes(body)) & 0xFFFFFFFF
            )
        else:
            raise AvroError(f"unsupported codec {codec!r}")
        out += _zigzag(len(chunk)) + _zigzag(len(payload))
        out += payload + sync
        if not records:
            break
    return bytes(out)
