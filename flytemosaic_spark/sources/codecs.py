"""Chunk-payload codec registry — numcodecs-compatible ids.

The chunk store (``sources/chunkstore.py``) declares its compressor
in ``.zarray`` exactly like Zarr v2 /
numcodecs: ``None`` (raw), ``{"id": "zlib", "level": n}``,
``{"id": "lz4"}`` (4-byte LE size prefix + LZ4 block — the numcodecs
wire format, real-world Zarr's most common codec family),
``{"id": "zstd", "level": n}`` (zstd frames) or ``{"id": "snappy"}``
(one raw snappy block). zlib runs through the stdlib; lz4, zstd and
snappy run native, via pyarrow (the libraries it bundles, which every
Arrow kernel already needs). This is the only module that knows how a
codec is implemented: the GeoTIFF zstd tiles (``sources/geotiff.py``)
and the Avro snappy blocks (``sources/avro.py``) go through it too.

Payloads come from files outside the program, so a declared size is
never trusted: it is bounded by what the format can reach from the
payload length before anything is allocated, and the lz4 block must
decode to exactly that size.
"""

from __future__ import annotations

import struct
import zlib

import pyarrow as pa

# the most output one input byte can produce: an LZ4 match-length
# extension byte adds 255; a 3-byte snappy copy emits at most 64 bytes
_LZ4_MAX_RATIO = 255
_SNAPPY_COPY_OUT, _SNAPPY_COPY_IN = 64, 3


def normalize_compressor(spec) -> dict | None:
    """User-facing spec -> the ``.zarray`` compressor dict: ``None``,
    an int (back-compat: zlib level), a codec id string, or a full
    dict."""
    if spec is None:
        return None
    if isinstance(spec, int):
        return {"id": "zlib", "level": int(spec)}
    if isinstance(spec, str):
        return {"id": spec}
    return dict(spec)


def compress_chunk(data: bytes, comp: dict | None) -> bytes:
    if comp is None:
        return data
    cid = comp.get("id")
    if cid == "zlib":
        return zlib.compress(data, int(comp.get("level", 1)))
    if cid == "lz4":  # numcodecs wire = LE size prefix + block
        return struct.pack("<I", len(data)) + pa.Codec("lz4_raw").compress(
            data, asbytes=True
        )
    if cid == "zstd":
        codec = pa.Codec("zstd", compression_level=int(comp.get("level", 3)))
        return codec.compress(data, asbytes=True)
    if cid == "snappy":
        return pa.Codec("snappy").compress(data, asbytes=True)
    raise NotImplementedError(
        f"chunk codec {cid!r} (zlib/lz4/zstd/snappy)"
    )


def decompress_chunk(data: bytes, comp: dict | None) -> bytes:
    """Decode one chunk payload. Corrupt or truncated payloads raise
    ``ValueError``."""
    if comp is None:
        return data
    cid = comp.get("id")
    if cid == "zlib":
        return zlib.decompress(data)
    decode = _DECODERS.get(cid)
    if decode is None:
        raise NotImplementedError(
            f"chunk codec {cid!r} (zlib/lz4/zstd/snappy)"
        )
    try:
        return decode(data)
    except (OSError, pa.ArrowInvalid) as e:
        raise ValueError(f"corrupt {cid} payload: {e}") from e


def _decode_zstd(data: bytes) -> bytes:
    """One or more zstd frames, skippable frames skipped, content
    checksums verified. Streaming, so a frame's declared content size
    never sizes an allocation."""
    return pa.CompressedInputStream(pa.BufferReader(data), "zstd").read()


def _decode_lz4(data: bytes) -> bytes:
    if len(data) < 4:
        raise ValueError("lz4 payload shorter than its size prefix")
    (size,) = struct.unpack_from("<I", data)
    block = data[4:]
    if size > _LZ4_MAX_RATIO * len(block):
        raise ValueError(
            f"lz4 prefix declares {size} bytes, more than a "
            f"{len(block)}-byte block can decode to"
        )
    codec = pa.Codec("lz4_raw")
    out = codec.decompress(block, size, asbytes=True)
    # pyarrow returns the declared size even when the block decodes
    # short (the tail is uninitialised); a block that decodes to
    # exactly ``size`` bytes cannot fit into ``size - 1``
    if size:
        try:
            codec.decompress(block, size - 1)
        except OSError:
            return out
        raise ValueError(
            f"lz4 block decodes to fewer than the {size} bytes its "
            "prefix declares"
        )
    return out


def _decode_snappy(data: bytes) -> bytes:
    size = shift = 0
    for pos, b in enumerate(data[:5]):  # varint32 length preamble
        size |= (b & 0x7F) << shift
        shift += 7
        if b < 0x80:
            break
    else:
        raise ValueError("corrupt snappy length preamble")
    body = len(data) - pos - 1
    if size * _SNAPPY_COPY_IN > body * _SNAPPY_COPY_OUT:
        raise ValueError(
            f"snappy preamble declares {size} bytes, more than a "
            f"{body}-byte block can decode to"
        )
    # snappy itself checks the block decodes to exactly ``size``
    return pa.Codec("snappy").decompress(data, size, asbytes=True)


_DECODERS = {"lz4": _decode_lz4, "zstd": _decode_zstd, "snappy": _decode_snappy}
