"""zstd chunk and TIFF tile decoding through the public codec API.

Real compressed streams come from libzstd (every compression level
exercises the Huffman + FSE + sequence paths); hand-built frames
cover what libzstd's encoder does not emit: raw (store-mode) blocks,
content checksums, dictionary ids and the long sequence-count form.
The TIFF integration rows mirror the DEFLATE/LZW codec matrix — ZSTD
(code 50000) is the modern GDAL COG default the reference reads via
GDAL (reference flytemosaic/datasets/utils.py:123-126).
"""

import random
import struct

import numpy as np
import pytest

from flytemosaic_spark.sources.codecs import compress_chunk, decompress_chunk

_MAGIC = 0xFD2FB528
ZSTD = {"id": "zstd"}


def _compress(data: bytes, level: int = 3) -> bytes:
    return compress_chunk(data, {"id": "zstd", "level": level})


def decode(payload: bytes) -> bytes:
    return decompress_chunk(payload, ZSTD)


def store_frame(data: bytes, checksum: int | None = None) -> bytes:
    """One zstd frame of RAW blocks (what a store-mode writer emits):
    single segment, 4-byte content size, optional content checksum."""
    fhd = 0xA0 | (0x04 if checksum is not None else 0)
    out = struct.pack("<IBI", _MAGIC, fhd, len(data))
    step = 1 << 16
    for off in range(0, len(data), step) or [0]:
        chunk = data[off : off + step]
        last = int(off + step >= len(data))
        out += ((len(chunk) << 3) | last).to_bytes(3, "little") + chunk
    if checksum is not None:
        out += struct.pack("<I", checksum)
    return out


# published xxHash64 vectors (seed 0); a zstd content checksum is the
# low 32 bits of the content's xxh64
XXH64 = {
    b"": 0xEF46DB3751D8E999,
    b"a": 0xD24EC4F1A98C6E5B,
    b"abc": 0x44BC2CF5AD770999,
    b"abcdefghijklmnopqrstuvwxyz0123456789": 0x64F23ECF1609B766,
}


class TestXxh64:
    def test_reference_vectors(self):
        """Frames carrying the xxh64 reference checksum decode; the
        same frame with another vector's checksum is rejected."""
        vectors = list(XXH64.items())
        for i, (data, h) in enumerate(vectors):
            assert decode(store_frame(data, h & 0xFFFFFFFF)) == data
            other = vectors[(i + 1) % len(vectors)][1]
            with pytest.raises(ValueError, match="checksum"):
                decode(store_frame(data, other & 0xFFFFFFFF))


def _datasets():
    random.seed(11)
    rng = np.random.default_rng(11)
    return {
        "empty": b"",
        "one": b"z",
        "repetitive": b"hello zstd world " * 700,
        "random": bytes(random.getrandbits(8) for _ in range(30000)),
        "imagery_f4": (
            (rng.integers(0, 1000, (128, 128, 3)) / 4.0).astype("f4")
        ).tobytes(),
        "smooth_u16": np.cumsum(rng.integers(-3, 4, 60000))
        .astype("u2")
        .tobytes(),
        "rle": b"\x00" * 50000 + b"ab" * 9000,
    }


class TestDecodeRealStreams:
    @pytest.mark.parametrize("level", [1, 3, 7, 12, 19])
    def test_all_levels_all_shapes(self, level):
        for name, data in _datasets().items():
            comp = _compress(data, level)
            assert decode(comp) == data, (name, level)

    def test_large_multi_block(self):
        # > 128 KB regenerated: several compressed blocks in one frame,
        # exercising treeless literals + repeat sequence tables
        rng = np.random.default_rng(5)
        data = (
            np.cumsum(rng.integers(-9, 10, 400_000))
            .astype("i2")
            .tobytes()
        )
        assert decode(_compress(data, 3)) == data

    def test_multi_frame_concat(self):
        a, b = b"first frame|", b"second frame"
        assert decode(_compress(a) + _compress(b)) == a + b

    def test_skippable_frame(self):
        payload = (
            _compress(b"head")
            + struct.pack("<II", 0x184D2A50, 6)
            + b"META!!"
            + _compress(b"tail")
        )
        assert decode(payload) == b"headtail"


class TestStoreMode:
    @pytest.mark.parametrize("n", [0, 1, 255, 256, 70_000, 200_000])
    def test_round_trip_own_decoder(self, n):
        # raw-block frames, several blocks past 64 KB
        data = bytes((i * 7) & 0xFF for i in range(n))
        assert decode(store_frame(data)) == data

    def test_encode_zstd_prefers_real_compression(self):
        data = b"compressible " * 5000
        out = _compress(data)
        assert decode(out) == data
        assert len(out) < len(data) // 2


class TestCorruptInput:
    def test_bad_magic(self):
        with pytest.raises(ValueError, match="zstd"):
            decode(b"\x00\x01\x02\x03rest")

    def test_checksum_mismatch(self):
        frame = bytearray(store_frame(b"abc", XXH64[b"abc"] & 0xFFFFFFFF))
        assert decode(bytes(frame)) == b"abc"
        frame[-1] ^= 0xFF
        with pytest.raises(ValueError, match="checksum"):
            decode(bytes(frame))

    def test_dictionary_frame_raises(self):
        # hand-build a frame header with a 1-byte nonzero dictionary id
        hdr = struct.pack("<I", _MAGIC) + bytes([0x21, 7, 5]) + b"x" * 8
        with pytest.raises(ValueError, match="(?i)dictionary"):
            decode(hdr)

    def test_truncated_sequences_raise(self):
        comp = _compress(bytes(range(256)) * 300, 3)
        # any structured error is fine; silent wrong output is not
        with pytest.raises(ValueError):
            decode(comp[: len(comp) // 2])

    def test_forged_content_size_raises(self):
        frame = bytearray(store_frame(b"abc"))
        frame[5] = 9  # the 4-byte content size now claims 9 bytes
        with pytest.raises(ValueError):
            decode(bytes(frame))


class TestTiffZstd:
    """ZSTD rows of the TIFF codec matrix."""

    @pytest.mark.parametrize("dt", ["u1", "u2", "i4", "f4"])
    def test_tiled_round_trip(self, dt):
        from flytemosaic_spark.sources.geotiff import (
            decode_geotiff,
            encode_geotiff,
        )

        rng = np.random.default_rng(3)
        arr = (rng.integers(0, 200, (70, 90, 2))).astype(dt)
        px, meta = decode_geotiff(encode_geotiff(arr, tile=32,
                                                 compress="zstd"))
        assert np.array_equal(px, arr)

    def test_windowed_and_ranged_reads(self):
        from flytemosaic_spark.sources.geotiff import (
            decode_geotiff,
            decode_geotiff_ranged,
            encode_geotiff,
        )

        rng = np.random.default_rng(4)
        arr = (rng.integers(0, 1000, (200, 170, 3)) / 8.0).astype("f4")
        tif = encode_geotiff(arr, tile=64, compress="zstd", overviews=[2])
        w, _ = decode_geotiff(tif, window=(33, 21, 96, 80))
        assert np.array_equal(w, arr[33:129, 21:101])
        ov, _ = decode_geotiff(tif, ifd=1)
        assert np.array_equal(ov, arr[::2, ::2])
        fetched = []

        def fetch(off, size):
            fetched.append(size)
            return tif[off : off + size]

        r, _ = decode_geotiff_ranged(fetch, window=(0, 0, 64, 64))
        assert np.array_equal(r, arr[:64, :64])
        # the ranged read must NOT transfer the whole file
        assert sum(fetched) < len(tif) // 2

    def test_predictor_and_planar2(self):
        from flytemosaic_spark.sources.geotiff import (
            decode_geotiff,
            encode_geotiff,
        )

        rng = np.random.default_rng(5)
        ia = rng.integers(0, 60000, (100, 80, 2), dtype=np.uint16)
        for kw in ({"predictor": True}, {"planar": 2}):
            px, _ = decode_geotiff(
                encode_geotiff(ia, tile=32, compress="zstd", **kw)
            )
            assert np.array_equal(px, ia), kw

    def test_store_fallback_frame_still_decodes(self, monkeypatch):
        # a writer that emits raw-block (store-mode) zstd tiles must
        # still produce a decodable TIFF
        import flytemosaic_spark.sources.codecs as codecs
        from flytemosaic_spark.sources.geotiff import (
            decode_geotiff,
            encode_geotiff,
        )

        # geotiff.py imports compress_chunk inside the function, so the
        # monkeypatched symbol is picked up per call
        monkeypatch.setattr(
            codecs, "compress_chunk", lambda d, comp: store_frame(d)
        )
        rng = np.random.default_rng(6)
        arr = rng.integers(0, 255, (50, 60), dtype=np.uint8)
        px, _ = decode_geotiff(encode_geotiff(arr, tile=32,
                                              compress="zstd"))
        assert np.array_equal(px[:, :, 0], arr)


class TestFuzzRobustness:
    def test_mutation_fuzz_never_hangs_or_crashes(self):
        """Random bit flips in a valid frame must either decode (a
        self-consistent mutation — zstd without the checksum flag has
        no integrity cover, which is why the TIFF tier keeps tile
        byte counts) or raise ValueError. Never a hang and never an
        unbounded allocation."""
        rng = np.random.default_rng(3)
        random.seed(99)
        base = _compress(
            (rng.integers(0, 1000, (64, 64, 3)) / 4.0)
            .astype("f4")
            .tobytes(),
            3,
        )
        for _ in range(300):
            buf = bytearray(base)
            for _ in range(random.randint(1, 4)):
                buf[random.randrange(len(buf))] ^= 1 << random.randrange(8)
            try:
                out = decode(bytes(buf))
                assert len(out) <= len(base) * 64  # sane expansion
            except ValueError:
                pass  # structured failure is the expected outcome

    def test_block_expansion_cap(self):
        src = b"ab" * 70000  # 140 KB input -> must span >1 block
        frame = _compress(src, 1)
        assert decode(frame) == src  # multi-block stays correct


class TestOwnEncoder:
    """The zstd chunk encoder: real compression, any size."""

    def test_compression_is_real(self):
        rep = b"the same phrase over and over " * 800
        assert len(_compress(rep)) < len(rep) // 50
        zeros = b"\x00" * 300000
        assert len(_compress(zeros)) < 100

    def test_multi_block_boundary(self):
        # > 128 KB forces several blocks
        data = (b"abcdefgh" * 40000)[: (1 << 17) + 12345]
        assert decode(_compress(data)) == data


class TestLongFormSequenceCount:
    """RFC 8878 §3.1.1.3.2.1: the 3-byte Number_of_Sequences form is
    byte1 + (byte2<<8) + 0x7F00 (ADDITIVE — low bits of byte2 must
    survive). Hand-built frame with n_seq up to 0x8000."""

    @staticmethod
    def _frame(n_seq: int) -> tuple[bytes, bytes]:
        # every sequence: 1 literal (LL RLE sym 1) + a 3-byte match at
        # repeat-offset 1 (OF sym 0 -> offset_value 1, ML sym 0 ->
        # len 3); all-RLE tables read zero bitstream bits, so the
        # sequence bitstream is just the padding start-bit byte.
        lits = bytes((i * 37 + 11) & 0xFF for i in range(n_seq))
        content = b"".join(bytes([c]) * 4 for c in lits)
        sz = len(lits)  # raw literals, 20-bit size form
        block = bytes(
            [0x00 | (0b11 << 2) | ((sz & 0xF) << 4),
             (sz >> 4) & 0xFF, (sz >> 12) & 0xFF]
        ) + lits
        if n_seq < 128:
            block += bytes([n_seq])
        else:
            lo = n_seq - 0x7F00
            block += bytes([0xFF, lo & 0xFF, lo >> 8])
        block += bytes([0b01010100, 1, 0, 0, 0x01])
        hdr = 1 | (2 << 1) | (len(block) << 3)
        frame = struct.pack("<I", _MAGIC)
        frame += bytes([0xA0])  # single-segment, 4-byte FCS, no checksum
        frame += struct.pack("<I", len(content))
        frame += hdr.to_bytes(3, "little") + block
        return frame, content

    @pytest.mark.parametrize("n_seq", [1, 127, 0x7F00, 0x7FFF, 0x8000])
    def test_matches_libzstd(self, n_seq):
        frame, content = self._frame(n_seq)
        assert decode(frame) == content
