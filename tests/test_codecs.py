"""The chunk codec registry (``sources/codecs.py``): round trips for
every codec id, and the checks that keep a declared size in a payload
from files outside the program honest — it must be reachable from the
payload length before anything is allocated, and an lz4 block must
decode to exactly that size."""

import random
import struct

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flytemosaic_spark.sources.codecs import compress_chunk, decompress_chunk


@pytest.mark.parametrize("cid", ["zlib", "lz4", "zstd", "snappy"])
@settings(max_examples=40, deadline=None)
@given(data=st.binary(min_size=0, max_size=4000))
def test_property_round_trip(cid, data):
    comp = {"id": cid}
    assert decompress_chunk(compress_chunk(data, comp), comp) == data


class TestDeclaredSize:
    def test_lz4_over_declared_prefix_raises(self):
        # pyarrow alone would return the declared size with an
        # uninitialised tail
        data = b"hello world " * 50
        payload = compress_chunk(data, {"id": "lz4"})
        (n,) = struct.unpack_from("<I", payload)
        forged = struct.pack("<I", n + 7) + payload[4:]
        with pytest.raises(ValueError, match="fewer"):
            decompress_chunk(forged, {"id": "lz4"})

    def test_lz4_under_declared_prefix_raises(self):
        payload = compress_chunk(b"hello world " * 50, {"id": "lz4"})
        (n,) = struct.unpack_from("<I", payload)
        with pytest.raises(ValueError):
            decompress_chunk(
                struct.pack("<I", n - 1) + payload[4:], {"id": "lz4"}
            )

    @pytest.mark.parametrize(
        "cid, header",
        [("lz4", b"\xff\xff\xff\xff"), ("snappy", b"\xff\xff\xff\xff\x0f")],
    )
    def test_forged_header_raises_before_allocating(self, cid, header):
        # a 0xFFFFFFFF size prefix (lz4) or varint preamble (snappy)
        # in front of a valid block
        payload = compress_chunk(b"abcd" * 100, {"id": cid})
        body = payload[4:] if cid == "lz4" else payload[2:]
        pool = pa.default_memory_pool()
        before = pool.max_memory()
        with pytest.raises(ValueError, match="declares"):
            decompress_chunk(header + body, {"id": cid})
        assert pool.max_memory() - before < 1 << 20

    @pytest.mark.parametrize("cid", ["lz4", "snappy"])
    def test_mutation_fuzz(self, cid):
        """Random byte flips, header included: the payload decodes to
        a size the format can reach, or raises ValueError."""
        rng = random.Random(17)
        base = compress_chunk(bytes(range(64)) * 200, {"id": cid})
        for _ in range(300):
            buf = bytearray(base)
            for _ in range(rng.randint(1, 4)):
                buf[rng.randrange(len(buf))] = rng.randrange(256)
            try:
                out = decompress_chunk(bytes(buf), {"id": cid})
                assert len(out) <= 255 * len(buf)
            except ValueError:
                pass
