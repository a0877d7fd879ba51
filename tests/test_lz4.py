"""LZ4 and snappy chunk payloads + the chunk-store codec registry.

Both codecs run native, via pyarrow (``sources/codecs.py``). The
tests pin the wire formats other writers produce — numcodecs ``lz4``
is a 4-byte LE size prefix + one raw LZ4 block (``lz4_raw``), snappy
chunks are one raw snappy block — and the rejection of corrupt
payloads."""

import random
import struct

import numpy as np
import pytest

from flytemosaic_spark.sources.codecs import compress_chunk, decompress_chunk

LZ4 = {"id": "lz4"}
SNAPPY = {"id": "snappy"}


def _real(name: str = "lz4_raw"):
    import pyarrow as pa

    return pa.Codec(name)


def _cases():
    random.seed(5)
    rng = np.random.default_rng(5)
    return {
        "empty": b"",
        "one": b"x",
        "short_rep": b"abcabcabcabc",
        "rep": b"hello world " * 500,
        "random": bytes(random.getrandbits(8) for _ in range(10000)),
        "chunk_f4": (rng.integers(0, 50, (64, 64, 4)) / 2.0)
        .astype("f4")
        .tobytes(),
        "zeros": b"\x00" * 100000,
        "tail_rep": b"q" * 30 + b"unique-tail",
    }


class TestLz4Interop:
    def test_our_blocks_decode_with_real_lz4(self):
        # our payloads are the numcodecs layout any lz4 reader opens
        codec = _real()
        for name, d in _cases().items():
            payload = compress_chunk(d, LZ4)
            assert struct.unpack_from("<I", payload)[0] == len(d), name
            assert (
                codec.decompress(payload[4:], len(d), asbytes=True) == d
            ), name

    def test_real_blocks_decode_with_ours(self):
        codec = _real()
        for name, d in _cases().items():
            payload = struct.pack("<I", len(d)) + codec.compress(
                d, asbytes=True
            )
            assert decompress_chunk(payload, LZ4) == d, name

    def test_compression_is_real(self):
        d = b"hello world " * 500
        assert len(compress_chunk(d, LZ4)) < len(d) // 50

    def test_numcodecs_framing(self):
        for d in _cases().values():
            assert decompress_chunk(compress_chunk(d, LZ4), LZ4) == d

    def test_corrupt_raises(self):
        good = compress_chunk(b"abcd" * 100, LZ4)
        with pytest.raises(ValueError):
            decompress_chunk(good[: len(good) // 2], LZ4)
        with pytest.raises(ValueError):
            decompress_chunk(good[:3], LZ4)
        bad = bytearray(good)
        bad[5] ^= 0xFF
        try:
            out = decompress_chunk(bytes(bad), LZ4)
            assert len(out) == 400  # structurally valid mutation
        except ValueError:
            pass


class TestChunkstoreCodecs:
    @pytest.mark.parametrize("compressor", ["lz4", "zstd", 1, None])
    def test_store_round_trip(self, spark, tmp_path, compressor):
        from flytemosaic_spark.sources.chunkstore import (
            read_array,
            read_template,
            write_region_chunks,
            write_template,
        )

        path = str(tmp_path / f"store_{compressor}")
        write_template(
            path, (1, 2, 8, 8), (1, 1, 4, 4), compressor=compressor
        )
        rng = np.random.default_rng(7)
        block = rng.normal(size=(2, 8, 8)).astype("f4")
        df = spark.createDataFrame(
            [(0, 0, 0, 0, [2, 8, 8], [float(v) for v in block.ravel()])],
            "t int, b0 int, y0 int, x0 int, shape array<int>, "
            "payload array<float>",
        )
        n = write_region_chunks(df, path)
        assert n == 8
        got = read_array(path)
        assert np.array_equal(got[0], block)
        meta = read_template(path)
        if compressor is None:
            assert meta["compressor"] is None
        elif compressor == 1:
            assert meta["compressor"] == {"id": "zlib", "level": 1}
        else:
            assert meta["compressor"]["id"] == compressor

    def test_read_store_df_with_lz4(self, spark, tmp_path):
        from flytemosaic_spark.sources.chunkstore import (
            read_store,
            write_region_chunks,
            write_template,
        )

        path = str(tmp_path / "lz4store")
        write_template(path, (1, 1, 4, 4), (1, 1, 4, 4),
                       compressor="lz4")
        vals = [float(i) for i in range(16)]
        df = spark.createDataFrame(
            [(0, 0, 0, 0, [1, 4, 4], vals)],
            "t int, b0 int, y0 int, x0 int, shape array<int>, "
            "payload array<float>",
        )
        write_region_chunks(df, path)
        rows = read_store(spark, path).collect()
        assert len(rows) == 1
        assert rows[0].payload == vals

    def test_v2_datasource_with_zstd(self, spark, tmp_path):
        from flytemosaic_spark.sources.chunkstore import (
            read_array,
            write_template,
        )

        path = str(tmp_path / "v2zstd")
        write_template(path, (1, 1, 4, 4), (1, 1, 4, 4),
                       compressor="zstd")
        vals = [float(i * 3) for i in range(16)]
        df = spark.createDataFrame(
            [(0, 0, 0, 0, [1, 4, 4], vals)],
            "t int, b0 int, y0 int, x0 int, shape array<int>, "
            "payload array<float>",
        )
        from flytemosaic_spark.sources.chunkstore import register

        register(spark)
        (
            df.write.format("chunkstore")
            .mode("append")
            .option("path", path)
            .save()
        )
        got = read_array(path)
        assert np.array_equal(got.ravel(), np.array(vals, dtype="f4"))


class TestSnappy:
    """Snappy chunks are one raw snappy block (not the framing
    format), so real snappy reads ours and we read real snappy's."""

    def test_interop_both_directions(self):
        codec = _real("snappy")
        for name, d in _cases().items():
            assert (
                codec.decompress(
                    compress_chunk(d, SNAPPY), len(d), asbytes=True
                )
                == d
            ), name
            assert (
                decompress_chunk(codec.compress(d, asbytes=True), SNAPPY)
                == d
            ), name

    def test_compression_is_real(self):
        d = b"hello world " * 500
        assert len(compress_chunk(d, SNAPPY)) < len(d) // 10

    def test_corrupt_raises(self):
        good = compress_chunk(b"abcd" * 200, SNAPPY)
        with pytest.raises(ValueError):
            decompress_chunk(good[: len(good) // 2], SNAPPY)
        with pytest.raises(ValueError):
            decompress_chunk(b"", SNAPPY)

    def test_chunkstore_snappy(self, spark, tmp_path):
        from flytemosaic_spark.sources.chunkstore import (
            read_array,
            write_region_chunks,
            write_template,
        )

        path = str(tmp_path / "snapstore")
        write_template(path, (1, 1, 4, 4), (1, 1, 4, 4),
                       compressor="snappy")
        vals = [float(i * 2) for i in range(16)]
        df = spark.createDataFrame(
            [(0, 0, 0, 0, [1, 4, 4], vals)],
            "t int, b0 int, y0 int, x0 int, shape array<int>, "
            "payload array<float>",
        )
        write_region_chunks(df, path)
        got = read_array(path)
        assert np.array_equal(got.ravel(), np.array(vals, dtype="f4"))


class TestRealisticChunkSize:
    def test_1mb_chunks_all_codecs(self):
        # the x236 gate probe uses 4 KB chunks; real chunk stores
        # write ~1 MB — prove the registry codecs round-trip there too
        rng = np.random.default_rng(9)
        smooth = np.cumsum(rng.integers(-4, 5, 1 << 20)).astype("u1")
        chunk = smooth.tobytes()
        for spec in (
            {"id": "zlib", "level": 1},
            {"id": "lz4"},
            {"id": "zstd", "level": 3},
            {"id": "snappy"},
        ):
            back = decompress_chunk(compress_chunk(chunk, spec), spec)
            assert back == chunk, spec
