"""Zarr-v2-compatible chunked array store — template + region-parallel
writes, no zarr dependency.

Mirrors the reference's two-phase sink (SURVEY §2.1 S9/S10): a
metadata-only template is written first (reference: ``to_zarr(...,
compute=False)``, flyte/build.py:103-112), then executors fill
disjoint chunk regions in parallel (``to_zarr(store, region=...)``,
flyte/build.py:150-176). Because write partitions are disjoint by
construction (the planner invariant, flytemosaic/mosaics.py:298-303),
no commit protocol is needed beyond template-then-fill, and retries
are idempotent (a chunk file is simply overwritten with identical
bytes).

The on-disk layout is genuine Zarr v2 — ``.zarray``/``.zattrs`` JSON
plus C-order chunk files named ``t.b.y.x`` (compressor null, zlib,
lz4, zstd or snappy — numcodecs ids) — so
any Zarr reader can open the result. Edge chunks are padded with the
fill value, as the format requires.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flytemosaic_spark.sources.codecs import (
    compress_chunk,
    decompress_chunk,
)

_DTYPES = {
    "float32": "<f4",
    "float64": "<f8",
    "uint8": "|u1",  # visual-band stores (JPEG-exportable)
    "uint16": "<u2",
    "int32": "<i4",
}


def write_template(
    path: str,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    dtype: str = "float32",
    fill_value: float | str = "NaN",
    attrs: dict | None = None,
    compression_level: int | None = None,
    compressor=None,
) -> None:
    """S9 — driver-side, metadata-only store creation ("CREATE TABLE AS
    SELECT ... LIMIT 0"). Cheap at any scale: two small JSON files.

    ``compression_level`` enables the Zarr v2 ``zlib`` codec (a
    standard numcodecs id, stdlib-only here); ``compressor`` takes a
    numcodecs-style spec instead — ``"lz4"`` (real-world Zarr's usual
    codec family), ``"zstd"``, ``"snappy"`` (all three native, via
    pyarrow), ``"zlib"``, or a full ``{"id": ..., "level": ...}``
    dict (``sources/codecs.py``). At
    100 TB the win is object-store bytes and network, paid with
    executor CPU — level-1 zlib or lz4 is the usual sweet spot for
    float rasters."""
    from flytemosaic_spark.sources.codecs import normalize_compressor

    if compressor is None and compression_level is not None:
        compressor = int(compression_level)
    os.makedirs(path, exist_ok=True)
    meta = {
        "zarr_format": 2,
        "shape": list(shape),
        "chunks": list(chunks),
        "dtype": _DTYPES[dtype],
        "compressor": normalize_compressor(compressor),
        "fill_value": fill_value,
        "filters": None,
        "order": "C",
    }
    with open(os.path.join(path, ".zarray"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(path, ".zattrs"), "w") as f:
        json.dump(attrs or {}, f)


def read_template(path: str) -> dict:
    with open(os.path.join(path, ".zarray")) as f:
        return json.load(f)


def write_region_chunks(chunks_df: DataFrame, path: str) -> int:
    """S10 — executor-side parallel region writes.

    Input rows: ``(t, b0, y0, x0, shape array<int>, payload
    array<float>)`` where (t, b0, y0, x0) is the region origin in
    *elements* and shape is the block shape ``[nb, ny, nx]`` for one
    time slice. Each row may span several store chunks; the row is
    split on chunk boundaries and each chunk file is written whole
    (padded with fill at array edges). Distinct rows never touch the
    same chunk file when the partition plan is disjoint and
    chunk-aligned — enforced upstream by the planner.

    Returns the number of chunk files written.
    """
    meta = read_template(path)
    zshape, zchunks, zdtype = meta["shape"], meta["chunks"], meta["dtype"]
    fill = math.nan if meta["fill_value"] in ("NaN", None) else float(meta["fill_value"])
    comp = meta.get("compressor")

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_written = 0
        ct, cb, cy, cx = zchunks
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                nb, ny, nx = row.shape
                block = np.asarray(row.payload, dtype=zdtype).reshape(nb, ny, nx)
                t, b0, y0, x0 = int(row.t), int(row.b0), int(row.y0), int(row.x0)
                assert t % ct == 0 and b0 % cb == 0 and y0 % cy == 0 and x0 % cx == 0, (
                    "region origin must be chunk-aligned"
                )
                for byi in range(0, ny, cy):
                    for bxi in range(0, nx, cx):
                        for bbi in range(0, nb, cb):
                            cidx = (
                                t // ct,
                                (b0 + bbi) // cb,
                                (y0 + byi) // cy,
                                (x0 + bxi) // cx,
                            )
                            chunk = np.full((cb, cy, cx), fill, dtype=zdtype)
                            sub = block[
                                bbi : bbi + cb, byi : byi + cy, bxi : bxi + cx
                            ]
                            chunk[: sub.shape[0], : sub.shape[1], : sub.shape[2]] = sub
                            fname = os.path.join(path, ".".join(map(str, cidx)))
                            tmp = fname + ".tmp"
                            payload_bytes = compress_chunk(
                                chunk.tobytes(order="C"), comp
                            )
                            with open(tmp, "wb") as f:
                                f.write(payload_bytes)
                            os.replace(tmp, fname)  # atomic → idempotent retries
                            n_written += 1
        yield pd.DataFrame({"n_written": [n_written]})

    counts = chunks_df.mapInPandas(write_partition, "n_written long").agg(
        F.sum("n_written").alias("n")
    )
    return int(counts.collect()[0]["n"])


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """S5 — chunk-manifest scan of a store: list chunk files into a
    manifest DataFrame (pure metadata), then decode payloads in
    parallel with mapInPandas. Column pruning/limit on the manifest
    prunes chunk reads — the metadata-only planning property the
    reference engineered into its GTI files (SURVEY §4)."""
    meta = read_template(path)
    zdtype, zchunks = meta["dtype"], meta["chunks"]
    comp = meta.get("compressor")
    names = [n for n in os.listdir(path) if not n.startswith(".")]
    manifest = spark.createDataFrame(
        [(os.path.join(path, n), *map(int, n.split("."))) for n in names],
        "file string, t int, b int, yi int, xi int",
    )

    def load(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def read_chunk(f: str) -> np.ndarray:
            with open(f, "rb") as fh:
                raw = fh.read()
            return np.frombuffer(
                decompress_chunk(raw, comp), dtype=zdtype
            ).astype("f4")

        for pdf in batches:
            payloads = [read_chunk(f) for f in pdf["file"]]
            yield pd.DataFrame(
                {
                    "t": pdf["t"] * zchunks[0],
                    "b0": pdf["b"] * zchunks[1],
                    "y0": pdf["yi"] * zchunks[2],
                    "x0": pdf["xi"] * zchunks[3],
                    "shape": [list(zchunks[1:])] * len(pdf),
                    "payload": payloads,
                }
            )

    return manifest.repartition(
        max(1, min(len(names), spark.sparkContext.defaultParallelism))
    ).mapInPandas(load, "t int, b0 int, y0 int, x0 int, shape array<int>, payload array<float>")


def read_array(path: str) -> np.ndarray:
    """Driver-side full-array reader (tests/small stores only)."""
    meta = read_template(path)
    shape, chunks, dtype = meta["shape"], meta["chunks"], meta["dtype"]
    fill = math.nan if meta["fill_value"] in ("NaN", None) else float(meta["fill_value"])
    comp = meta.get("compressor")
    out = np.full(shape, fill, dtype=dtype)
    for name in os.listdir(path):
        if name.startswith("."):
            continue
        idx = list(map(int, name.split(".")))
        with open(os.path.join(path, name), "rb") as fh:
            raw = fh.read()
        block = np.frombuffer(
            decompress_chunk(raw, comp), dtype=dtype
        ).reshape(chunks)
        sl = tuple(
            slice(i * c, min((i + 1) * c, s)) for i, c, s in zip(idx, chunks, shape)
        )
        out[sl] = block[tuple(slice(0, s.stop - s.start) for s in sl)]
    return out
