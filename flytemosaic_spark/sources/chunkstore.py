"""Zarr-v2-compatible chunked array store — template + region-parallel
writes and a first-class Spark format, no zarr dependency.

Mirrors the reference's two-phase sink (SURVEY §2.1 S9/S10): a
metadata-only template is written first (reference: ``to_zarr(...,
compute=False)``, flyte/build.py:103-112), then executors fill
disjoint chunk regions in parallel (``to_zarr(store, region=...)``,
flyte/build.py:150-176). Because write partitions are disjoint by
construction (the planner invariant, flytemosaic/mosaics.py:298-303),
no commit protocol is needed beyond template-then-fill, and retries
are idempotent (a chunk file is replaced whole with identical bytes).

The on-disk layout is genuine Zarr v2 — ``.zarray``/``.zattrs`` JSON
plus C-order chunk files named ``t.b.y.x`` (compressor null, zlib,
lz4, zstd or snappy — numcodecs ids) — so any Zarr reader can open
the result. Edge chunks are padded with the fill value, as the format
requires. This module is the only code that knows that layout:
``list_chunks`` is the one chunk-name parser, ``write_chunk`` the one
chunk writer and ``read_chunk`` the one chunk decoder.

The store is also a Spark format through PySpark's Python DataSource
API (SURVEY §4/§7)::

    register(spark)
    df = spark.read.format("chunkstore").option("path", store).load()
    df.write.format("chunkstore").option("path", store).mode("append").save()
    spark.readStream.format("chunkstore").option("path", store).load()

Scale properties mirrored from the reference's GTI metadata planning
(flytemosaic/mosaics.py:33-39):

- **planning is metadata-only** — partitions are derived from chunk
  file names, no chunk bytes are touched at plan time;
- **filter pushdown prunes files**: comparisons on the origin columns
  (t, b0, y0, x0) are consumed by ``pushFilters`` and applied to the
  file-name-derived origins, so pruned chunks are never opened — the
  same effect as parquet row-group min/max skipping;
- **each task yields one Arrow batch per chunk**, so executor memory
  is bounded by one chunk regardless of store size.
"""

from __future__ import annotations

import json
import math
import operator
import os
import re
from collections.abc import Iterable, Iterator, Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from flytemosaic_spark.sources.codecs import (
    compress_chunk,
    decompress_chunk,
    normalize_compressor,
)

SCHEMA = "t int, b0 int, y0 int, x0 int, shape array<int>, payload array<float>"
_ORIGIN_COLS = ("t", "b0", "y0", "x0")
# pushed comparisons on an origin column, applied to the origins the
# chunk file names give; origins are never null
_PRUNES = {
    EqualTo: operator.eq,
    GreaterThan: operator.gt,
    GreaterThanOrEqual: operator.ge,
    LessThan: operator.lt,
    LessThanOrEqual: operator.le,
    In: lambda v, values: v in values,
    IsNotNull: lambda v, _: True,
}

_DTYPES = {
    "float32": "<f4",
    "float64": "<f8",
    "uint8": "|u1",  # visual-band stores (JPEG-exportable)
    "uint16": "<u2",
    "int32": "<i4",
}

# Committed chunk files are exactly 't.b.y.x'; anything else (a
# writer's in-flight or a killed writer's leftover '<name>.tmp-<pid>',
# the .zarray/.zattrs metadata) must never reach int().
_CHUNK_NAME_RE = re.compile(r"^\d+\.\d+\.\d+\.\d+$")


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


def _fill(meta: dict) -> float:
    return math.nan if meta["fill_value"] in ("NaN", None) else float(meta["fill_value"])


def _chunk_name(cidx: Sequence[int]) -> str:
    return ".".join(map(str, cidx))


def list_chunks(path: str) -> list[tuple[int, int, int, int]]:
    """Sorted ``(t, b, y, x)`` grid indices of the store's committed
    chunk files — the only chunk-name parser. In-flight or leftover
    ``<name>.tmp-<pid>`` files and the metadata never match."""
    return sorted(
        tuple(map(int, n.split(".")))
        for n in os.listdir(path)
        if _CHUNK_NAME_RE.match(n)
    )


def write_chunk(path: str, meta: dict, cidx: Sequence[int], block: np.ndarray) -> None:
    """Write one chunk file: ``block`` (at most the chunk's band/y/x
    shape) is padded with the fill value, compressed with the store's
    codec and written to ``<name>.tmp-<pid>``, then renamed into place
    — atomic, so a concurrent reader or a retry of the same chunk
    never sees a partial file."""
    chunk = np.full(meta["chunks"][1:], _fill(meta), dtype=meta["dtype"])
    chunk[tuple(slice(0, n) for n in block.shape)] = block
    fname = os.path.join(path, _chunk_name(cidx))
    tmp = f"{fname}.tmp-{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(compress_chunk(chunk.tobytes(order="C"), meta.get("compressor")))
    os.replace(tmp, fname)


def read_chunk(path: str, meta: dict, cidx: Sequence[int]) -> np.ndarray:
    """Decode one chunk file to its ``meta["chunks"]``-shaped array."""
    with open(os.path.join(path, _chunk_name(cidx)), "rb") as fh:
        raw = decompress_chunk(fh.read(), meta.get("compressor"))
    return np.frombuffer(raw, dtype=meta["dtype"]).reshape(meta["chunks"])


def _origin(meta: dict, cidx: Sequence[int]) -> tuple[int, ...]:
    """Element origin (t, b0, y0, x0) of chunk ``cidx``."""
    return tuple(i * c for i, c in zip(cidx, meta["chunks"]))


def _write_regions(path: str, meta: dict, rows: Iterable) -> int:
    """Split each ``(t, b0, y0, x0, shape, payload)`` region row on
    chunk boundaries and write every chunk it covers; returns the
    number of chunk files written."""
    ct, cb, cy, cx = meta["chunks"]
    n = 0
    for row in rows:
        nb, ny, nx = row.shape
        block = np.asarray(row.payload, dtype=meta["dtype"]).reshape(nb, ny, nx)
        t, b0, y0, x0 = int(row.t), int(row.b0), int(row.y0), int(row.x0)
        if t % ct or b0 % cb or y0 % cy or x0 % cx:
            raise ValueError(f"region origin {(t, b0, y0, x0)} is not chunk-aligned")
        for byi in range(0, ny, cy):
            for bxi in range(0, nx, cx):
                for bbi in range(0, nb, cb):
                    cidx = (t // ct, (b0 + bbi) // cb, (y0 + byi) // cy, (x0 + bxi) // cx)
                    sub = block[bbi : bbi + cb, byi : byi + cy, bxi : bxi + cx]
                    write_chunk(path, meta, cidx, sub)
                    n += 1
    return n


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

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = sum(_write_regions(path, meta, pdf.itertuples(index=False)) for pdf in batches)
        yield pd.DataFrame({"n_written": [n]})

    counts = chunks_df.mapInPandas(write_partition, "n_written long").agg(
        F.sum("n_written").alias("n")
    )
    return int(counts.collect()[0]["n"])


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """S4/S5 — parallel scan of a store, one row per chunk with schema
    ``SCHEMA``: ``spark.read.format("chunkstore")``. Planning is
    metadata-only (partitions come from the chunk file names), and a
    comparison on t/b0/y0/x0 prunes whole chunk files before they are
    opened — the metadata-only planning property the reference
    engineered into its GTI files (SURVEY §4)."""
    register(spark)
    return spark.read.format("chunkstore").option("path", path).load()


def read_array(path: str) -> np.ndarray:
    """Driver-side full-array reader (tests/small stores only)."""
    meta = read_template(path)
    shape, chunks = meta["shape"], meta["chunks"]
    out = np.full(shape, _fill(meta), dtype=meta["dtype"])
    for cidx in list_chunks(path):
        sl = tuple(
            slice(i * c, min((i + 1) * c, s)) for i, c, s in zip(cidx, chunks, shape)
        )
        block = read_chunk(path, meta, cidx)
        out[sl] = block[tuple(slice(0, s.stop - s.start) for s in sl)]
    return out


@dataclass
class _ChunkBatch(InputPartition):
    chunks: list[tuple[int, int, int, int]]


class ChunkStoreReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        self.meta = read_template(self.path)
        self._pushed: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Consume origin-column comparisons (they prune whole chunk
        files); return everything else for Spark to evaluate.

        Reset on every call: Spark re-plans a reused DataFrame through
        the same reader instance, and the previous query's pushed
        filters must not leak into this one."""
        self._pushed = []
        for f in filters:
            if type(f) in _PRUNES and len(f.attribute) == 1 and f.attribute[0] in _ORIGIN_COLS:
                self._pushed.append(f)
            else:
                yield f  # not consumed

    def _origin_ok(self, origin: dict[str, int]) -> bool:
        return all(
            _PRUNES[type(f)](origin[f.attribute[0]], getattr(f, "value", None))
            for f in self._pushed
        )

    def partitions(self) -> Sequence[InputPartition]:
        """About one task per core over the chunks that survive the
        pushed filters: a task per chunk pays a Python worker round
        trip per file, one task for all of them leaves cores idle."""
        keep = [
            cidx
            for cidx in list_chunks(self.path)
            if self._origin_ok(dict(zip(_ORIGIN_COLS, _origin(self.meta, cidx))))
        ]
        n_tasks = max(1, min(len(keep), os.cpu_count() or 1))
        return [_ChunkBatch(keep[i::n_tasks]) for i in range(n_tasks)]

    def read(self, partition: _ChunkBatch):
        import pyarrow as pa

        shape = pa.array([self.meta["chunks"][1:]], pa.list_(pa.int32()))
        for cidx in partition.chunks:
            payload = read_chunk(self.path, self.meta, cidx).astype("f4", copy=False).ravel()
            yield pa.record_batch(
                [
                    *(pa.array([v], pa.int32()) for v in _origin(self.meta, cidx)),
                    shape,
                    pa.ListArray.from_arrays([0, payload.size], payload),
                ],
                names=[*_ORIGIN_COLS, "shape", "payload"],
            )


@dataclass
class _WroteChunks(WriterCommitMessage):
    n_chunks: int


class ChunkStoreWriter(DataSourceWriter):
    """Region-parallel writer: each task writes the disjoint,
    chunk-aligned regions of its rows (S10 semantics — atomic rename,
    idempotent). The template (.zarray) must exist."""

    def __init__(self, options):
        self.path = options["path"]
        self.meta = read_template(self.path)

    def write(self, rows) -> _WroteChunks:
        return _WroteChunks(_write_regions(self.path, self.meta, rows))

    def commit(self, messages):
        return None

    def abort(self, messages):
        # partial chunk files are overwritten by the retry (idempotent)
        return None


class ChunkStoreStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch streaming over the chunk store: each batch is the
    set of chunk files not yet seen — the streaming twin of the S6/J4
    bulk-ingest listing anti-join (a region-parallel writer appends
    disjoint chunks; the stream tails them).

    The offset is the SET of seen file names (a JSON dict from name
    to grid index), which makes replay (``readBetweenOffsets``) exact
    regardless of arrival order — chunk names carry grid indices, not timestamps, so no
    lexicographic high-water mark exists. The seen-set grows with the
    store; a production deployment compacts it exactly like Spark's
    own FileStreamSource seen-files log (bounded by maxFileAge). At
    the gate scale the offset is a few hundred names."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("chunkstore stream requires option 'path'")
        self.meta = read_template(self.path)

    def _row(self, cidx: Sequence[int]) -> tuple:
        payload = read_chunk(self.path, self.meta, cidx).astype("f4", copy=False)
        return (*_origin(self.meta, cidx), self.meta["chunks"][1:], payload.ravel().tolist())

    def initialOffset(self) -> dict:
        return {"seen": {}}

    def read(self, start: dict):
        seen = dict(start.get("seen", {}))
        new = [c for c in list_chunks(self.path) if _chunk_name(c) not in seen]
        seen.update((_chunk_name(c), list(c)) for c in new)
        return iter([self._row(c) for c in new]), {"seen": seen}

    def readBetweenOffsets(self, start: dict, end: dict):
        prev = start.get("seen", {})
        return iter(self._row(c) for n, c in end.get("seen", {}).items() if n not in prev)


class ChunkStoreDataSource(DataSource):
    """``spark.read.format("chunkstore")`` / ``df.write.format(...)``
    / ``spark.readStream.format("chunkstore")``."""

    @classmethod
    def name(cls) -> str:
        return "chunkstore"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema: StructType) -> ChunkStoreReader:
        return ChunkStoreReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> ChunkStoreWriter:
        return ChunkStoreWriter(self.options)

    def simpleStreamReader(self, schema: StructType) -> ChunkStoreStreamReader:
        return ChunkStoreStreamReader(self.options)


def register(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ChunkStoreDataSource)
