"""Round-13 probes: the ZSTD codec tier inside the oracle gate, and
the parameter-driven CRS surface (datum-shifted EPSG codes).

``x234_zstd_cog`` puts the zstd TIFF tile path (native, via
pyarrow — ``sources/codecs.py``) in the gate the same way x222/x223
gate FLAC/MJPEG: executors encode REAL ZSTD-compressed tiled
GeoTIFFs (the modern GDAL COG default — reference
flytemosaic/datasets/utils.py:123-126 reads any GDAL compression,
and current GDAL writes COMPRESS=ZSTD) whose pixels derive
arithmetically from the key, then WINDOWED-decode them and emit
exact integer pixel stats the DuckDB oracle recomputes from the
generating arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flytemosaic_spark.probes.registry import T, probe


@probe(
    "x234_zstd_cog",
    sql="""
        WITH keys AS (
            SELECT s_suppkey AS media_id,
                   s_suppkey % 29 AS wy,
                   (s_suppkey * 3) % 31 AS wx
            FROM supplier
        ),
        cells AS (
            SELECT k.media_id,
                   (k.media_id * 31 + (k.wy + dy.y) * 17
                    + (k.wx + dx.x) * 7) % 60001 AS px
            FROM keys k,
                 generate_series(0, 23) dy(y),
                 generate_series(0, 23) dx(x)
        )
        SELECT media_id,
               count(*) AS n_px,
               sum(px) AS sum_px,
               min(px) AS min_px,
               max(px) AS max_px
        FROM cells
        GROUP BY media_id
    """,
    note="REAL ZSTD-in-TIFF round-trip IN the gate: executors encode "
    "key-derived uint16 scenes as tiled GeoTIFFs with compression "
    "50000 (genuinely compressed Huffman+FSE streams), and "
    "cog_window_stats windowed-decodes each — zstd native, via "
    "pyarrow (sources/codecs.py) — only the tiles "
    "intersecting the per-key window are decompressed, the "
    "cloud-optimized access path. The oracle recomputes the window's "
    "pixel stats from the generating arithmetic, so one wrong byte "
    "anywhere in the tile pipeline fails the hash. "
    "Payloads never shuffle (mapInPandas, explicit repartition "
    "count); output is metadata-scale.",
)
def x234_zstd_cog(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.multimodal import (
        cog_window_stats,
        synthesize_zstd_cogs,
    )

    keys = T(spark, sf, "supplier").select("s_suppkey")
    return cog_window_stats(synthesize_zstd_cogs(keys))


# ---------------------------------------------------------------------------
# f31/f32 — datum-shifted national grids (parameter-driven CRS builder)
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from flytemosaic_spark.functions.crs import (  # noqa: E402
    WGS84_A,
    WGS84_F,
    DATUM_PRESETS,
    conic_forward_sql,
    conic_inverse_sql,
    datum_project_df,
    datum_unproject_df,
    geocentric_to_geodetic_sql,
    geodetic_to_geocentric_sql,
    helmert_sql,
)
from flytemosaic_spark.operators.text import portable_round  # noqa: E402

# GB-area WGS84 points from supplier keys
_F31_PTS = """
    SELECT s_suppkey AS pt_id,
           -6.0 + CAST((s_suppkey * 37) % 750 AS DOUBLE) / 100.0 AS lon,
           50.0 + CAST((s_suppkey * 53) % 800 AS DOUBLE) / 100.0 AS lat
    FROM supplier
"""
_F31_GX, _F31_GY, _F31_GZ = geodetic_to_geocentric_sql(
    "lon", "lat", WGS84_A, WGS84_F
)
_F31_HX, _F31_HY, _F31_HZ = helmert_sql("gx", "gy", "gz", "OSGB36")
_OSGB = DATUM_PRESETS["OSGB36"]
_F31_LLON, _F31_LLAT = geocentric_to_geodetic_sql(
    "hx", "hy", "hz", _OSGB["a"], _OSGB["f"]
)
_F31_E, _F31_N = conic_forward_sql("llon", "llat", "EPSG:27700")


@probe(
    "f31_osgb_grid",
    sql=f"""
        WITH pts AS ({_F31_PTS}),
        g AS (
            SELECT pt_id, {_F31_GX} AS gx, {_F31_GY} AS gy,
                   {_F31_GZ} AS gz
            FROM pts
        ),
        h AS (
            SELECT pt_id, {_F31_HX} AS hx, {_F31_HY} AS hy,
                   {_F31_HZ} AS hz
            FROM g
        ),
        l AS (
            SELECT pt_id, {_F31_LLON} AS llon, {_F31_LLAT} AS llat
            FROM h
        )
        SELECT pt_id,
               floor(({_F31_E}) * 1000.0 + 0.5) / 1000.0 AS easting,
               floor(({_F31_N}) * 1000.0 + 0.5) / 1000.0 AS northing
        FROM l
    """,
    note="WGS84 lon/lat -> OSGB36 British National Grid (EPSG:27700) "
    "through the FULL datum pipeline: geodetic->geocentric, 7-param "
    "position-vector Helmert (EPSG 9606), Bowring geodetic recovery "
    "on Airy 1830, then the Krüger core reused as a generic 'tmerc' "
    "with (lat0 49N, lon0 2W, k0, FE, FN) — zero new projection math "
    "(functions/crs.py _tmerc_consts folds lat0 into fn_eff). Spark "
    "runs four materializing select stages (datum_project_df; the "
    "CollapseProject rule from CLAUDE.md), the oracle the same stages "
    "as CTEs rendered FROM THE SAME expression builder; the OS worked "
    "example anchors the projection to 0.1 mm in test_crs.py.",
)
def f31_osgb_grid(spark: SparkSession, sf: str) -> DataFrame:
    k = F.col("s_suppkey")
    pts = T(spark, sf, "supplier").select(
        k.alias("pt_id"),
        (
            F.lit(-6.0) + ((k * 37) % 750).cast("double") / F.lit(100.0)
        ).alias("lon"),
        (
            F.lit(50.0) + ((k * 53) % 800).cast("double") / F.lit(100.0)
        ).alias("lat"),
    )
    out = datum_project_df(
        pts, "lon", "lat", "EPSG:27700", ("easting", "northing")
    )
    return out.select(
        "pt_id",
        portable_round(F.col("easting"), 3).alias("easting"),
        portable_round(F.col("northing"), 3).alias("northing"),
    )


# Lambert zone II easting/northing over France
_F32_PTS = """
    SELECT s_suppkey AS pt_id,
           450000.0 + CAST((s_suppkey * 41) % 350000 AS DOUBLE) AS easting,
           2050000.0 + CAST((s_suppkey * 59) % 400000 AS DOUBLE)
               AS northing
    FROM supplier
"""
_F32_LLON, _F32_LLAT = conic_inverse_sql("easting", "northing",
                                         "EPSG:27572")
_NTF = DATUM_PRESETS["NTF"]
_F32_GX, _F32_GY, _F32_GZ = geodetic_to_geocentric_sql(
    "llon", "llat", _NTF["a"], _NTF["f"]
)
_F32_HX, _F32_HY, _F32_HZ = helmert_sql("gx", "gy", "gz", "NTF",
                                        inverse=True)
_F32_LON, _F32_LAT = geocentric_to_geodetic_sql(
    "hx", "hy", "hz", WGS84_A, WGS84_F
)


@probe(
    "f32_ntf_lambert_inverse",
    sql=f"""
        WITH pts AS ({_F32_PTS}),
        l AS (
            SELECT pt_id, {_F32_LLON} AS llon, {_F32_LLAT} AS llat
            FROM pts
        ),
        g AS (
            SELECT pt_id, {_F32_GX} AS gx, {_F32_GY} AS gy,
                   {_F32_GZ} AS gz
            FROM l
        ),
        h AS (
            SELECT pt_id, {_F32_HX} AS hx, {_F32_HY} AS hy,
                   {_F32_HZ} AS hz
            FROM g
        )
        SELECT pt_id,
               floor(({_F32_LON}) * 1000000000.0 + 0.5) / 1000000000.0
                   AS lon,
               floor(({_F32_LAT}) * 1000000000.0 + 0.5) / 1000000000.0
                   AS lat
        FROM h
    """,
    note="NTF Lambert zone II (EPSG:27572) easting/northing -> WGS84 "
    "lon/lat: the existing LCC form under its one-standard-parallel "
    "parameterization (n = sin lat0, F = k0 m0 / (n t0^n)) on Clarke "
    "1880 IGN with the Paris-meridian lon0, then the INVERSE Helmert "
    "(classic -168,-60,+320 shift, parameters negated per EPSG 9606 "
    "reversibility) back to WGS84 — the staged inverse "
    "(datum_unproject_df) of f31's pipeline; nano-degree (~0.1 mm) "
    "quantization, same shared-expression oracle contract.",
)
def f32_ntf_lambert_inverse(spark: SparkSession, sf: str) -> DataFrame:
    k = F.col("s_suppkey")
    pts = T(spark, sf, "supplier").select(
        k.alias("pt_id"),
        (
            F.lit(450000.0) + ((k * 41) % 350000).cast("double")
        ).alias("easting"),
        (
            F.lit(2050000.0) + ((k * 59) % 400000).cast("double")
        ).alias("northing"),
    )
    out = datum_unproject_df(
        pts, "easting", "northing", "EPSG:27572", ("lon", "lat")
    )
    return out.select(
        "pt_id",
        portable_round(F.col("lon"), 9).alias("lon"),
        portable_round(F.col("lat"), 9).alias("lat"),
    )


# ---------------------------------------------------------------------------
# x235 — corpus-scale BPE APPLY (the runtime-tokenizer half)
# ---------------------------------------------------------------------------

# A fixed creation-ordered merge list (every pair's constituents are
# base characters or outputs of strictly earlier merges, outputs
# distinct) — the invariant under which the operator's min-rank kernel
# is equivalent to replaying the merges once each in order, which is
# what the SQL oracle does as a replace() chain (equivalence asserted
# in tests/test_bpe.py, and the gate hash-compare re-proves it on the
# full corpus at both scales).
BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("in", "g"), ("o", "u"),
    ("s", "t"), ("e", "n"), ("o", "f"), ("t", "o"), ("i", "s"),
    ("a", "t"),
]


def _bpe_replay_chain_sql(expr: str) -> str:
    s = f"regexp_replace({expr}, '(.)', '·\\1·', 'g')"
    for a, b in BPE_MERGES:
        s = (
            f"replace({s}, '·{a}··{b}·', "
            f"'·{a}{b}·')"
        )
    return s


_X235_SQL = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents
    ),
    tw AS (SELECT doc_id, w FROM toks WHERE w <> ''),
    dw AS (SELECT DISTINCT w FROM tw),
    seg AS (
        SELECT w,
               len(list_filter(
                   string_split({_bpe_replay_chain_sql('w')}, '·'),
                   x -> x <> '')) AS n_sym
        FROM dw
    )
    SELECT doc_id,
           count(*) AS n_ws_tokens,
           CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
           floor(CAST(sum(n_sym) AS DOUBLE) / count(*) * 10000.0 + 0.5)
               / 10000.0 AS fertility
    FROM tw JOIN seg USING (w)
    GROUP BY doc_id
"""


@probe(
    "x235_bpe_apply",
    sql=_X235_SQL,
    note="Corpus-scale BPE APPLY (operators/bpe.py bpe_apply_stats — "
    "the runtime-tokenizer pass; induction is x123): the merge-rank "
    "table broadcasts once per executor and tokens stream through "
    "mapInPandas with a per-task word memo (Zipf hit rate), so "
    "corpus bytes NEVER shuffle — the only exchange is the final "
    "per-document stats aggregate. Reports whitespace tokens, BPE "
    "tokens, and fertility (tokens/word — the real-tokenizer version "
    "of x131's whitespace approximation). The kernel is GPT-2-style "
    "min-rank iteration; the oracle replays the creation-ordered "
    "merge list as a replace() chain over each DISTINCT word — the "
    "two algorithms provably agree on such lists (test_bpe.py).",
)
def x235_bpe_apply(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.bpe import bpe_apply_stats

    return bpe_apply_stats(T(spark, sf, "documents"), BPE_MERGES)


# ---------------------------------------------------------------------------
# x236 — every chunk codec round-trips IN the gate
# ---------------------------------------------------------------------------


@probe(
    "x236_chunk_codecs",
    sql="""
        WITH keys AS (
            SELECT s_suppkey AS media_id FROM supplier
        ),
        cells AS (
            SELECT k.media_id,
                   (k.media_id * 17 + i.i * 13) % 251 AS val
            FROM keys k, generate_series(0, 4095) i(i)
        )
        SELECT media_id,
               4 AS n_codecs,
               sum(val) * 4 AS sum_val,
               min(val) AS min_val,
               max(val) AS max_val
        FROM cells
        GROUP BY media_id
    """,
    note="Chunk-codec round-trip IN the gate: executors build a "
    "key-derived 4 KB uint8 chunk, push it through ALL FOUR registry "
    "codecs (zlib, lz4, zstd, snappy — sources/codecs.py; zlib "
    "through the stdlib, lz4/zstd/snappy native, via pyarrow) "
    "compress->decompress on the worker, and emit exact "
    "integer stats summed across codecs — one wrong byte in any "
    "codec's round-trip shifts sum_val and fails the hash. The oracle "
    "recomputes the stats from the generating arithmetic (x4 for the "
    "four codecs). Payloads never shuffle; output is metadata-scale.",
)
def x236_chunk_codecs(spark: SparkSession, sf: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from flytemosaic_spark.sources.codecs import (
            compress_chunk,
            decompress_chunk,
        )

        specs = [
            {"id": "zlib", "level": 1},
            {"id": "lz4"},
            {"id": "zstd", "level": 3},
            {"id": "snappy"},
        ]
        for pdf in batches:
            out = []
            for k in pdf["s_suppkey"]:
                k = int(k)
                i = np.arange(4096, dtype=np.int64)
                chunk = ((k * 17 + i * 13) % 251).astype("u1").tobytes()
                total = 0
                vmin, vmax = 255, 0
                for spec in specs:
                    back = decompress_chunk(
                        compress_chunk(chunk, spec), spec
                    )
                    a = np.frombuffer(back, dtype="u1")
                    total += int(a.astype(np.int64).sum())
                    vmin = min(vmin, int(a.min()))
                    vmax = max(vmax, int(a.max()))
                out.append((k, len(specs), total, vmin, vmax))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "n_codecs", "sum_val", "min_val",
                    "max_val",
                ],
            )

    keys = T(spark, sf, "supplier").select("s_suppkey")
    n = spark.sparkContext.defaultParallelism
    return keys.repartition(n, "s_suppkey").mapInPandas(
        run,
        "media_id long, n_codecs int, sum_val long, min_val long, "
        "max_val long",
    )
