"""End-to-end mosaic golden test: the full §3.1 lifecycle (catalog →
scenes → composite → placement → region-parallel store writes) must
reproduce a plain-numpy oracle computed from the same deterministic
scene source, bit-comparable at float32."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from flytemosaic_spark.fixtures import tile_grid
from flytemosaic_spark.operators.raster import QA_CLEAR
from flytemosaic_spark.pipeline import (
    build_mosaic,
    export_feature_geotiffs,
    synthetic_scene,
    target_scene_periods,
)
from flytemosaic_spark.sources.chunkstore import read_array

N_BANDS, TILE_PX = 4, 16
BBOX = (0.2, 0.2, 2.8, 1.8)  # x tiles {0,1,2} x y tiles {0,1} = 6 tiles
TIMES = [dt.datetime(2020, 6, 1), dt.datetime(2021, 2, 1)]


def _oracle(layout, periods_by_target, reducer="mean"):
    shape = layout["shape"]
    cube = np.full(shape, np.nan, "f4")
    for (tile_id, time), periods in periods_by_target.items():
        stack = np.stack(
            [synthetic_scene(tile_id, p, N_BANDS, TILE_PX) for p in periods]
        )
        qa = stack[:, N_BANDS - 1 : N_BANDS]
        vals = np.where(qa == QA_CLEAR, stack[:, : N_BANDS - 1], np.nan)
        with np.errstate(invalid="ignore"):
            comp = (np.nanmean if reducer == "mean" else np.nanmedian)(
                vals, axis=0
            ).astype("f4")
        ti = layout["times"].index(time)
        y0, x0 = layout["origins"][tile_id]
        cube[ti, :, y0 : y0 + TILE_PX, x0 : x0 + TILE_PX] = comp
    return cube


@pytest.mark.parametrize("reducer", ["mean", "median"])
def test_mosaic_matches_numpy_oracle(spark, tmp_path, reducer):
    tiles = tile_grid(spark, n=6)
    store = str(tmp_path / f"mosaic_{reducer}")
    layout = build_mosaic(
        spark, tiles, BBOX, TIMES, store, n_bands=N_BANDS, tile_px=TILE_PX,
        reducer=reducer,
    )
    assert layout["shape"][0] == 2  # two snapped years
    assert layout["shape"][1] == N_BANDS - 1
    assert layout["shape"][2:] == (2 * TILE_PX, 3 * TILE_PX)
    # 6 tiles x 2 times, one chunk per (tile, time)
    assert layout["n_chunks_written"] == 12

    periods_by_target = {}
    for r in target_scene_periods(spark, tiles, BBOX, TIMES).collect():
        periods_by_target.setdefault((r.tile_id, r.time), []).append(r.period)
    got = read_array(store)
    want = _oracle(layout, periods_by_target, reducer)
    np.testing.assert_allclose(got, want, rtol=1e-6, equal_nan=True)
    assert not np.isnan(got).all()


@pytest.mark.parametrize("factor", [2, 4])
def test_mosaic_resample_matches_numpy_oracle(spark, tmp_path, factor):
    """build.py:184 resolution parity: assembling at a coarser target
    resolution must equal the native-resolution oracle block-averaged
    (nan-aware) by the same factor."""
    tiles = tile_grid(spark, n=6)
    store = str(tmp_path / f"mosaic_rs{factor}")
    layout = build_mosaic(
        spark, tiles, BBOX, TIMES, store, n_bands=N_BANDS, tile_px=TILE_PX,
        resample_factor=factor,
    )
    out_px = TILE_PX // factor
    assert layout["shape"][2:] == (2 * out_px, 3 * out_px)
    assert layout["chunks"][2:] == (out_px, out_px)

    periods_by_target = {}
    for r in target_scene_periods(spark, tiles, BBOX, TIMES).collect():
        periods_by_target.setdefault((r.tile_id, r.time), []).append(r.period)
    native_layout = dict(layout)
    native_layout["shape"] = (
        layout["shape"][0], layout["shape"][1],
        layout["shape"][2] * factor, layout["shape"][3] * factor,
    )
    native_layout["origins"] = {
        k: (y * factor, x * factor) for k, (y, x) in layout["origins"].items()
    }
    native = _oracle(native_layout, periods_by_target)
    t, b, h, w = native.shape
    blocks = native.reshape(t, b, h // factor, factor, w // factor, factor)
    with np.errstate(invalid="ignore"):
        want = np.nanmean(blocks, axis=(3, 5)).astype("f4")
    got = read_array(store)
    np.testing.assert_allclose(got, want, rtol=1e-6, equal_nan=True)
    assert not np.isnan(got).all()


def test_mosaic_rerun_is_idempotent(spark, tmp_path):
    tiles = tile_grid(spark, n=4)
    store = str(tmp_path / "mosaic")
    a = build_mosaic(spark, tiles, (0, 0, 2, 1), [TIMES[0]], store,
                     n_bands=N_BANDS, tile_px=TILE_PX)
    first = read_array(store).copy()
    b = build_mosaic(spark, tiles, (0, 0, 2, 1), [TIMES[0]], store,
                     n_bands=N_BANDS, tile_px=TILE_PX)
    np.testing.assert_array_equal(read_array(store), first)
    assert a["shape"] == b["shape"]


def test_mosaic_skip_existing(spark, tmp_path):
    """Rerun with skip_existing writes nothing; extending the time
    range writes only the new chunks (the J4 incremental contract at
    the mosaic layer)."""
    tiles = tile_grid(spark, n=4)
    store = str(tmp_path / "mosaic")
    a = build_mosaic(spark, tiles, (0, 0, 2, 1), TIMES, store,
                     n_bands=N_BANDS, tile_px=TILE_PX)
    assert a["n_chunks_written"] == 2 * 2  # 2 tiles x 2 times
    before = read_array(store).copy()
    b = build_mosaic(spark, tiles, (0, 0, 2, 1), TIMES, store,
                     n_bands=N_BANDS, tile_px=TILE_PX, skip_existing=True)
    assert b["n_chunks_written"] == 0
    np.testing.assert_array_equal(read_array(store), before)


def test_leftover_tmp_file_does_not_break_rerun_or_export(spark, tmp_path):
    """A killed writer's '<t>.<b>.<y>.<x>.tmp-<pid>' leftover is not a
    chunk: the skip_existing rerun meant to recover from the failure
    writes nothing, and the export skips it."""
    tiles = tile_grid(spark, n=4)
    store = str(tmp_path / "mosaic")
    a = build_mosaic(spark, tiles, (0, 0, 2, 1), [TIMES[0]], store,
                     n_bands=N_BANDS, tile_px=TILE_PX)
    before = read_array(store).copy()
    with open(f"{store}/0.0.0.0.tmp-4242", "wb") as f:
        f.write(b"partial")
    b = build_mosaic(spark, tiles, (0, 0, 2, 1), [TIMES[0]], store,
                     n_bands=N_BANDS, tile_px=TILE_PX, skip_existing=True)
    assert b["n_chunks_written"] == 0
    np.testing.assert_array_equal(read_array(store), before)
    cogs = export_feature_geotiffs(spark, store, str(tmp_path / "cogs")).collect()
    assert len(cogs) == a["n_chunks_written"] and all(r.ok for r in cogs)
