"""Seeded input generators and oracles for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed
gives the same tables, the same store bytes and the same expected
results. Nothing here needs a Spark session; all of it runs outside
the timed regions.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

# ---------------------------------------------------------------------------
# curation_queries: TPC-H-like star schema plus documents and events, with
# the column names and types of the engine's probe tables.
# ---------------------------------------------------------------------------

_WORDS = (
    "the a fast slow big small row column table query join group sort "
    "merge hash scan filter window batch stream spark data key value "
    "line order part customer agg vector"
).split()
_COLORS = "red blue green black white small large tiny".split()
_NOUNS = "ring widget bolt plate gear spring valve pipe".split()
_LANGS = np.array(["en", "fr", "es", "zh", "de"])
_LANG_P = [0.39, 0.16, 0.16, 0.15, 0.14]


def _day(days: np.ndarray, start: str) -> np.ndarray:
    return np.datetime64(start, "us") + days.astype("timedelta64[D]")


def make_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write one parquet file per table into ``out_dir``; ``scale`` is
    the TPC-H scale factor (lineitem has ~6M x scale rows)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1])
    n_supp = max(10, int(10_000 * scale))
    n_cust = max(150, int(150_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))

    def cents(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype="i4"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="i4"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("i4"),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="i8"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("i4"),
            "s_acctbal": cents(-999.99, 9999.99, n_supp),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="i8"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("i4"),
            "c_acctbal": cents(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        }
    )
    pk = np.arange(n_part, dtype="i8")
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_COLORS[a]} {_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype("i4"),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
        }
    )
    odate = _day(rng.integers(0, 2404, n_ord), "1995-01-01")
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="i8"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": cents(1000, 500_000, n_ord),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    lok = rng.integers(0, n_ord, n_line)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": lok,
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype("i4"),
            "l_quantity": rng.integers(1, 51, n_line).astype("f8"),
            "l_extendedprice": cents(900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": odate[lok] + rng.integers(1, 122, n_line).astype("timedelta64[D]"),
        }
    )
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="i8"),
            "ts": np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(15, n_ev // 60), n_ev),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    emb = rng.normal(0, 0.1, (n_doc, 64)).astype("f4")
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_doc, dtype="i8"),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_doc).astype("i4"),
        }
    )

    os.makedirs(out_dir, exist_ok=True)
    for name, df in t.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )


def _documents(rng: np.random.Generator, n: int):
    """Bag-of-words documents. About one in ten is an exact copy of an
    earlier document and one in ten a one-word edit of one, so the
    dedup and near-dup stages of the curation operators find work."""
    import pandas as pd

    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.1:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="i8"),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype="i8"),
        }
    )


# ---------------------------------------------------------------------------
# mosaic_store, scan side: a zstd chunk store whose exact float64 sum is known.
# ---------------------------------------------------------------------------


def make_store(path: str, seed: int, shape: tuple, chunks: tuple) -> dict:
    """Write a (time, band, y, x) float32 chunk store with zstd chunks.

    Values are multiples of 1/4 below 1000 in magnitude, with NaN
    nodata patches, so their float64 sum is exact in any order. Returns
    the expected non-NaN count and sum, and the raw size in MB."""
    from flytemosaic_spark.sources.chunkstore import read_template, write_template
    from flytemosaic_spark.sources.codecs import compress_chunk

    rng = np.random.default_rng([seed, 2])
    arr = (rng.integers(-3999, 4000, size=shape) / 4).astype("f4")
    nt, _, ny, nx = shape
    h, w = ny // 8, nx // 8  # fixed patch size: the seed moves, not resizes, the work
    for ti in range(nt):
        for _ in range(3):
            y, x = rng.integers(0, ny - h), rng.integers(0, nx - w)
            arr[ti, :, y : y + h, x : x + w] = np.nan
    write_template(path, shape, chunks, compressor={"id": "zstd", "level": 3})
    comp = read_template(path)["compressor"]
    ct, _, cy, cx = chunks
    for ti in range(nt // ct):
        for yi in range(ny // cy):
            for xi in range(nx // cx):
                block = arr[ti * ct : (ti + 1) * ct, :, yi * cy : (yi + 1) * cy, xi * cx : (xi + 1) * cx]
                payload = compress_chunk(np.ascontiguousarray(block).tobytes(), comp)
                with open(os.path.join(path, f"{ti}.0.{yi}.{xi}"), "wb") as f:
                    f.write(payload)
    ok = ~np.isnan(arr)
    return {
        "count": int(ok.sum()),
        "sum": float(arr[ok].astype("f8").sum()),
        "raw_mb": arr.nbytes / 1e6,
    }


# ---------------------------------------------------------------------------
# mosaic_store, build side: the expected bytes of every chunk file of the mosaic.
# ---------------------------------------------------------------------------


def mosaic_origin(seed: int) -> tuple[float, float]:
    """The tile grid's lower-left corner, in whole degrees."""
    rng = np.random.default_rng([seed, 3])
    return float(rng.integers(-170, 160)), float(rng.integers(-60, 50))


MOSAIC_TIMES = [dt.datetime(2020, 6, 1), dt.datetime(2021, 6, 1)]


def mosaic_oracle(targets: list, tiles: list, n_bands: int, tile_px: int) -> dict[str, bytes]:
    """Chunk file name -> expected bytes of a mean-reducer mosaic.

    ``targets`` holds (tile_id, time, period) rows, ``tiles`` holds
    (tile_id, minx, miny). Scene values are whole numbers, so the
    float64 sum over clear scenes is exact in any order and the
    float32 mean is fixed bit for bit."""
    from flytemosaic_spark.operators.raster import QA_CLEAR
    from flytemosaic_spark.pipeline import synthetic_scene

    periods: dict[tuple, list[int]] = {}
    for tile_id, time, period in targets:
        periods.setdefault((tile_id, time), []).append(int(period))
    used = {t for t, _ in periods}
    xs = sorted({minx for tid, minx, _ in tiles if tid in used})
    ys = sorted({miny for tid, _, miny in tiles if tid in used})
    pos = {tid: (ys.index(miny), xs.index(minx)) for tid, minx, miny in tiles if tid in used}
    t_index = {t: i for i, t in enumerate(sorted({t for _, t in periods}))}
    out = {}
    for (tile_id, time), ps in periods.items():
        acc = np.zeros((n_bands - 1, tile_px, tile_px), "f8")
        cnt = np.zeros((tile_px, tile_px), "i8")
        for p in ps:
            s = synthetic_scene(tile_id, p, n_bands, tile_px)
            ok = s[n_bands - 1] == QA_CLEAR
            acc += np.where(ok, s[: n_bands - 1], 0.0)
            cnt += ok
        with np.errstate(invalid="ignore", divide="ignore"):
            comp = np.where(cnt > 0, acc / np.maximum(cnt, 1), np.nan).astype("f4")
        yi, xi = pos[tile_id]
        out[f"{t_index[time]}.0.{yi}.{xi}"] = comp.tobytes()
    return out


def store_mismatches(path: str, expected: dict[str, bytes]) -> list[str]:
    """Names of chunk files that are missing, extra or not byte-equal."""
    names = {n for n in os.listdir(path) if not n.startswith(".")}
    bad = sorted(names ^ set(expected))
    for n in sorted(names & set(expected)):
        with open(os.path.join(path, n), "rb") as f:
            if f.read() != expected[n]:
                bad.append(n)
    return bad
