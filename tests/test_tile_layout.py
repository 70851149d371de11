"""Pins the sparse tile layout that ``assemble_tiles`` emits: every
TILE_SCHEMA column is checked against a NumPy reference built from the same
cells (local ``idx`` ascending, ``bands`` band-major, a null band value
becomes NaN, ``x0``/``y0`` from the tile's grid position)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.types import _parse_datatype_string

from unmixing_spark.raster.rasterize import TILE_SCHEMA, assemble_tiles
from unmixing_spark.spatial.grid import GridSpec

BANDS = ["b1", "b2", "b3"]


def _cells(grid: GridSpec, rng: np.random.Generator) -> pd.DataFrame:
    """One tile holding more than 10,000 cells (above the 10,000-row Arrow
    batch, so one tile's rows span several batches), a few small tiles,
    one of them on the partial last tile column, all rows shuffled."""
    t = grid.tile
    counts = {(10, 20): 12_000, (10, 21): 1, (11, 20): 37,
              (3, grid.ntx - 1): 9, (40, 5): 250}
    cell, tid = [], []
    for (ty, tx), k in counts.items():
        width = min(t, grid.nx - tx * t)
        local = rng.choice(t * width, size=k, replace=False)
        r, c = local // width, local % width
        cell.append((ty * t + r) * grid.nx + tx * t + c)
        tid.append(np.full(k, ty * grid.ntx + tx))
    n = sum(counts.values())
    df = pd.DataFrame({
        "cell_id": np.concatenate(cell).astype(np.int64),
        "tile_id": np.concatenate(tid).astype(np.int64),
        "b1": rng.integers(1, 500, n).astype(np.float64),
        "b2": rng.normal(size=n),
        "b3": rng.integers(0, 3, n).astype(np.int32),
    })
    df["b2"] = df["b2"].astype(object)
    df.loc[17, "b2"] = None
    return df.sample(frac=1.0, random_state=5).reset_index(drop=True)


def _reference(df: pd.DataFrame, grid: GridSpec) -> dict[int, dict]:
    t = grid.tile
    out = {}
    for tile_id, g in df.groupby("tile_id"):
        iy, ix = np.divmod(g["cell_id"].to_numpy(), grid.nx)
        local = (iy % t) * t + ix % t
        o = np.argsort(local)
        vals = np.stack([g[b].to_numpy(dtype=np.float64, na_value=np.nan)
                         for b in BANDS])
        ty, tx = divmod(int(tile_id), grid.ntx)
        out[int(tile_id)] = {
            "tile_id": int(tile_id),
            "x0": -180.0 + tx * t * grid.deg,
            "y0": 90.0 - ty * t * grid.deg,
            "dx": grid.deg, "dy": -grid.deg,
            "p": len(BANDS), "m": t, "n": t,
            "idx": local[o].astype(np.int32),
            "bands": vals[:, o].ravel(),
        }
    return out


def test_assemble_tiles_matches_numpy_reference(spark):
    grid = GridSpec(deg=0.05, tile=128)
    df = _cells(grid, np.random.default_rng(41))
    cells = spark.createDataFrame(
        df, "cell_id long, tile_id long, b1 double, b2 double, b3 int")
    tiles = assemble_tiles(cells, BANDS, grid=grid)
    want_schema = _parse_datatype_string(TILE_SCHEMA)
    assert [(f.name, f.dataType.simpleString()) for f in tiles.schema] == [
        (f.name, f.dataType.simpleString()) for f in want_schema]
    got = {int(r["tile_id"]): r for r in tiles.collect()}
    want = _reference(df, grid)
    assert sorted(got) == sorted(want)
    assert max(len(w["idx"]) for w in want.values()) > 10_000
    for tile_id, w in want.items():
        r = got[tile_id]
        for c in ("tile_id", "x0", "y0", "dx", "dy", "p", "m", "n"):
            assert r[c] == w[c], (tile_id, c)
        np.testing.assert_array_equal(np.asarray(r["idx"], dtype=np.int32),
                                      w["idx"])
        bands = np.asarray(r["bands"], dtype=np.float64)
        # bit-equal, NaN included
        np.testing.assert_array_equal(bands.view(np.int64),
                                      w["bands"].view(np.int64))
    assert sum(np.isnan(np.asarray(r["bands"], dtype=np.float64)).sum()
               for r in got.values()) == 1
