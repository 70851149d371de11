"""Rasterization: sparse cell rows → tile rows (sparse payload).

The reference's raster cube is a dense ``(p, m, n)`` band-major NumPy array
(utils.as_array, utils.py:45-63). A web-page raster is ~99% empty (pages
cluster in cities), so the tile row carries a SPARSE payload — local pixel
indices + band values for occupied pixels only — and the dense cube is
materialized transiently inside kernels that need spatial structure
(focal windows). Payload scales with data, not tile area: at 0.1%
occupancy the dense form is 1000x larger and its Arrow serialization
dominated the whole pipeline (measured: 118s of a 160s run at 23k tiles).

Tile assembly is pure regrouping, so it stays inside the engine: one
``groupBy(tile_id)`` aggregate builds each row, and Python is entered only
where the NumPy kernels run on the tiles.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unmixing_spark import dialect as D
from unmixing_spark.raster import NODATA
from unmixing_spark.spatial.grid import GridSpec, WORLD_GRID

# the sparse tile row assemble_tiles emits: idx = local row*tile+col of
# occupied pixels (ascending); bands = band-major values for those pixels,
# len = p * len(idx); x0/y0 as in GridSpec.geotransform
TILE_SCHEMA = (
    "tile_id long, x0 double, y0 double, dx double, dy double, "
    "p int, m int, n int, idx array<int>, bands array<double>"
)


def tile_to_dense(row) -> np.ndarray:
    """Sparse tile row → dense (p, m, n) cube with NODATA fill — the
    reference's array form, built only inside kernels that need it."""
    p, m, n = int(row["p"]), int(row["m"]), int(row["n"])
    arr = np.full((p, m * n), NODATA, dtype=np.float64)
    idx = np.asarray(row["idx"], dtype=np.int64)
    vals = np.asarray(row["bands"], dtype=np.float64).reshape(p, len(idx))
    arr[:, idx] = vals
    return arr.reshape(p, m, n)


def assemble_tiles(cells: DataFrame, band_cols: list[str],
                   grid: GridSpec = WORLD_GRID) -> DataFrame:
    """cells (cell_id, tile_id, b1..bp) → sparse tile rows: one
    ``groupBy(tile_id)`` collecting (local idx, b1..bp) structs, sorted by
    local idx, then reshaped band-major. A null band value becomes NaN."""
    tile, nxc, ntx, deg = grid.tile, grid.nx, grid.ntx, grid.deg
    local = (f"cast(((cell_id div {nxc}) % {tile}) * {tile} "
             f"+ (cell_id % {nxc}) % {tile} as int)")
    pix = F.struct(F.expr(local).alias("i"), *[
        F.coalesce(F.col(b).cast("double"), F.lit(float("nan")))
        .alias(f"v{k}") for k, b in enumerate(band_cols)])
    bands = ", ".join(f"transform(px, x -> x.v{k})"
                      for k in range(len(band_cols)))
    return (cells.groupBy("tile_id")
            .agg(F.array_sort(F.collect_list(pix)).alias("px"))
            .selectExpr(
                "cast(tile_id as bigint) AS tile_id",
                f"{D.dbl(-180.0)} + (tile_id % {ntx}) * {tile} "
                f"* {D.dbl(deg)} AS x0",
                f"{D.dbl(90.0)} - (tile_id div {ntx}) * {tile} "
                f"* {D.dbl(deg)} AS y0",
                f"{D.dbl(deg)} AS dx",
                f"{D.dbl(-deg)} AS dy",
                f"{len(band_cols)} AS p",
                f"{tile} AS m",
                f"{tile} AS n",
                "transform(px, x -> x.i) AS idx",
                f"flatten(array({bands})) AS bands"))
