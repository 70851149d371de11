"""The benchmark's operations and the workloads built from them.

A workload is a closed loop with one client: an operation starts only
after the previous one has finished, and the operations rotate over a
fixed list. Every operation is driven through the engine's public
functions and its output is checked against an answer that does not come
from the code under test (DuckDB running the registry's ``oracle_sql()``
text over the same generated ``documents`` table), or against an
invariant of the algorithm.

An operation has two parts, each traced as its own span when tracing is
on: ``queries.build`` (the calls that return the DataFrame, including any
jobs the engine runs eagerly while building it) and ``queries.action``
(the call that produces the result). The pipeline operations also have a
staged probe for the traced run: each layer's output is materialized in
its own span, so every layer gets its own time.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as entry
from oracle_harness import compare
from unmixing_spark import pagegen, pipeline
from unmixing_spark.io.checkpoint import BatchCheckpointer
from unmixing_spark.lsma.fcls import fcls_abundance
from unmixing_spark.lsma.mapper import unmix_tiles
from unmixing_spark.raster.rasterize import assemble_tiles
from unmixing_spark.sasma.focal import (BLOCK_T, interpolate_endmember_map,
                                        interpolate_endmember_tiles)
from unmixing_spark.sasma.kernels import kernel_idw_l1
from unmixing_spark.spatial.grid import WORLD_GRID

NODATA = -9999.0
SUM_TOL = 1e-6        # FCLS sum-to-one tolerance (delta-augmented solve)
SASMA_SAMPLE = 3      # tiles per operation checked against the local kernel
PROBE_BATCH = 10**6   # checkpoint batch id of the staged probe's write


@dataclass
class Ctx:
    """What one run shares between its operations."""
    spark: object
    work_dir: str
    seed: int
    data_dirs: dict = field(default_factory=dict)  # pages -> directory
    answers: dict = field(default_factory=dict)    # op label -> answer
    layers: dict = field(default_factory=dict)     # metric -> values


def documents_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB over the generated ``documents`` table only."""
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{data_dir}/documents.parquet'")
    return con


def _span(tracer, name):
    return nullcontext() if tracer is None else tracer.span(name)


def record(ctx: Ctx, name: str, value: float) -> None:
    ctx.layers.setdefault(name, []).append(value)


class Op:
    """One kind of operation over a generated table of ``pages`` rows."""
    label = ""
    pages = 0
    counts_tiles = False   # report tiles_per_s for this operation

    def data_dir(self, ctx: Ctx) -> str:
        return ctx.data_dirs[self.pages]

    def answers(self, con) -> object:
        raise NotImplementedError

    def run(self, ctx: Ctx, i: int, tracer=None):
        raise NotImplementedError

    def check(self, ctx: Ctx, i: int, result) -> list[str]:
        raise NotImplementedError

    def probe(self, ctx: Ctx, tracer) -> None:
        """Staged per-layer run for the traced mode (optional)."""


def cell_raster_answer(con) -> dict:
    cells = con.sql(entry.oracle_sql()["q_cell_raster"]).df()
    return {"cells": cells, "tile_ids": np.sort(cells["tile_id"].unique())}


# ---- registry queries ------------------------------------------------------

class RegistryQuery(Op):
    def __init__(self, label: str, pages: int):
        self.label, self.pages = label, pages

    def answers(self, con):
        return con.sql(entry.oracle_sql()[self.label]).df()

    def run(self, ctx, i, tracer=None):
        fn = entry.queries()[self.label]
        with _span(tracer, "queries.build"):
            df = fn(ctx.spark, self.data_dir(ctx))
        with _span(tracer, "queries.action"):
            return df.toPandas()

    def check(self, ctx, i, result):
        return compare(result, ctx.answers[self.label])


# ---- flagship: pages -> cell raster -> tiles -> FCLS -> checkpoint --------

def _batch_dir(ck: BatchCheckpointer, batch_id: int) -> str:
    """A batch's data directory (the io/checkpoint.py layout)."""
    return os.path.join(ck.out_dir, f"batch={batch_id}")


class Flagship(Op):
    label = "flagship"
    pages = 25_000
    counts_tiles = True

    def answers(self, con):
        return cell_raster_answer(con)

    def _checkpointer(self, ctx) -> BatchCheckpointer:
        return BatchCheckpointer(os.path.join(ctx.work_dir, "abundance"))

    def run(self, ctx, i, tracer=None):
        ck = self._checkpointer(ctx)
        with _span(tracer, "queries.build"):
            df = pipeline.flagship_abundance_tiles(ctx.spark,
                                                   self.data_dir(ctx))
        with _span(tracer, "queries.action"):
            manifest = ck.write_batch(i % PROBE_BATCH, df, lineage={"op": i})
        return ck, manifest

    def check(self, ctx, i, result):
        ck, manifest = result
        bdir = _batch_dir(ck, i % PROBE_BATCH)
        try:
            return self.check_batch(ctx.answers[self.label], bdir, manifest)
        finally:
            shutil.rmtree(bdir, ignore_errors=True)

    @staticmethod
    def check_batch(want: dict, bdir: str, manifest: dict) -> list[str]:
        """Committed abundance tiles: one per oracle tile, every oracle
        cell unmixed, abundances >= 0 and summing to one per pixel."""
        tbl = pq.read_table(bdir, columns=["tile_id", "q", "abundances",
                                           "n_pixels"])
        problems = []
        if manifest["rows"] != len(want["tile_ids"]):
            problems.append(f"manifest rows {manifest['rows']} != "
                            f"{len(want['tile_ids'])} tiles")
        if not np.array_equal(np.sort(tbl["tile_id"].to_numpy()),
                              want["tile_ids"]):
            problems.append("committed tile ids differ from the oracle's")
        n_px = int(pc.sum(tbl["n_pixels"]).as_py() or 0)
        if n_px != len(want["cells"]):
            problems.append(f"n_pixels {n_px} != {len(want['cells'])} cells")
        flat = pc.list_flatten(tbl["abundances"]).to_numpy()
        if flat.size and flat.min() < 0.0:
            problems.append(f"negative abundance {flat.min()}")
        worst, start = 0.0, 0
        for q, n in zip(tbl["q"].to_numpy(),
                        pc.list_value_length(tbl["abundances"]).to_numpy()):
            a = flat[start:start + n].reshape(q, -1)   # (q, pixels)
            start += n
            if a.size:
                worst = max(worst, float(np.abs(a.sum(axis=0) - 1.0).max()))
        if worst > SUM_TOL:
            problems.append(f"abundances sum to 1 only within {worst:.3g}")
        return problems

    def probe(self, ctx, tracer):
        spark, bands = ctx.spark, list(pagegen.BAND_NAMES)
        E = pipeline.CANONICAL_ENDMEMBERS
        with tracer.span("pipeline.cell_raster") as s:
            cells = pipeline.cell_raster(spark, self.data_dir(ctx)) \
                .localCheckpoint(eager=True)
        n_cells = cells.count()
        record(ctx, "pipeline.cell_raster_s", tracer.duration(s))
        record(ctx, "pipeline.cell_raster_tasks", s["tasks"])
        record(ctx, "pipeline.pages_per_s", self.pages / tracer.duration(s))
        with tracer.span("raster.assemble_tiles") as s:
            tiles = assemble_tiles(cells, bands).localCheckpoint(eager=True)
        n_tiles = tiles.count()
        record(ctx, "raster.assemble_tiles_s", tracer.duration(s))
        record(ctx, "raster.assemble_tiles_tasks", s["tasks"])
        record(ctx, "raster.cells_per_tile", n_cells / n_tiles)
        with tracer.span("lsma.unmix_tiles") as s:
            ab = unmix_tiles(tiles, E).localCheckpoint(eager=True)
        unmix_s = tracer.duration(s)
        record(ctx, "lsma.unmix_tiles_s", unmix_s)
        record(ctx, "lsma.unmix_tiles_tasks", s["tasks"])
        # the same pixels through the NumPy kernel alone, in this process
        p = len(bands)
        X = np.concatenate([np.asarray(b, dtype=np.float64).reshape(p, -1).T
                            for b in tiles.select("bands").toPandas()["bands"]])
        with tracer.span("lsma.fcls_kernel") as s:
            fcls_abundance(X, E)
        kernel_s = tracer.duration(s)
        record(ctx, "lsma.fcls_kernel_s", kernel_s)
        record(ctx, "lsma.fcls_pixels_per_s", len(X) / kernel_s)
        record(ctx, "lsma.fcls_bytes_in", float(X.size * 8))
        record(ctx, "lsma.boundary_s", unmix_s - kernel_s)
        ck = self._checkpointer(ctx)
        with tracer.span("io.write_batch") as s:
            ck.write_batch(PROBE_BATCH, ab)
        bdir = _batch_dir(ck, PROBE_BATCH)
        nbytes = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(bdir) for f in fs
                     if f.endswith(".parquet"))
        shutil.rmtree(bdir, ignore_errors=True)
        record(ctx, "io.write_batch_s", tracer.duration(s))
        record(ctx, "io.bytes_written", float(nbytes))
        record(ctx, "io.bytes_per_tile", nbytes / n_tiles)


# ---- SASMA: cell raster -> tiles -> halo-exchange focal interpolation ----

SASMA_LABELS = [0, 1, 2]
SASMA_SPECTRAL = ["b2", "b4"]


class Sasma(Op):
    label = "sasma"
    pages = 1_500
    counts_tiles = True

    def answers(self, con):
        return cell_raster_answer(con)

    def _cells(self, ctx):
        return (pipeline.cell_raster(ctx.spark, self.data_dir(ctx))
                .withColumn("cls", F.when(F.col("b1") >= 2.0, 2.0)
                            .when(F.col("b4") >= 50.0, 1.0).otherwise(0.0)))

    def _interpolate(self, tiles):
        return interpolate_endmember_tiles(
            tiles, kernel_idw_l1(5), class_band=2, spectral_bands=[0, 1],
            labels=SASMA_LABELS)

    def run(self, ctx, i, tracer=None):
        with _span(tracer, "queries.build"):
            out = self._interpolate(
                assemble_tiles(self._cells(ctx), SASMA_SPECTRAL + ["cls"]))
        with _span(tracer, "queries.action"):
            return out.toPandas()

    def check(self, ctx, i, result):
        want = ctx.answers[self.label]
        tids = want["tile_ids"]
        problems = []
        if len(result) != len(tids) * len(SASMA_LABELS) * 2:
            problems.append(f"{len(result)} rows for {len(tids)} tiles")
        if not np.array_equal(np.sort(result["tile_id"].unique()), tids):
            problems.append("output tile ids differ from the oracle's")
        got = {(int(t), int(c), int(b)): v for t, c, b, v in zip(
            result["tile_id"], result["em_class"], result["band"],
            result["interp"])}
        rng = np.random.default_rng([ctx.seed, i % PROBE_BATCH])
        for tid in rng.choice(tids, size=min(SASMA_SAMPLE, len(tids)),
                              replace=False):
            problems += check_sasma_tile(want["cells"], int(tid), got)
        return problems

    def probe(self, ctx, tracer):
        with tracer.span("pipeline.cell_raster") as s:
            cells = self._cells(ctx).localCheckpoint(eager=True)
        record(ctx, "pipeline.cell_raster_s", tracer.duration(s))
        record(ctx, "pipeline.cell_raster_tasks", s["tasks"])
        with tracer.span("raster.assemble_tiles") as s:
            tiles = assemble_tiles(cells, SASMA_SPECTRAL + ["cls"]) \
                .localCheckpoint(eager=True)
        record(ctx, "raster.assemble_tiles_s", tracer.duration(s))
        record(ctx, "raster.assemble_tiles_tasks", s["tasks"])
        with tracer.span("sasma.interpolate") as s:
            out = self._interpolate(tiles).localCheckpoint(eager=True)
        record(ctx, "sasma.interpolate_s", tracer.duration(s))
        record(ctx, "sasma.interpolate_tasks", s["tasks"])
        # halo groups that emitted rows: BLOCK_T x BLOCK_T tile blocks
        tids = np.array([r[0] for r in
                         out.select("tile_id").distinct().collect()])
        ty, tx = np.divmod(tids, WORLD_GRID.ntx)
        record(ctx, "sasma.groups",
               float(len(set(zip(ty // BLOCK_T, tx // BLOCK_T)))))


def sasma_reference(cells, tid: int) -> dict:
    """(tile, class, band) -> the tile's interpolation by the single-node
    ``interpolate_endmember_map`` over the mosaic of its neighbours within
    the kernel radius (the pattern of tests/test_determinism.py), built
    from the DuckDB cell raster."""
    g, t = WORLD_GRID, WORLD_GRID.tile
    window = kernel_idw_l1(5)
    rings = -(-(window.shape[-1] // 2) // t)     # ceil(radius / tile)
    S = 2 * rings + 1
    ty, tx = divmod(tid, g.ntx)
    cid = cells["cell_id"].to_numpy()
    oy, ox = cid // g.nx - (ty - rings) * t, cid % g.nx - (tx - rings) * t
    near = (oy >= 0) & (oy < S * t) & (ox >= 0) & (ox < S * t)
    oy, ox = oy[near], ox[near]
    spectra = np.zeros((2, S * t, S * t))
    for b, col in enumerate(SASMA_SPECTRAL):
        spectra[b][oy, ox] = cells[col].to_numpy()[near]
    b1, b4 = cells["b1"].to_numpy()[near], cells["b4"].to_numpy()[near]
    em_loc = np.full((1, S * t, S * t), NODATA)
    em_loc[0][oy, ox] = np.where(b1 >= 2.0, 2.0, np.where(b4 >= 50.0, 1.0, 0.0))
    synth = interpolate_endmember_map(spectra, em_loc, window, q=3, n=2,
                                      labels=SASMA_LABELS)
    centre = (slice(rings * t, (rings + 1) * t),) * 2
    return {(tid, label, b): synth[li][b][centre]
            for li, label in enumerate(SASMA_LABELS) for b in range(2)}


def check_sasma_tile(cells, tid: int, got: dict) -> list[str]:
    problems = []
    for key, ref in sasma_reference(cells, tid).items():
        if key not in got:
            problems.append(f"missing {key}")
            continue
        have = np.array([np.nan if v is None else v for v in got[key]],
                        dtype=np.float64).reshape(ref.shape)
        if not np.array_equal(np.isfinite(have), np.isfinite(ref)):
            problems.append(f"{key}: NaN layout differs")
        elif not np.allclose(have[np.isfinite(have)], ref[np.isfinite(ref)],
                             rtol=1e-9, atol=1e-9):
            problems.append(f"{key}: values differ")
    return problems


# ---- workloads ---------------------------------------------------------------

@dataclass
class Workload:
    name: str
    why: str
    rotation: list        # the ops, in the order the client sends them
    warmup: list          # untimed ops run first, until timings settle

    def op(self, i: int) -> Op:
        return self.rotation[i % len(self.rotation)]

    def distinct(self) -> list[Op]:
        return list({o.label: o for o in self.rotation + self.warmup}.values())


GRAPH = ["q_hits_scores", "q_harmonic_hyperball"]


def _workloads() -> dict[str, Workload]:
    flagship, sasma = Flagship(), Sasma()
    graph = [RegistryQuery(q, 3_000) for q in GRAPH]
    tiles = Workload(
        "tiles",
        "pages to tiles: the FCLS flagship committed through "
        "BatchCheckpointer (three of four ops) and the grouped-Python SASMA "
        "halo interpolation; the Arrow boundary, kernels and writes work",
        # the first op takes the JVM's cold start; the flagship's second
        # run in a session is still well above its later ones
        [flagship, flagship, flagship, sasma],
        [flagship, sasma, flagship])
    loops = Workload(
        "graph_loops",
        "HITS and HyperBall in rotation: iterative shuffle and checkpoint "
        "loops bound by query planning and job count, with no "
        "geocoding and no Python",
        # warm-up runs each op once; the first takes the JVM's cold start
        graph, graph[::-1])
    return {w.name: w for w in (tiles, loops)}


WORKLOADS = _workloads()
