"""Self-tests for the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

run._paths()

import stats  # noqa: E402
import workloads  # noqa: E402
from make_sf_bench_replica import gen_documents  # noqa: E402
from tracing import Tracer  # noqa: E402


def _digest(tmp_path, name, seed, n=500):
    d = tmp_path / name
    d.mkdir()
    gen_documents(str(d), n, np.random.default_rng(seed))
    return hashlib.sha256((d / "documents.parquet").read_bytes()).hexdigest()


def test_generator_is_deterministic(tmp_path):
    assert _digest(tmp_path, "a", 7) == _digest(tmp_path, "b", 7)
    assert _digest(tmp_path, "c", 7) != _digest(tmp_path, "d", 8)


@pytest.mark.parametrize("n,want", [
    (5, None), (10, None), (11, (9, 1.0)), (20, (50, 10.0)),
    (100, (90, 90.0)), (1000, (99, 990.0))])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    values = [float(v) for v in range(n, 0, -1)]   # unsorted input
    assert stats.tail(values) == want
    if want:
        assert sum(v > want[1] for v in values) == stats.TAIL_BEYOND


class _Canned(workloads.RegistryQuery):
    """A registry op that returns canned frames instead of running."""

    def __init__(self, label, results):
        super().__init__(label, pages=0)
        self.results = results

    def run(self, ctx, i, tracer=None):
        if isinstance(self.results[i], Exception):
            raise self.results[i]
        return self.results[i]


def test_wrong_or_raising_ops_count_as_failed():
    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    results = [good, good.assign(v=[0.5, 1.6]), RuntimeError("boom"),
               good.iloc[::-1], good, good]
    ops = [_Canned(q, results) for q in ("q_a", "q_b", "q_c")]
    ctx = workloads.Ctx(spark=None, work_dir="", seed=0,
                        answers={o.label: good for o in ops})
    wl = workloads.Workload("fake", "", ops, [])
    out = run._loop(wl, ctx, 0, seconds=0.0, log=lambda m: None)
    # ROTATIONS whole rotations; a reversed row order is still correct
    assert [label for label, _, _ in out] == ["q_a", "q_b", "q_c"] * 2
    assert [ok for _, _, ok in out] == [True, False, False, True, True, True]
    assert run.failed_ratio(out) == pytest.approx(2 / 6)


def _abundance_batch(d, abundances, n_pixels):
    d.mkdir()
    pq.write_table(pa.table({
        "tile_id": pa.array([1, 2], pa.int64()),
        "q": pa.array([3, 3], pa.int32()),
        "abundances": pa.array(abundances, pa.list_(pa.float64())),
        "n_pixels": pa.array(n_pixels, pa.int64())}), str(d / "p.parquet"))
    return str(d)


def test_flagship_check_rejects_injected_wrong_abundances(tmp_path):
    check = workloads.Flagship.check_batch
    want = {"cells": pd.DataFrame({"cell_id": [1, 2, 3]}),
            "tile_ids": np.array([1, 2])}
    ok = [[0.2, 0.3, 0.5], [0.1, 0.7, 0.2, 0.2, 0.7, 0.1]]   # (q, n) major
    bdir = _abundance_batch(tmp_path / "ok", ok, [1, 2])
    assert check(want, bdir, {"rows": 2}) == []
    assert check(want, bdir, {"rows": 3})                  # manifest rows
    bad_sum = [[0.2, 0.3, 0.6], ok[1]]
    bdir = _abundance_batch(tmp_path / "sum", bad_sum, [1, 2])
    assert any("sum" in p for p in check(want, bdir, {"rows": 2}))
    negative = [ok[0], [0.1, 0.7, -0.1, 0.2, 1.0, 0.1]]
    bdir = _abundance_batch(tmp_path / "neg", negative, [1, 2])
    assert any("negative" in p for p in check(want, bdir, {"rows": 2}))
    bdir = _abundance_batch(tmp_path / "px", ok, [1, 1])
    assert any("n_pixels" in p for p in check(want, bdir, {"rows": 2}))


def test_sasma_check_rejects_injected_wrong_value():
    g, t = workloads.WORLD_GRID, workloads.WORLD_GRID.tile
    tid = 40 * g.ntx + 50
    ty, tx = divmod(tid, g.ntx)
    rng = np.random.default_rng(3)
    iy = ty * t + rng.integers(-3, t + 3, size=60)
    ix = tx * t + rng.integers(-3, t + 3, size=60)
    cells = pd.DataFrame({"cell_id": iy * g.nx + ix,
                          "b1": rng.integers(1, 4, size=60).astype(float),
                          "b2": rng.uniform(10, 500, size=60),
                          "b4": rng.uniform(10, 90, size=60)}) \
        .drop_duplicates("cell_id")
    ref = workloads.sasma_reference(cells, tid)
    got = {k: v.ravel() for k, v in ref.items()}
    assert workloads.check_sasma_tile(cells, tid, got) == []
    k = next(iter(got))
    bad = got[k].copy()
    bad[int(np.flatnonzero(np.isfinite(bad))[0])] += 1e-3
    assert any("differ" in p for p in
               workloads.check_sasma_tile(cells, tid, {**got, k: bad}))
    missing = dict(got)
    del missing[k]
    assert any("missing" in p for p in
               workloads.check_sasma_tile(cells, tid, missing))


def test_tracer_self_time_and_totals():
    tr = Tracer(sc=None)
    outer = {"id": 0, "name": "op", "parent": None, "start": 0.0, "end": 10.0,
             "jobs": 1, "stages": 1, "tasks": 4, "tasks_failed": 0}
    kids = [{"id": i, "name": "c", "parent": 0, "start": s, "end": e,
             "jobs": 2, "stages": 3, "tasks": 8, "tasks_failed": 0}
            for i, (s, e) in enumerate([(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)],
                                       start=1)]
    tr.spans = [outer] + kids
    assert tr.self_time(outer) == pytest.approx(10.0 - 3.0 - 1.0)
    assert tr.total(outer, "tasks") == 4 + 3 * 8


def test_metric_and_workload_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert e2e == list(run.END_TO_END)
    assert layer == list(run.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    for name in e2e + layer + list(workloads.WORKLOADS):
        assert stats.NAME_RE.fullmatch(name), name
    for name in ("lsma.boundary_s", "linkgraph.hyperball_jobs",
                 "sasma.groups", "io.bytes_per_tile", "tiles_per_s"):
        assert stats.NAME_RE.fullmatch(name), name
