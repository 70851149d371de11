#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tiles --seed 1 --seconds 10 --trace 0

Run from the repository root. The input is generated from ``--seed``
(``gen_documents`` from scripts/make_sf_bench_replica.py), the session is
``session.get_spark()`` at ``local[<cores>]``, and one client drives a
closed loop over the workload's rotation of operations until at least
``ROTATIONS`` rotations are done and ``--seconds`` seconds of operation
time have passed, ending on a complete rotation. Every operation's output
is checked; one that raises or fails its check counts as failed.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` skips the
measured loop: after the same warm-up it runs, for each distinct
operation, one interleaved pair of an untraced and a traced run (plus the
staged per-layer probe of the pipeline operations) and reports the
per-layer metrics, with ``trace.overhead_s`` the median over the pairs of
traced minus untraced time.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it print every metric with its unit and sample count. The spans of a
traced run are written to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
GENERATE_REPEATS = 3
ROTATIONS = 2   # measured rotations at least, so each op has two samples

END_TO_END = ("setup_s", "ops_per_s")
PER_LAYER = ("pipeline.scan_s", "pipeline.scan_tasks", "queries.build_s",
             "queries.build_jobs", "queries.action_s", "queries.stages",
             "queries.tasks", "spark.tasks_failed", "trace.overhead_s")
LINKGRAPH = {"q_hits_scores": "hits", "q_harmonic_hyperball": "hyperball"}
UNITS = (("_per_s", "1/s"), ("_s", "s"), ("bytes_in", "bytes"),
         ("bytes_written", "bytes"), ("bytes_per_tile", "bytes"),
         ("cells_per_tile", "cells"), ("", "count"))


def _paths() -> None:
    for p in (ROOT, os.path.join(ROOT, "scripts"), os.path.join(ROOT, "tests")):
        if p not in sys.path:
            sys.path.insert(0, p)
    # Spark's Python workers import the engine by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _start_session(work: str, cores: int):
    from unmixing_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the JVMs' perf-data files would go to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for every child."""
    from pyspark import SparkContext
    from stats import children

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while children().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in children().get(os.getpid(), []):
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (OSError, ChildProcessError):
            pass


def _run_op(op, ctx, i, tracer=None) -> tuple[float, bool, str]:
    """Time one operation, then check its output (untimed)."""
    t0 = time.perf_counter()
    try:
        result = op.run(ctx, i, tracer)
    except Exception as e:  # noqa: BLE001
        return time.perf_counter() - t0, False, f"raised {e!r}"[:300]
    dt = time.perf_counter() - t0
    try:
        problems = op.check(ctx, i, result)
    except Exception:  # noqa: BLE001
        problems = ["check raised " + traceback.format_exc(limit=2)[-300:]]
    return dt, not problems, "; ".join(problems)[:300]


def _loop(wl, ctx, first: int, seconds: float, log=_log) -> list[tuple]:
    """Closed loop: run ops until ``ROTATIONS`` rotations are done and
    ``seconds`` of op time has passed, ending on a complete rotation.
    Returns (label, seconds, ok) per op."""
    ops, busy, i = [], 0.0, first
    n = len(wl.rotation)
    while len(ops) < ROTATIONS * n or busy < seconds or (i - first) % n:
        op = wl.op(i)
        dt, ok, why = _run_op(op, ctx, i)
        ops.append((op.label, dt, ok))
        busy += dt
        log(f"op {i} {op.label} {dt:.3f}s {'ok' if ok else 'FAILED ' + why}")
        i += 1
    return ops


def failed_ratio(ops: list[tuple]) -> float:
    """Failed ops (raised, or output check failed) over attempted ops."""
    return sum(not ok for _, _, ok in ops) / len(ops)


def _by_label(ops) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for label, dt, *_ in ops:
        out.setdefault(label, []).append(dt)
    return out


def _traced(wl, ctx, first, tracer) -> tuple[list, list]:
    """Interleaved pairs, one per distinct operation: the operation
    untraced and traced back to back, the order alternating from pair to
    pair so that drift within the session falls on both sides. Each
    traced run is followed by a scan of the registered ``documents``
    view. Then each operation's staged layer probe. Returns (label,
    seconds, ok, span) per traced run and (label, seconds, ok) per
    untraced run, pair by pair."""
    from unmixing_spark import pipeline

    ops = list({op.label: op for op in wl.rotation}.values())
    traced, plain, i = [], [], first
    for k, op in enumerate(ops):
        for on in ((False, True) if k % 2 == 0 else (True, False)):
            if on:
                tracer.op_id = f"op{i}"
                with tracer.span("op") as s:
                    dt, ok, why = _run_op(op, ctx, i, tracer)
                traced.append((op.label, dt, ok, s))
                with tracer.span("pipeline.scan"):
                    pipeline.register_tables(ctx.spark, op.data_dir(ctx))
                    ctx.spark.table("documents").write.format("noop") \
                        .mode("overwrite").save()
            else:
                dt, ok, why = _run_op(op, ctx, i)
                plain.append((op.label, dt, ok))
            _log(f"{'traced' if on else 'paired'} op {i} {op.label} "
                 f"{dt:.3f}s {'ok' if ok else 'FAILED ' + why}")
            i += 1
    for op in wl.distinct():
        tracer.op_id = f"probe-{op.label}"
        op.probe(ctx, tracer)
    return traced, plain


def traced_metrics(ctx, tracer, traced, plain) -> dict:
    """Per-layer metrics every workload reports, as name -> (median,
    unit, samples); per-operation job counts go to ``ctx.layers``."""
    import stats

    def med(span_name, f):
        vals = [f(s) for s in tracer.named(span_name)]
        return stats.median(vals), len(vals)

    def total(key):
        return lambda s: tracer.total(s, key)

    for label, _, _, s in traced:
        name = f"linkgraph.{LINKGRAPH[label]}" if label in LINKGRAPH \
            else label
        build = [c for c in tracer.children(s) if c["name"] == "queries.build"]
        ctx.layers.setdefault(f"{name}_jobs", []).append(total("jobs")(s))
        ctx.layers.setdefault(f"{name}_stages", []).append(total("stages")(s))
        ctx.layers.setdefault(f"{name}_build_s", []).append(
            sum(tracer.duration(c) for c in build))
    over = [t[1] - p[1] for t, p in zip(traced, plain)]
    out = {}
    for name, span_name, f, unit in (
            ("pipeline.scan_s", "pipeline.scan", tracer.duration, "s"),
            ("pipeline.scan_tasks", "pipeline.scan", total("tasks"), "count"),
            ("queries.build_s", "queries.build", tracer.duration, "s"),
            ("queries.build_jobs", "queries.build", total("jobs"), "count"),
            ("queries.action_s", "queries.action", tracer.duration, "s"),
            ("queries.stages", "op", total("stages"), "count"),
            ("queries.tasks", "op", total("tasks"), "count")):
        v, n = med(span_name, f)
        out[name] = (v, unit, n)
    out["spark.tasks_failed"] = (
        sum(s["tasks_failed"] for s in tracer.spans), "count",
        len(tracer.spans))
    out["trace.overhead_s"] = (stats.median(over), "s", len(over))
    return out


def _unit(name: str) -> str:
    return next(u for suffix, u in UNITS if name.endswith(suffix))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _paths()
    # import the engine first: without it there is nothing to measure
    import numpy as np
    from make_sf_bench_replica import gen_documents

    import stats
    from tracing import Tracer
    from workloads import WORKLOADS, Ctx, documents_connection

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    work = os.path.join(OUT, f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    ctx = Ctx(spark=None, work_dir=work, seed=args.seed)

    # -- set-up: generate (repeated), DuckDB answers, session, warm-up --
    sizes = sorted({op.pages for op in wl.distinct()})
    gen_s, digests = [], set()
    for k in range(GENERATE_REPEATS):
        t0 = time.perf_counter()
        for n in sizes:
            d = os.path.join(work, f"data{k}", f"pages{n}")
            os.makedirs(d)
            gen_documents(d, n, np.random.default_rng(args.seed))
            ctx.data_dirs.setdefault(n, d)
        gen_s.append(time.perf_counter() - t0)
        digests.add(tuple(_sha256(os.path.join(
            work, f"data{k}", f"pages{n}", "documents.parquet"))
            for n in sizes))
    deterministic = len(digests) == 1
    t0 = time.perf_counter()
    cons = {n: documents_connection(d) for n, d in ctx.data_dirs.items()}
    ctx.answers = {op.label: op.answers(cons[op.pages])
                   for op in wl.distinct()}
    answers_s = time.perf_counter() - t0
    _log(f"generate {[round(x, 3) for x in gen_s]} s (documents "
         f"{'identical' if deterministic else 'DIFFER'} across repeats), "
         f"answers {answers_s:.3f}s")

    t0 = time.perf_counter()
    ctx.spark = _start_session(work, cores)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        warm = [_run_op(op, ctx, -1 - w) for w, op in enumerate(wl.warmup)]
        warmup_s = time.perf_counter() - t0
        _log(f"session {session_s:.3f}s, warm-up "
             f"{[(op.label, round(w[0], 3)) for op, w in zip(wl.warmup, warm)]}"
             + "".join(f" FAILED {w[2]}" for w in warm if not w[1]))
        tracer = Tracer(ctx.spark.sparkContext)
        if args.trace:
            ops, (traced, plain) = [], _traced(wl, ctx, 0, tracer)
        else:
            with stats.RssSampler() as rss:
                ops = _loop(wl, ctx, 0, args.seconds)
            traced, plain = [], []
    finally:
        _stop_session(ctx.spark)
    shutil.rmtree(work, ignore_errors=True)

    all_ops = ops + plain + [t[:3] for t in traced]
    failed = sum(not ok for _, _, ok in all_ops)
    correct = failed == 0 and deterministic and all(w[1] for w in warm)
    times = [dt for _, dt, _ in ops]
    setup_s = stats.median(gen_s) + answers_s + session_s + warmup_s
    lines = [("setup_s", setup_s, "s", GENERATE_REPEATS),
             ("setup.generate_s", stats.median(gen_s), "s", GENERATE_REPEATS),
             ("setup.answers_s", answers_s, "s", 1),
             ("setup.session_s", session_s, "s", 1),
             ("setup.warmup_s", warmup_s, "s", len(warm)),
             ("failed_ratio", failed_ratio(all_ops), "ratio", len(all_ops))]
    tail = None
    if times:
        lines += [("op_p50_s", stats.median(times), "s", len(times)),
                  ("ops_per_s", len(times) / sum(times), "ops/s", len(times)),
                  ("rss_peak_mb", rss.peak / 2**20, "MB", rss.samples)]
        tail = stats.tail(times)
        if tail:
            lines.append((f"op_p{tail[0]}_s", tail[1], "s", len(times)))
    by_label = _by_label(ops)
    for label, ts in by_label.items():
        if len(by_label) > 1:
            lines.append((f"{label}.p50_s", stats.median(ts), "s", len(ts)))
        op = next(o for o in wl.distinct() if o.label == label)
        if op.counts_tiles:
            n_tiles = len(ctx.answers[label]["tile_ids"])
            lines.append((f"{label}.tiles_per_s", n_tiles * len(ts) / sum(ts),
                          "tiles/s", len(ts)))
    if args.trace:
        metrics = traced_metrics(ctx, tracer, traced, plain)
        lines += [(k, v, u, n) for k, (v, u, n) in metrics.items()]
        lines += [(k, stats.median(v), _unit(k), len(v))
                  for k, v in ctx.layers.items()]
        os.makedirs(OUT, exist_ok=True)
        tracer.dump(os.path.join(OUT, f"trace-{wl.name}-{args.seed}.json"))

    for name, value, unit, n in lines:
        print(f"{wl.name} {name} = {value:.6g} {unit} (n={n})")
    if times and not tail:
        print(f"{wl.name} op_tail_s = n/a (n={len(times)}; a tail percentile "
              f"needs more than {stats.TAIL_BEYOND} samples)")
    values = {k: {"value": v, "unit": u} for k, v, u, _ in lines}
    print(json.dumps({
        "correct": bool(correct), "attempted": len(all_ops), "failed": failed,
        "metrics": {k: values[k]
                    for k in (PER_LAYER if args.trace else END_TO_END)}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
