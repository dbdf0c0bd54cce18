"""Benchmark of the dqe_spark engine: two seeded workloads.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the engine. Workloads:

  pipeline_suite  operator rows from the bench registry, serially
  ingest_serve    batches merged into the rollup ladder while serving

Each run generates its input tables from ``--seed`` (cached per seed
under ``perfbench/.work/data``), starts a Spark session on
``local[nproc]``, builds the stores the workload reads under a fresh
dataset name (set-up), runs the workload closed-loop for ``--seconds``
(timed), checks every result, removes its stores and stops Spark.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it is the
full record: every workload metric by name and unit, each failed
operation with its cause, and the host notes. Records, and with
``--trace 1`` the span file and the per-layer summary, are written to
``perfbench/.work/results``. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import harness  # noqa: E402
from common import Ctx  # noqa: E402

WORKLOADS = ("pipeline_suite", "ingest_serve")

#: end-to-end metrics (BENCHMARK.json) → unit. ``setup_s`` and
#: ``round_cpu_s`` are CPU seconds of the process tree. ``core_use`` is
#: a round's CPU seconds over its wall time (less the share of it the
#: hypervisor gave to other guests) times nproc: waits and lost
#: parallelism cost wall time but no CPU, and lower it. Raw wall times
#: spread too much on a shared host to carry a bound (see NOTES.md)
E2E = {
    "setup_s": "s",
    "round_cpu_s": "s",
    "core_use": "ratio",
}


def workload(name: str, ctx: Ctx):
    if name == "pipeline_suite":
        from wl_pipeline import Pipeline

        return Pipeline(ctx)
    from wl_ingest import Ingest

    return Ingest(ctx)


def engine_present(root: Path) -> bool:
    return (root / "dqe_spark" / "engine.py").is_file() and (
        root / "scripts" / "sweep_sf1.py"
    ).is_file()


def setup(ctx: Ctx, wl, sf: Path) -> tuple[float, float]:
    """Session start plus every store the workload reads, built from
    empty (independent builder chains concurrently, on up to nproc
    threads). Returns its (CPU seconds of the process tree, wall
    seconds)."""
    from builders import build_chains
    from dqe_spark.session import get_spark

    tr = ctx.tracer
    cpu0 = harness.tree_cpu_s()
    t0 = time.perf_counter()
    with tr.span("setup", "setup", op=True):
        with tr.span("setup.session", "setup"):
            spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        tr.bind(spark)
        build_chains(ctx, wl.builders, str(sf), "setup")
    return harness.tree_cpu_s() - cpu0, time.perf_counter() - t0


def control(ctx: Ctx, sf: Path) -> float:
    """One ``get_points`` scan: the host-noise control (not a metric)."""
    from dqe_spark.entry import all_queries

    t = time.perf_counter()
    all_queries()["get_points"](ctx.spark, str(sf)).collect()
    return round(time.perf_counter() - t, 4)


def stop_spark(ctx: Ctx) -> None:
    """Stop Spark, then the JVM, then wait for every process it
    started (Python workers included) to end."""
    pids = set()
    me = os.getpid()
    for p in Path("/proc").iterdir():
        if p.name.isdigit() and int(p.name) != me and _descends(int(p.name), me):
            pids.add(int(p.name))
    if ctx.spark is not None:
        from pyspark import SparkContext

        from py4j.protocol import Py4JError

        ctx.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Py4JError:
                pass
        if proc is not None:
            # the JVM exits when its stdin closes
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = {p for p in pids if Path(f"/proc/{p}").exists() and not _zombie(p)}
        if pids:
            time.sleep(0.2)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _descends(pid: int, ancestor: int) -> bool:
    seen = 0
    while pid > 1 and seen < 64:
        try:
            stat = Path(f"/proc/{pid}/stat").read_text()
        except OSError:
            return False
        pid = int(stat.rsplit(")", 1)[1].split()[1])
        if pid == ancestor:
            return True
        seen += 1
    return False


def _zombie(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def summarize(name: str, ops, wall: float, nproc: int) -> dict:
    """Workload metrics by name → {value, unit}."""
    med, tail = harness.median, harness.tail
    out: dict = {}

    def put(k, v, unit):
        if v is not None:
            out[k] = {"value": v, "unit": unit}

    def timing(prefix, xs):
        p, v, n = tail(xs)
        put(f"{prefix}_p50_s", med(xs), "s")
        put(f"{prefix}_tail_s", v, "s")
        if xs:
            out[f"{prefix}_tail_s"]["percentile"] = p
            out[f"{prefix}_tail_s"]["samples"] = n

    def unstolen(o):
        # the round's wall less the share the hypervisor gave to others
        return o.dur * (1.0 - (o.info["steal"] or 0.0))

    timed = [o for o in ops if not o.info.get("warmup")]
    # answered queries (a stale answer counts, one that raised does not)
    queries = [o.dur for o in timed if o.kind == "query"
               and not (o.cause or "").startswith("raised")]
    if name == "pipeline_suite":
        passes = [o for o in timed if o.kind == "pass"]
        rows = [o for o in timed if o.kind == "row"]
        put("wall_s", med([o.dur for o in passes]), "s")
        put("rows_per_s", len(rows) / sum(o.dur for o in passes), "1/s")
        put("pass_cpu_s", med([o.info["cpu_s"] for o in passes]), "s")
        timing("row", [o.dur for o in rows])
    else:
        put("queries_per_s", len(queries) / wall, "1/s")
        timing("query", queries)
        batches = [o for o in timed if o.kind == "batch"]
        pts = sum(b.info["points"] for b in batches)
        ms = sum(b.info["merge_s"] for b in batches)
        put("ingest_points_per_s", pts / ms if ms else None, "1/s")
        put("batch_p50_s", med([b.dur for b in batches]), "s")
        put("batch_cpu_p50_s", med([b.info["cpu_s"] for b in batches]), "s")
        vis = [b.info["visible_s"] for b in batches if b.info.get("visible_s") is not None]
        out["visible_p50_s"] = {"value": med(vis), "unit": "s", "visible_batches": len(vis),
                                "batches": len(batches)}
    # a round is a pass or a landed batch
    rounds = [o for o in timed if o.kind in ("pass", "batch")]
    put("round_wall_s", med([unstolen(o) for o in rounds]), "s")
    # share of the host's cores the process tree kept busy in a round
    put("core_use", med([o.info["cpu_s"] / (unstolen(o) * nproc) for o in rounds]), "ratio")
    checked = [o for o in ops if o.kind in ("query", "row", "batch", "ladder")]
    failed = [o for o in checked if o.ok is False]
    put("failed_share", len(failed) / max(1, len(checked)), "ratio")
    return out


def headline(name: str, m: dict, setup_s: float) -> dict:
    """The end-to-end metrics every workload reports, from its own."""
    cpu = {
        "pipeline_suite": "pass_cpu_s",
        "ingest_serve": "batch_cpu_p50_s",
    }[name]
    vals = {
        "setup_s": setup_s,
        "round_cpu_s": m[cpu]["value"] if cpu in m else None,
        "core_use": m["core_use"]["value"],
    }
    return {k: {"value": v, "unit": E2E[k]} for k, v in vals.items() if v is not None}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt", type=int, choices=(0, 1), default=0,
        help="self-test: corrupt one result of the workload before checking",
    )
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not engine_present(root):
        print(
            "perfbench: run from the root of a dqe_spark checkout "
            "(dqe_spark/ and scripts/sweep_sf1.py not found)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, str(root))
    work_root = HERE / ".work"
    run_id = f"pb_{args.workload[:4]}_s{args.seed}_t{args.trace}_{os.getpid()}"
    work = work_root / "runs" / run_id
    work.mkdir(parents=True)
    results = work_root / "results"
    results.mkdir(parents=True, exist_ok=True)

    tables = datagen.ensure_tables(work_root / "data", args.seed)
    n = harness.nproc()
    harness.isolate(root, work, n)
    load0 = harness.loadavg()

    from spans import Tracer, install

    tracer = Tracer(enabled=bool(args.trace))
    if args.trace:
        # keep every job and stage of the run in the status store
        from pyspark.sql import SparkSession

        SparkSession.builder.config("spark.ui.retainedJobs", "100000")
        SparkSession.builder.config("spark.ui.retainedStages", "100000")
        install(tracer)
    ctx = Ctx(None, work, tables, args.seed, n, tracer, corrupt=bool(args.corrupt))
    wl = workload(args.workload, ctx)
    sf = harness.dataset(work, tables, run_id)
    ctx.datasets.append(run_id)
    if hasattr(wl, "prepare"):
        wl.prepare(sf)
    wl.sf = str(sf)

    from dqe_spark.sources.store import STORE_ROOT

    rec: dict = {"workload": args.workload, "seed": args.seed,
                 "seconds": args.seconds, "trace": args.trace}
    t_start = time.perf_counter()
    phases: dict = {}
    try:
        setup_s, setup_wall = setup(ctx, wl, sf)
        t = time.perf_counter()
        warm = wl.warmup()
        phases["warmup_s"] = time.perf_counter() - t
        ctl0 = control(ctx, sf)
        cpu0 = harness.cpu_times()
        deadline = harness.Deadline(args.seconds)
        with harness.RssSampler() as rss:
            with tracer.span("timed", "workload", op=True):
                ops = wl.run(deadline)
            wall = deadline.elapsed()
        steal = harness.steal_share(cpu0, harness.cpu_times())
        ops = warm + ops
        ctl1 = control(ctx, sf)
        tracer.harvest()
        store_bytes = sum(
            f.stat().st_size for f in (STORE_ROOT / run_id).rglob("*") if f.is_file()
        )
        t = time.perf_counter()
        wl.check(ops)
        wl.close()
        phases["check_s"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        try:
            stop_spark(ctx)
        finally:
            harness.drop_stores(STORE_ROOT, ctx.datasets)
            shutil.rmtree(work, ignore_errors=True)
        phases["stop_s"] = time.perf_counter() - t
    phases["run_s"] = time.perf_counter() - t_start

    m = summarize(args.workload, ops, wall, n)
    checked = [o for o in ops if o.kind in ("query", "row", "batch", "ladder")]
    failed = [o for o in checked if o.ok is False]
    unexpected = [o for o in failed if not o.known]
    rec.update({
        "setup_s": {"value": setup_s, "unit": "s", "clock": "cpu"},
        "setup_wall_s": {"value": setup_wall, "unit": "s"},
        "peak_rss_mb": {"value": rss.peak, "unit": "MB"},
        "timed_wall_s": wall,
        "phases": phases,
        "metrics": m,
        "attempted": len(checked),
        "failed": len(failed),
        "failures": [
            {"kind": o.kind, "name": o.name, "cause": o.cause, "known": o.known}
            for o in failed
        ],
        "host": {
            "nproc": n, "loadavg_before": load0, "loadavg_after": harness.loadavg(),
            "control_get_points_s": [ctl0, ctl1],
            "cpu_steal_share_timed": steal,
        },
        "notes": ctx.notes,
        # kind, name, wall, warm-up, and for a round its CPU seconds
        "ops": [
            [o.kind, o.name, round(o.dur, 4), bool(o.info.get("warmup")),
             o.info.get("cpu_s")]
            for o in ops if o.kind != "ladder"
        ],
    })
    if args.trace:
        from layers import PER_LAYER, per_layer, write_trace

        metrics = per_layer(tracer, ops, n, store_bytes)
        rec["trace_files"] = write_trace(
            tracer, metrics, results, args.workload, args.seed, rec
        )
        wanted = PER_LAYER
    else:
        metrics = headline(args.workload, m, setup_s)
        wanted = E2E
    tag = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    (results / f"{tag}.json").write_text(json.dumps(rec, indent=1, default=str))
    print(json.dumps(rec, default=str))
    missing = [k for k in wanted if k not in metrics]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": not unexpected,
        "attempted": len(checked),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
