"""Per-layer metrics of a traced run, and the files it leaves.

Time metrics (``_s``) are summed wall seconds of the layer's calls
during the workload's timed phase (set-up metrics: during set-up).
Nested calls into another traced layer are included in the caller's
time; ``_jobs``, ``_task_s`` and the ``exec.*`` counters count only the
Spark jobs fired directly in the layer, not in a nested traced call.
"""

from __future__ import annotations

import json
from pathlib import Path

from builders import BUILD
from spans import MERGES, descendants, job_stats, nojob_time, self_times

FAMILIES = ("dedup", "similarity", "text", "anomaly", "multimodal", "window", "join")

#: per-layer metric → unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "dql.parse_s": "s",
    "engine.plan_s": "s",
    "engine.plan_jobs": "count",
    "engine.plan_task_s": "s",
    "sources.load_s": "s",
    "sources.load_calls": "count",
    "sources.load_jobs": "count",
    "ingest.first_query_after_merge_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "build.task_s": "s",
    "spark.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.input_bytes": "B",
    "exec.failed_tasks": "count",
    "exec.core_busy": "ratio",
    **{f"family.{f}.s": "s" for f in FAMILIES},
    "driver.nojob_s": "s",
    **{f"merge.{fn}_s": "s" for fn in MERGES},
    "merge.jobs": "count",
    "merge.bytes_written": "B",
    "merge.write_amp": "ratio",
    "store.bytes": "B",
    "setup.session_s": "s",
    **{f"setup.{b}_s": "s" for b in BUILD},
    "setup.jobs": "count",
    "timed.ops": "count",
}


def per_layer(tracer, ops, nproc: int, store_bytes: int) -> dict:
    spans = [s for s in tracer.spans if s.t1 is not None]
    by_id = {s.sid: s for s in spans}
    win = [s for s in spans if s.name == "timed"][0]
    # the timed phase: spans opened inside its window (panel spans run on
    # pool threads, outside the timed span's own stack)
    timed = [s for s in spans if s is not win and win.t0 <= s.t0 <= win.t1]
    v = dict.fromkeys(PER_LAYER, 0.0)
    timed_ops = [o for o in ops if not o.info.get("warmup")]
    v["dql.parse_s"] = sum(s.dur for s in timed if s.name == "dql.parse")
    plan = [s for s in timed if s.name == "engine.plan"]
    v["engine.plan_s"] = sum(s.dur for s in plan)
    st = job_stats(plan)
    v["engine.plan_jobs"] = st.get("jobs", 0)
    v["engine.plan_task_s"] = st.get("task_ms", 0) / 1000.0
    src = [s for s in timed if s.layer == "sources"]
    top_src = [s for s in src if by_id.get(s.parent) is None
               or by_id[s.parent].layer != "sources"]
    v["sources.load_s"] = sum(s.dur for s in top_src)
    v["sources.load_calls"] = len(top_src)
    v["sources.load_jobs"] = job_stats(src).get("jobs", 0)
    build = [s for s in timed if s.layer == "build"]
    v["build.s"] = sum(s.dur for s in build)
    st = job_stats(build)
    v["build.jobs"] = st.get("jobs", 0)
    v["build.task_s"] = st.get("task_ms", 0) / 1000.0
    v["spark.plan_s"] = sum(s.dur for s in timed if s.layer == "catalyst")
    ex = [s for s in timed if s.layer == "exec"]
    v["exec.s"] = sum(s.dur for s in ex)
    st = job_stats(ex)
    v["exec.jobs"] = st.get("jobs", 0)
    v["exec.stages"] = st.get("stages", 0)
    v["exec.tasks"] = st.get("tasks", 0)
    v["exec.task_s"] = st.get("task_ms", 0) / 1000.0
    v["exec.gc_s"] = st.get("gc_ms", 0) / 1000.0
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "input_bytes", "failed_tasks"):
        v[f"exec.{k}"] = st.get(k, 0)
    if v["exec.s"]:
        v["exec.core_busy"] = v["exec.task_s"] / (v["exec.s"] * nproc)
    for s in ex:
        fam = s.attrs.get("family")
        if fam:
            v[f"family.{fam}.s"] += s.dur
    desc = descendants(spans)
    op_names = ("query", "row", "batch")
    op_spans = [s for s in timed if s.name in op_names]
    # an operation nested in another (a batch's served panels) is
    # already inside its parent's wall
    top_ops = [o for o in op_spans if not _under(o, by_id, op_names)]
    v["driver.nojob_s"] = sum(nojob_time(o, desc[o.sid]) for o in top_ops)
    merges = [s for s in timed if s.layer == "merge"]
    for fn in MERGES:
        v[f"merge.{fn}_s"] = sum(s.dur for s in merges if s.name == f"merge.{fn}")
    v["merge.jobs"] = job_stats(merges).get("jobs", 0)
    batches = [o for o in timed_ops if o.kind == "batch"]
    written = sum(b.info.get("bytes_written", 0) for b in batches)
    landed = sum(b.info.get("landed_bytes", 0) for b in batches)
    v["merge.bytes_written"] = written
    v["merge.write_amp"] = written / landed if landed else 0.0
    v["store.bytes"] = store_bytes
    firsts = {}
    for q in timed_ops:
        if q.kind == "query" and "batch" in q.info:
            b = q.info["batch"]
            if b not in firsts or q.t0 < firsts[b].t0:
                firsts[b] = q
    v["ingest.first_query_after_merge_s"] = sum(q.dur for q in firsts.values())
    setup = [s for s in spans if s.layer == "setup"]
    for s in setup:
        if s.name == "setup.session":
            v["setup.session_s"] = s.dur
        elif s.name.startswith("setup.") and f"{s.name}_s" in v:
            v[f"{s.name}_s"] = s.dur
    v["setup.jobs"] = job_stats(setup).get("jobs", 0)
    v["timed.ops"] = len(op_spans)
    return {k: {"value": x, "unit": PER_LAYER[k]} for k, x in v.items()}


def _under(s, by_id, names) -> bool:
    p = by_id.get(s.parent)
    while p is not None:
        if p.name in names:
            return True
        p = by_id.get(p.parent)
    return False


def additivity(tracer) -> dict:
    """Per operation (query, row, batch): the self times of its spans,
    plus the walls of the operations nested in it, must add up to the
    operation span's duration."""
    spans = [s for s in tracer.spans if s.t1 is not None]
    st = self_times(spans)
    worst, n = 0.0, 0
    for o in spans:
        if o.name not in ("query", "row", "batch"):
            continue
        mine = [s for s in spans if s.op == o.sid]
        ids = {s.sid for s in mine}
        nested = sum(s.dur for s in spans if s.op != o.sid and s.parent in ids)
        worst = max(worst, abs(sum(st[s.sid] for s in mine) + nested - o.dur))
        n += 1
    return {"ops": n, "max_abs_gap_s": worst}


def per_op(tracer) -> dict:
    """Mean self time per layer, per operation kind (``nested_ops``:
    the wall of operations run inside it, such as a batch's queries)."""
    spans = [s for s in tracer.spans if s.t1 is not None]
    st = self_times(spans)
    by_id = {s.sid: s for s in spans}
    ops = {s.sid: s for s in spans if s.name in ("query", "row", "batch")}
    acc = {o.name: {"ops": 0, "self_s": {}} for o in ops.values()}
    for s in spans:
        o = ops.get(s.op)
        if o is None:
            continue
        self_s = acc[o.name]["self_s"]
        key = "op.self" if s is o else s.layer
        self_s[key] = self_s.get(key, 0.0) + st[s.sid]
        outer = ops.get(by_id[s.parent].op) if s is o and s.parent in by_id else None
        if outer is not None:
            nested = acc[outer.name]["self_s"]
            nested["nested_ops"] = nested.get("nested_ops", 0.0) + s.dur
    for o in ops.values():
        acc[o.name]["ops"] += 1
    for d in acc.values():
        d["self_s"] = {k: x / d["ops"] for k, x in d["self_s"].items()}
    return acc


def write_trace(tracer, layer: dict, out: Path, workload: str, seed: int,
                rec: dict) -> dict:
    """Span file (one JSON span per line) and per-layer summary. The
    summary states the tracing overhead against the untraced record of
    the same workload and seed, when one exists."""
    tag = f"{workload}_seed{seed}"
    spans_path = out / f"{tag}_spans.jsonl"
    with spans_path.open("w") as f:
        for s in tracer.spans:
            f.write(json.dumps(s.as_dict(), default=str) + "\n")
    overhead = None
    untraced = out / f"{tag}_trace0.json"
    if untraced.exists():
        u = json.loads(untraced.read_text())
        overhead = _overhead(u, rec)
    summary = {
        "workload": workload, "seed": seed,
        "per_layer": layer,
        "per_op_mean_self_s": per_op(tracer),
        "self_time_additivity": additivity(tracer),
        "tracing_overhead": overhead,
    }
    sum_path = out / f"{tag}_layers.json"
    sum_path.write_text(json.dumps(summary, indent=1, default=str))
    return {"spans": spans_path.name, "summary": sum_path.name,
            "tracing_overhead": overhead}


def _overhead(untraced: dict, traced: dict) -> dict:
    """Traced minus untraced, per workload metric (same seed)."""
    out = {}
    for k, u in untraced.get("metrics", {}).items():
        t = traced.get("metrics", {}).get(k)
        if t is not None and isinstance(u.get("value"), (int, float)):
            out[k] = {"untraced": u["value"], "traced": t["value"],
                      "traced_minus_untraced": t["value"] - u["value"]}
    return out
