"""Spans and per-layer accounting for the traced run.

The benchmark records spans from its own files only: ``install`` wraps
each layer's public functions (the DQL parser, ``engine.plan``, the
source readers, the rollup merges) in timing wrappers, and the
workloads open operation and phase spans around their own calls. The
program itself is not changed.

Every span gets a unique id that is also set as the Spark job group
of the calling thread while the span is open, so each Spark job is
attributed to the innermost span that fired it. After a phase of the
run, ``harvest`` reads the jobs of every span from Spark's status store
(job intervals, stage task time, GC, shuffle, spill, input bytes).

With tracing off, ``Tracer.span`` is a no-op and no wrapper is
installed, so the untraced run executes exactly the program's code.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

#: stage metrics summed per span (StageData getter → key)
STAGE_FIELDS = {
    "executorRunTime": "task_ms",
    "jvmGcTime": "gc_ms",
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}


class Span:
    __slots__ = (
        "sid", "op", "parent", "name", "layer", "t0", "t1", "attrs", "jobs",
        "stats",
    )

    def __init__(self, sid, op, parent, name, layer, attrs):
        self.sid = sid
        self.op = op
        self.parent = parent
        self.name = name
        self.layer = layer
        self.attrs = attrs
        self.t0 = time.time()
        self.t1 = None
        self.jobs = []  # [(job_id, submit_s, done_s)]
        self.stats = {}

    @property
    def dur(self) -> float:
        return (self.t1 or time.time()) - self.t0

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "op": self.op, "parent": self.parent,
            "name": self.name, "layer": self.layer,
            "t0": round(self.t0, 6), "t1": round(self.t1 or 0.0, 6),
            "attrs": self.attrs, "jobs": [j[0] for j in self.jobs],
            "stats": self.stats,
        }


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def bind(self, spark) -> None:
        self.spark = spark

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, sid: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(sid, sid, False)

    @contextmanager
    def span(self, name: str, layer: str, op: bool = False, **attrs):
        """Open a span; ``op=True`` starts a new operation (a query, a
        suite row, a landed batch) whose phase spans share its id. A
        no-op when tracing is off."""
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        n = next(self._ids)
        sid = f"pb{n}"
        op_id = sid if (op or parent is None) else parent.op
        sp = Span(sid, op_id, parent.sid if parent else None, name, layer, attrs)
        with self._lock:
            self.spans.append(sp)
        st.append(sp)
        self._set_group(sid)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            st.pop()
            self._set_group(st[-1].sid if st else None)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        traced.__perfbench_wrapped__ = fn
        return traced

    # ------------------------------------------------------------ harvest
    def harvest(self) -> None:
        """Attach Spark jobs and stage metrics to every finished span;
        called once, after the timed phase. Waits for the listener bus
        first so the status store has seen the jobs' completion."""
        if not self.enabled or self.spark is None:
            return
        from py4j.protocol import Py4JError

        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JError:  # not reachable on this Spark build: give it time
            time.sleep(0.5)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        empty_q = sc._gateway.new_array(sc._jvm.double, 0)
        for sp in [s for s in self.spans if s.t1 is not None]:
            seen_stages = set()
            stats: dict = {}
            for jid in tracker.getJobIdsForGroup(sp.sid):
                jd = store.job(jid)
                sub = jd.submissionTime()
                fin = jd.completionTime()
                t_sub = sub.get().getTime() / 1000.0 if sub.isDefined() else sp.t0
                t_fin = fin.get().getTime() / 1000.0 if fin.isDefined() else sp.t1
                sp.jobs.append((int(jid), t_sub, t_fin))
                ids = jd.stageIds().mkString(",")
                for s in (int(x) for x in ids.split(",") if x):
                    if s in seen_stages:
                        continue
                    seen_stages.add(s)
                    for sd in _seq(store.stageData(
                        s, False, sc._jvm.java.util.ArrayList(), False, empty_q
                    )):
                        if str(sd.status()) == "SKIPPED":
                            continue
                        stats["stages"] = stats.get("stages", 0) + 1
                        for getter, key in STAGE_FIELDS.items():
                            stats[key] = stats.get(key, 0) + int(getattr(sd, getter)())
            stats["jobs"] = len(sp.jobs)
            sp.stats = stats


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


# --------------------------------------------------------------- install
def install(tracer: Tracer) -> None:
    """Wrap the public functions of the traced layers (module
    attributes and the names ``engine`` imported directly)."""
    from dqe_spark import engine
    from dqe_spark.dql import parser
    from dqe_spark.sources import metric_store, rollup, store

    def patch(mod, attr, name, layer):
        fn = getattr(mod, attr)
        if getattr(fn, "__perfbench_wrapped__", None) is None:
            setattr(mod, attr, tracer.wrap(fn, name, layer))
        return getattr(mod, attr)

    engine.parse = patch(parser, "parse", "dql.parse", "language")
    patch(engine, "plan", "engine.plan", "facade")
    engine.load_metrics = patch(
        metric_store, "load_metrics", "sources.load_metrics", "sources"
    )
    engine.load_events = patch(
        metric_store, "load_events", "sources.load_events", "sources"
    )
    for attr in ("load", "load_events_store", "load_bucketed"):
        patch(store, attr, f"sources.store.{attr}", "sources")
    for attr in sorted(vars(rollup)):
        if attr.startswith("load_") and callable(getattr(rollup, attr)):
            patch(rollup, attr, f"sources.rollup.{attr}", "sources")
    patch(rollup, "cascade_rollup", "sources.rollup.cascade_rollup", "sources")
    for attr in MERGES:
        patch(rollup, attr, f"merge.{attr}", "merge")

    orig = engine._collect_traced

    def collect_phases(spark, dql, results, *rest):
        # Catalyst planning as its own phase: the executed plan is a
        # lazy member of each result's QueryExecution, so the collect
        # below reuses it instead of planning again.
        with tracer.span("spark.plan", "catalyst"):
            for r in results:
                r.df._jdf.queryExecution().executedPlan()
        with tracer.span("exec", "exec"):
            return orig(spark, dql, results, *rest)

    if getattr(orig, "__perfbench_wrapped__", None) is None:
        collect_phases.__perfbench_wrapped__ = orig
        engine._collect_traced = collect_phases


#: the five ladder merges the ingest workload calls, in call order
MERGES = (
    "merge_rollup_increment",
    "merge_hist_increment",
    "merge_tagged_increment",
    "merge_cms_increment",
    "merge_portable_distinct_increment",
)


# ------------------------------------------------------------- summaries
def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id → self time: its duration minus the part of it that its
    child spans cover (a nested operation, such as a batch's served
    query, covers its parent too)."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union(
            [(max(c.t0, s.t0), min(c.t1, s.t1)) for c in kids.get(s.sid, [])]
        )
        out[s.sid] = s.dur - covered
    return out


def _union(iv: list[tuple[float, float]]) -> float:
    tot, end = 0.0, None
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if end is None or a > end:
            tot += b - a
            end = b
        elif b > end:
            tot += b - end
            end = b
    return tot


def descendants(spans: list[Span]) -> dict[str, list[Span]]:
    """Span id → the span itself plus every span nested under it."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, list[Span]] = {}

    def walk(s):
        if s.sid in out:
            return out[s.sid]
        acc = [s]
        for c in kids.get(s.sid, []):
            acc.extend(walk(c))
        out[s.sid] = acc
        return acc

    for s in spans:
        walk(s)
    return out


def job_stats(group: list[Span]) -> dict:
    acc: dict = {}
    for s in group:
        for k, v in s.stats.items():
            acc[k] = acc.get(k, 0) + v
    return acc


def nojob_time(op: Span, group: list[Span]) -> float:
    """Part of an operation's wall in which none of its Spark jobs ran:
    Python, py4j and driver-side work outside any job."""
    iv = [
        (max(a, op.t0), min(b, op.t1))
        for s in group for (_j, a, b) in s.jobs
    ]
    return op.dur - _union(iv)
