"""Engine facade: run DQL query strings against the metric store.

    from dqe_spark import engine
    results = engine.plan(spark, "SELECT avg('events'.'click' BUCKET 'events', 1m) LAST 30m",
                          sf_dir="data/sf0.001", now_ms=...)

Each result is a Result(name, kind, df, resolution_ms); df is a lazy
DataFrame — callers collect/write it (the reference's dqe:run returns
materialized replies, src/dqe.erl:158-267; here materialization is the
caller's choice, which is what makes 100 TB outputs writable).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from dqe_spark.dql.compiler import Compiler, PlanError, Result  # noqa: F401
from dqe_spark.dql.parser import parse
from dqe_spark.sources.metric_store import (
    BUCKET_RESOLUTION_MS,
    load_events,
    load_metrics,
)
from dqe_spark.sources.store import _LOAD_MEMO


#: the store load memo under its old name, read by the perfbench
#: ingest workload; loaded stores have exactly one memo,
#: store._LOAD_MEMO (store.session_load_memo)
_STORE_MEMO = _LOAD_MEMO


def _rollup_stores(spark: SparkSession, sf_dir: str):
    """The rollup ladder levels the compiler may rewrite onto, by ladder
    name and resolution. Each loader is memoized per session by
    store.session_load_memo, and every store write drops the memo, so a
    warm plan re-lists nothing and a plan after a merge reads the merged
    files. A missing 1h level is cascaded from the 1m level by its
    loader."""
    from dqe_spark.sources.rollup import (
        load_hist_rollup,
        load_rollup,
        load_tagged_hist_rollup,
        load_tagged_rollup,
    )

    return {
        "rollup": {
            60_000: load_rollup(spark, sf_dir, 60_000),
            3_600_000: load_rollup(spark, sf_dir, 3_600_000),
        },
        "hist": {60_000: load_hist_rollup(spark, sf_dir, 60_000)},
        "tagged": {
            60_000: load_tagged_rollup(spark, sf_dir, 60_000),
            3_600_000: load_tagged_rollup(spark, sf_dir, 3_600_000),
        },
        "tagged_hist": {60_000: load_tagged_hist_rollup(spark, sf_dir, 60_000)},
    }


def plan(
    spark: SparkSession,
    dql: str,
    sf_dir: str,
    now_ms: int | None = None,
    use_rollups: bool = False,
    dense: bool = False,
) -> list[Result]:
    """Parse + compile; returns lazy per-statement results.

    use_rollups=True loads the rollup ladder levels (building any that
    are missing), letting the compiler rewrite eligible distributive
    and quantile window aggregates to read pre-aggregated partials
    instead of raw points."""
    ast = parse(dql)
    comp = Compiler(
        metrics=load_metrics(spark, sf_dir),
        events=load_events(spark, sf_dir),
        resolutions=BUCKET_RESOLUTION_MS,
        now_ms=now_ms,
        rollups=_rollup_stores(spark, sf_dir) if use_rollups else None,
        dense=dense,
        sf_dir=sf_dir,
    )
    return comp.compile(ast)


def explain(
    spark: SparkSession,
    dql: str,
    sf_dir: str,
    now_ms: int | None = None,
    use_rollups: bool = False,
    mode: str = "formatted",
) -> dict[str, str]:
    """Plan without executing — the reference's dqe:prepare dry-run
    surface (src/dqe.erl:330-350) with Spark's plan as the artifact.
    Returns {statement name: physical plan text}."""
    from dqe_spark.plans.debug import explain_string

    return {
        r.name: explain_string(r.df, mode)
        for r in plan(spark, dql, sf_dir, now_ms, use_rollups)
    }


class NoResults(Exception):
    """Raised by collect() when every statement returns zero rows —
    the funnel's `no_results` (src/dqe_funnel.erl:30-35)."""


class GlobNotFound(Exception):
    """A glob selector matched no series (src/dqe.erl:133-135 —
    plan-time expansion there; detected at collect here since globs
    stay Column filters). args[0] is the reference-formatted glob."""


class QueryTimeout(Exception):
    """Query exceeded the caller's timeout (reference default is
    infinity, src/dqe.erl:161-162,191); outstanding Spark jobs are
    cancelled via the query's job group."""


def error_string(err: Exception) -> str:
    """Readable message for a query error, phrased as the reference
    does (src/dqe.erl:129-150)."""
    code = getattr(err, "code", None)
    info = getattr(err, "args_info", ())
    if code == "not_found_var":
        return f"Variable '{info[0]}' referenced but not defined!"
    if code == "not_found_fun":
        # reference joins the unresolved signature's argument types
        # (src/dqe.erl:136-138): "Not recognized function f(metric, time)."
        if isinstance(info[1], (tuple, list)):
            return f"Not recognized function {info[0]}({', '.join(info[1])})."
        return f"Not recognized function {info[0]}/{info[1]}."
    if code == "resolution_conflict":
        return "Combination functions can't have mix resolutions as children."
    if isinstance(err, GlobNotFound):
        return f"No series matches {err.args[0]}!"
    if isinstance(err, NoResults):
        return "No results were returned for the query."
    if isinstance(err, QueryTimeout):
        return "timeout"
    return str(err)


#: slow-query threshold, matching the reference's dqe.debug.max_time
#: default (priv/dqe.schema:18-21)
DEBUG_SLOW_MS = 5000


def _debug_artifact(results: list[Result], dql: str, elapsed_ms: int):
    """Write a post-mortem artifact for a slow (or force-debugged)
    query: the query text + every statement's formatted physical plan —
    the engine's analogue of the reference's dot-graph + log dump into
    the debug folder (src/dqe.erl:282-322)."""
    import time as _t
    import uuid

    from dqe_spark.plans.debug import explain_string
    from dqe_spark.sources.store import STORE_ROOT

    d = STORE_ROOT / "debug"
    d.mkdir(parents=True, exist_ok=True)
    f = d / f"{int(_t.time())}-{uuid.uuid4().hex[:8]}.log"
    parts = [f"## query [{elapsed_ms}ms]: {dql}\n"]
    for r in results:
        parts.append(f"\n## statement: {r.name}\n")
        try:
            parts.append(explain_string(r.df))
        except Exception as e:  # never let debugging mask the result
            parts.append(f"<explain failed: {e}>\n")
    f.write_text("".join(parts))
    return f


def collect(
    spark: SparkSession,
    dql: str,
    sf_dir: str,
    now_ms: int | None = None,
    timeout_s: float | None = None,
    use_rollups: bool = False,
    debug: bool = False,
    slow_ms: int | None = DEBUG_SLOW_MS,
    trace_id: str | None = None,
) -> list[tuple[Result, list]]:
    """Materialize every statement — the reference's dqe:run/2 shape:
    plan, execute, funnel, with an optional query timeout and the
    `no_results` check. Returns [(Result, rows)].

    The timeout runs the collects in a worker thread under a dedicated
    job group; on expiry the group's Spark jobs are cancelled
    driver-side before raising, so no executor work leaks.

    debug=True always writes a plan artifact; otherwise one is written
    when the query runs longer than slow_ms (reference behavior:
    src/dqe.erl:288-305; slow_ms=None disables).

    trace_id opens a query span (plans/span.py — the reference's
    dqe_span surface, src/dqe.erl:181-230: tag the query text and
    statement count, log the same preparation/execution milestones)
    and tags it with ``codegen_compiles``, the classes Spark generated
    for this query's plan and collect (0 when every one was cached);
    None keeps tracing a strict no-op, as in the reference."""
    import time as _time_mod

    from dqe_spark.plans import span as _span

    t0 = _time_mod.monotonic()
    _span.start("query", trace_id)
    _span.tag("query", dql)
    compiles0 = None if trace_id is None else codegen_compiles(spark)
    try:
        results = plan(spark, dql, sf_dir, now_ms, use_rollups)
        _span.tag("parts", len(results))
        # the reference logs this milestone verbatim (sic,
        # src/dqe.erl:202 — kept identical for artifact parity)
        _span.log("preperation done")
        return _collect_traced(
            spark, dql, results, t0, timeout_s, debug, slow_ms, _span,
            _time_mod,
        )
    finally:
        if compiles0 is not None:
            _span.tag("codegen_compiles", codegen_compiles(spark) - compiles0)
        _span.stop()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far
    (each a miss of its generated-class cache)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _collect_traced(
    spark, dql, results, t0, timeout_s, debug, slow_ms, _span, _time_mod
) -> list[tuple[Result, list]]:
    if timeout_s is None:
        out = [(r, r.df.collect()) for r in results]
    else:
        import threading
        import uuid

        group = f"dqe-{uuid.uuid4().hex[:12]}"
        box: dict = {}

        def work():
            try:
                spark.sparkContext.setJobGroup(group, dql[:200], True)
                box["rows"] = [(r, r.df.collect()) for r in results]
            except Exception as e:  # surfaced after join
                box["err"] = e

        t = threading.Thread(target=work, daemon=True)
        t.start()
        t.join(timeout_s)
        if t.is_alive():
            spark.sparkContext.cancelJobGroup(group)
            raise QueryTimeout(f"query exceeded {timeout_s}s")
        if "err" in box:
            raise box["err"]
        out = box["rows"]
    _span.log("query done")  # src/dqe.erl:230
    elapsed_ms = int((_time_mod.monotonic() - t0) * 1000)
    _span.tag("elapsed_ms", elapsed_ms)
    if debug or (slow_ms is not None and elapsed_ms > slow_ms):
        _debug_artifact(results, dql, elapsed_ms)
    for r, rows in out:
        if r.globs and len(rows) == 0:
            raise GlobNotFound(r.globs[0])
    if all(len(rows) == 0 for _, rows in out):
        _span.tag("result", "no metrics")  # src/dqe.erl:196
        raise NoResults()
    return out
