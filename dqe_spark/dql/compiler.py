"""DQL AST → Spark DataFrame compiler.

Collapses the reference's plan stages 4-13 (SURVEY.md §3) into one
walk: typed overload dispatch (src/dql_resolver.erl:65-112), flattening
(chains apply in order), time-range computation
(src/dql_resolution.erl:236-292), resolution propagation
(src/dql_resolution.erl:142-158), naming (src/dql_naming.erl:18-48),
and emission of declarative DataFrame plans that Catalyst optimizes.

A compiled statement is a SeriesFrame: a long-format DataFrame plus the
series-identity key columns, the current output resolution, and naming
state. Every operator is a pure DataFrame→DataFrame function; nothing
collects to the driver.
"""

from __future__ import annotations

import re
import time as _time
from dataclasses import dataclass, replace
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dqe_spark.dql import ast as A
from dqe_spark.operators import combinators as C
from dqe_spark.operators import timeshift as TS
from dqe_spark.operators import transforms as T
from dqe_spark.operators import windows as W


class PlanError(ValueError):
    """Mirrors the reference's unified error strings (src/dqe.erl:129-150).

    ``code``/``args`` carry the structured error for
    ``engine.error_string`` to render in the reference's phrasing;
    plain messages keep working for errors without a reference analogue.
    """

    def __init__(self, message: str, code: str | None = None, *args):
        super().__init__(message)
        self.code = code
        self.args_info = args


@dataclass
class SeriesFrame:
    df: DataFrame  # columns: keys..., ts_ms, value, confidence [, metric_parts, tags]
    keys: tuple[str, ...]  # series-identity columns
    res_ms: int  # current output resolution (ms per point)
    label: str  # auto-generated name (unparse of the AST)
    has_dims: bool = True  # metric_parts/tags still present (pre-combine)
    hist_window_ms: int | None = None  # set by histogram(): frames of rounded values
    # rollup-rewrite state: set by metric-pred-only terminals, cleared
    # by every transform — a windowed distributive aggregate directly
    # over such a frame may be answered from a rollup store instead
    pristine: bool = False
    scan_bucket: str | None = None
    scan_pred: Column | None = None  # metric predicate (portable F.col expr)
    scan_range: tuple[int, int] | None = None
    # tag WHERE over TAGGED_DIMS only (plain-column predicate portable
    # to the tagged rollup's partials); None when absent or non-dim
    scan_tag_pred: Column | None = None
    # SHIFT BY offset: scan_range is the SHIFTED storage range; ts_ms
    # in df is restamped forward by this. A rollup rewrite scans
    # partials over scan_range and restamps — valid when the shift is
    # a multiple of the rollup resolution.
    shift_ms: int = 0
    # True when the frame may hold >1 series (glob / ALL lookup):
    # ordered fold combinators reject such inputs at plan time
    maybe_multi: bool = False


@dataclass
class EventsFrame:
    df: DataFrame
    label: str


@dataclass
class Result:
    name: str
    kind: str  # "metrics" | "events"
    df: DataFrame  # (name, keys..., ts_ms, value) or event rows
    resolution_ms: int | None = None
    # glob selectors feeding this statement (reference formatting,
    # src/dqe_lib.erl:51-58); lets the engine raise the reference's
    # "No series matches <glob>!" when a glob matched nothing
    # (src/dqe.erl:133-135) — plan-time there, collect-time here
    globs: tuple[str, ...] = ()


# ---------------------------------------------------------------------------
# time-range evaluation (src/dql_resolution.erl:236-292)
# ---------------------------------------------------------------------------


def _pit_ms(p, now_ms: int) -> int:
    if isinstance(p, A.Now):
        return now_ms
    if isinstance(p, A.Ago):
        return now_ms - _dur_ms(p.t)
    if isinstance(p, A.DateLit):
        return _date_lit_ms(p.text)
    if isinstance(p, int):
        return p
    raise PlanError(f"bad point-in-time: {p!r}")


#: strptime fallbacks beyond ISO-8601, toward the breadth of the
#: reference's qdate date parsing (src/dql_parser.yrl:319 — qdate
#: wraps ec_date, which accepts slashed dates, US month/day order,
#: and spelled-out month names). Timezone-less forms are UTC.
_DATE_FMTS = (
    "%Y/%m/%d %H:%M:%S", "%Y/%m/%d %H:%M", "%Y/%m/%d",
    "%m/%d/%Y %H:%M:%S", "%m/%d/%Y %H:%M", "%m/%d/%Y",
    "%d %b %Y", "%d %B %Y", "%b %d %Y", "%B %d %Y",
    "%b %d, %Y", "%B %d, %Y",
)


def _date_lit_ms(text: str) -> int:
    """Date literal → epoch ms. ISO-8601 first (incl. 'T' separator,
    fractional seconds, 'Z'/±HH:MM offsets — datetime.fromisoformat),
    then the qdate-ish fallbacks above."""
    txt = text.strip()
    try:
        dt = datetime.fromisoformat(txt.replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1000)
    except ValueError:
        pass
    for fmt in _DATE_FMTS:
        try:
            dt = datetime.strptime(txt, fmt).replace(tzinfo=timezone.utc)
            return int(dt.timestamp() * 1000)
        except ValueError:
            continue
    raise PlanError(f"unparseable date: {text!r}")


def _dur_ms(t) -> int:
    if isinstance(t, A.TimeUnit):
        return t.ms
    if isinstance(t, int):
        return t  # bare integers are ms
    raise PlanError(f"bad duration: {t!r}")


def timeframe_range(tf, now_ms: int) -> tuple[int, int]:
    """→ absolute [start, end) in epoch ms."""
    if isinstance(tf, A.Last):
        return now_ms - _dur_ms(tf.t), now_ms
    if isinstance(tf, A.Between):
        a, b = _pit_ms(tf.a, now_ms), _pit_ms(tf.b, now_ms)
        return (a, b) if a <= b else (b, a)
    if isinstance(tf, A.After):
        p = _pit_ms(tf.pit, now_ms)
        return p, p + _dur_ms(tf.dur)
    if isinstance(tf, A.Before):
        p = _pit_ms(tf.pit, now_ms)
        return p - _dur_ms(tf.dur), p
    raise PlanError(f"bad timeframe: {tf!r}")


# ---------------------------------------------------------------------------
# unparse (auto-naming, src/dql_unparse.erl:4-104)
# ---------------------------------------------------------------------------


def unparse(node) -> str:
    if isinstance(node, A.Get) or isinstance(node, A.SGet):
        path = ".".join(f"'{p}'" if p != "*" else "*" for p in node.parts)
        return f"{path} BUCKET '{node.bucket}'"
    if isinstance(node, A.Lookup):
        m = "ALL" if node.parts is None else ".".join(f"'{p}'" for p in node.parts)
        s = f"{m} FROM '{node.bucket}'"
        if node.where is not None:
            s += f" WHERE {_unparse_where(node.where)}"
        return s
    if isinstance(node, A.GroupBy):
        g = ", ".join(
            f"$'{t.ns}':'{t.key}'" if t.ns else f"$'{t.key}'" for t in node.groupings
        )
        return f"{unparse(node.lookup)} GROUP BY {g} USING {node.fun}"
    if isinstance(node, A.EventsFrom):
        return f"EVENTS FROM '{node.bucket}'"
    if isinstance(node, A.Timeshift):
        return f"{unparse(node.sel)} SHIFT BY {_unparse_t(node.t)}"
    if isinstance(node, A.FCall):
        args = ", ".join(
            _unparse_t(a) if isinstance(a, (A.TimeUnit, int, float)) else unparse(a)
            for a in node.inputs
        )
        return f"{node.name}({args})"
    if isinstance(node, A.Named):
        return unparse(node.child)
    if isinstance(node, A.Var):
        return node.name
    return str(node)


def _unparse_t(t) -> str:
    if isinstance(t, A.TimeUnit):
        return f"{t.n}{t.unit}"
    return str(t)


def _unparse_where(w) -> str:
    op = w[0]
    if op in ("and", "or"):
        return f"({_unparse_where(w[1])} {op.upper()} {_unparse_where(w[2])})"
    tag = w[1]
    t = f"'{tag.ns}':'{tag.key}'" if tag.ns else f"'{tag.key}'"
    if op == "exists":
        return t
    return f"{t} {op} '{w[2]}'"


# ---------------------------------------------------------------------------
# function registry — overloads by (name, arg-shape), mirroring
# dqe's registrations (src/dqe.erl:62-122)
# ---------------------------------------------------------------------------

AGGR_PLAIN = {
    "sum": W.agg_sum,
    "avg": W.agg_avg,
    "min": W.agg_min,
    "max": W.agg_max,
    "variance": W.agg_variance,
    "stddev": W.agg_stddev,
    "median": W.agg_median,
}
AGGR_THRESHOLD = {
    "count_above": W.agg_count_above,
    "count_below": W.agg_count_below,
    "first_above": W.agg_first_above,
    "first_below": W.agg_first_below,
    "last_above": W.agg_last_above,
    "last_below": W.agg_last_below,
}
TRANS_PLAIN = {"abs": T.t_abs, "sqrt_scale": T.t_sqrt_scale, "log10_scale": T.t_log10_scale}
ARITH = {"add": T.t_add, "sub": T.t_sub, "mul": T.t_mul, "divide": T.t_divide,
         "min": T.t_min, "max": T.t_max}
COMBINE = {"sum": C.comb_sum, "avg": C.comb_avg, "min": C.comb_min, "max": C.comb_max,
           "diff": C.comb_diff, "product": C.comb_product, "quotient": C.comb_quotient}
HIST_RED = {"max": W.agg_max, "min": W.agg_min, "mean": W.agg_avg,
            "median": W.agg_median, "stddev": W.agg_stddev}


def hdr_quantize(
    v: Column, htv: int, sig_figs: int, representative: str = "median"
) -> Column:
    """HDR-histogram value quantization as a Column expression
    (reference records int-rounded points into hdr_histogram:open(HTV,
    SF), src/dqe_hist.erl:43-57). HDR keeps unit resolution up to
    sub_bucket_count = 2^ceil(log2(2·10^sf)) and above that drops one
    bit of resolution per power-of-two bucket: a value v lands in the
    bucket starting at v − v mod 2^(floor(log2 v) − (sbc_mag − 1)).
    floor(log2 v) is computed as len(bin(v)) − 1 so exact powers of two
    never suffer float log drift; values above the highest trackable
    value saturate at htv first. Quantization is provably identity when
    every value < sub_bucket_count — the sig_figs=3 / values<1000 case
    the int-round model covered before.

    ``representative`` picks the value reported for a collapsed bucket:
    "median" (default) is HdrHistogram's medianEquivalentValue =
    lowest + range/2 — the value hdr's own mean/percentile/stddev
    readouts are computed from, so downstream reductions match a true
    HdrHistogram; "lowest" is the bucket's lowestEquivalentValue (the
    pre-round-4 behavior, kept for consumers that want bucket keys).
    Both are idempotent (the representative lies inside its bucket)."""
    import math

    sbc_mag = math.ceil(math.log2(2 * 10**sig_figs))
    half_mag = sbc_mag - 1
    v = F.least(v, F.lit(int(htv)).cast("long"))
    k = F.length(F.bin(v)) - F.lit(1)  # floor(log2(v)) for v > 0, exact
    quantum = F.pow(F.lit(2.0), (k - F.lit(half_mag)).cast("double")).cast("long")
    low = v - v % quantum
    if representative == "median":
        # quantum ≥ 2 in this branch (k ≥ sbc_mag > half_mag), so the
        # half-range 2^(k − half_mag − 1) is an exact positive long
        out = low + F.pow(
            F.lit(2.0), (k - F.lit(half_mag + 1)).cast("double")
        ).cast("long")
    elif representative == "lowest":
        out = low
    else:
        raise ValueError(f"representative must be median|lowest: {representative!r}")
    return F.when(v < F.lit(1 << sbc_mag), v).otherwise(out)


def arg_types(inputs, sub_type: str = "metric") -> tuple[str, ...]:
    """Reference-style argument type names for error messages
    (src/dqe.erl:136-138 joins the unresolved signature's types:
    "Not recognized function f(metric, integer)."). Series-valued
    nodes render as sub_type; constants by their literal class."""
    out = []
    for a in inputs:
        if isinstance(a, A.TimeUnit):
            out.append("time")
        elif isinstance(a, bool):
            out.append("integer")
        elif isinstance(a, int):
            out.append("integer")
        elif isinstance(a, float):
            out.append("float")
        elif isinstance(a, str):
            out.append("string")
        else:
            out.append(sub_type)
    return tuple(out)


def _dt_str(ms: int) -> str:
    """Epoch-ms → the UTC yyyy-MM-dd string of the date-partitioned
    stores' dt column (ISO strings compare correctly)."""
    from datetime import datetime, timezone

    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime("%Y-%m-%d")


def glob_to_regex(parts: tuple[str, ...]) -> str:
    segs = [("[^.]+" if p == "*" else re.escape(p)) for p in parts]
    return "^" + r"\.".join(segs) + "$"


# ---------------------------------------------------------------------------
# compiler
# ---------------------------------------------------------------------------


class Compiler:
    """Compiles one SELECT against a metric/event store.

    ``metrics`` must expose: bucket, metric, metric_parts, tags, host…,
    ts_ms, value, confidence. ``events`` (optional): bucket, ts_ms,
    payload + typed columns. ``resolutions`` maps bucket → ms/point.
    """

    def __init__(
        self,
        metrics: DataFrame,
        events: DataFrame | None = None,
        resolutions: dict[str, int] | None = None,
        now_ms: int | None = None,
        registry=None,
        rollups: dict[str, dict[int, DataFrame]] | None = None,
        cache_shared_scans: bool = False,
        dense: bool = False,
        sf_dir: str | None = None,
    ):
        from dqe_spark.functions.registry import default_registry

        self.metrics = metrics
        self.events = events
        # corpus root for document-store functions (bm25); None
        # disables them with a plan error rather than a crash
        self.sf_dir = sf_dir
        self.resolutions = resolutions or {}
        self.now_ms = now_ms if now_ms is not None else int(_time.time() * 1000)
        self.registry = registry if registry is not None else default_registry()
        # ladder name -> res_ms -> partials DataFrame (sources/rollup.py
        # LADDER: "rollup", "hist", "tagged", "tagged_hist"); when set,
        # eligible windowed aggregates are rewritten to read partials.
        # The tagged levels carry TAGGED_DIMS in the key, so scans whose
        # WHERE touches only those dims stay rollup-rewritable — the dim
        # predicate filters partials
        self.rollups = rollups or {}
        # duplicate-scan CSE (the reference's dflow `optimize` merges
        # duplicate gets, src/dqe.erl:204-225). Identical terminals in
        # one compile always share the same DataFrame object (Catalyst
        # canonicalization then reuses exchanges within a statement);
        # with cache_shared_scans=True a terminal hit 2+ times is also
        # .cache()d so SEPARATE statements (separate actions) share the
        # scan compute instead of re-reading.
        self.cache_shared_scans = cache_shared_scans
        # dense=True re-densifies every metric result over the query
        # range: one row per (series, window), NULL value for empty
        # windows — the reference's NULL-filled dense-array semantics
        # (src/dqe_get.erl:53-60). Opt-in: dense output over a wide
        # range at raw resolution multiplies rows, so services choose.
        self.dense = dense
        self._scan_memo: dict[tuple, DataFrame] = {}

    def unpersist_shared(self) -> None:
        """Release any scan caches created by cache_shared_scans.
        Long-lived services should call this after consuming a query's
        results — Spark's LRU eviction is the only other bound."""
        for df in self._scan_memo.values():
            if df.is_cached:
                df.unpersist()
        self._scan_memo.clear()

    # -- public --------------------------------------------------------------

    def compile(self, sel: A.Select) -> list[Result]:
        self.aliases = {a.name: a.sel for a in sel.aliases}
        start, end = timeframe_range(sel.timeframe, self.now_ms)
        self._range = (start, end)  # presented axis, used by dense fill
        results: list[Result] = []
        frames: list[tuple[SeriesFrame | EventsFrame, A.Named | None]] = []
        stmt_globs: list[tuple[str, ...]] = []
        for stmt in sel.stmts:
            named = stmt if isinstance(stmt, A.Named) else None
            node = stmt.child if named else stmt
            self._cur_globs: list[str] = []
            frames.append((self._node(node, start, end), named))
            stmt_globs.append(tuple(self._cur_globs))
        if sel.limit is not None:
            frames = self._apply_limit(frames, sel.limit)
        for (frame, named), globs in zip(frames, stmt_globs):
            res = self._finalize(frame, named)
            res.globs = globs
            results.append(res)
        return results

    # -- statement finalization (collect/naming, src/dqe_collect.erl:35-43) --

    def _finalize(self, frame, named: A.Named | None) -> Result:
        if isinstance(frame, EventsFrame):
            name = self._static_name(named) or frame.label
            return Result(name, "events", frame.df.withColumn("name", F.lit(name)))
        name_col, label = self._name_column(frame, named)
        cols = ["name", *frame.keys, "ts_ms", "value"]
        base = frame.df
        if self.dense and frame.keys:
            # NULL-fill empty windows over the query range at the
            # frame's output resolution (src/dqe_get.erl:53-60); the
            # spine's series set comes from the result keys, and the
            # name column is computed after the fill so filled rows
            # are named too (key-derived naming survives; columns not
            # in the key, e.g. metric_parts, are NULL on filled rows)
            from dqe_spark.operators.densify import densify

            s, e = self._range
            base = densify(base, s, e, frame.res_ms, keys=frame.keys, ts="ts_ms")
        df = base.withColumn("name", name_col)
        # METADATA {k: v, ...} rides along as a map column; $N/$tag
        # values resolve per series like names do (src/dql_naming.erl:34-39)
        if named and named.metadata:
            kvs: list[Column] = []
            for k, v in named.metadata:
                kvs.append(F.lit(k))
                if isinstance(v, (int, float)):
                    kvs.append(F.lit(str(v)))
                elif isinstance(v, str):
                    kvs.append(F.lit(v))
                else:
                    c, _ = self._name_column(frame, A.Named((v,), (), None))
                    kvs.append(c)
            df = df.withColumn("metadata", F.create_map(*kvs))
            cols.append("metadata")
        df = df.select(*cols)
        return Result(label, "metrics", df, frame.res_ms)

    def _static_name(self, named: A.Named | None) -> str | None:
        if named and named.parts and all(isinstance(p, str) for p in named.parts):
            return ".".join(named.parts)
        return None

    def _name_column(self, frame: SeriesFrame, named: A.Named | None):
        if named is None or named.parts is None:
            return F.lit(frame.label), frame.label
        cols: list[Column] = []
        for p in named.parts:
            if isinstance(p, str):
                cols.append(F.lit(p))
            elif isinstance(p, A.PVar):
                # per-series naming survives aggregation because the series
                # key column does (the reference expands names at plan time,
                # src/dql_naming.erl:45-46; we derive them from the key)
                if "metric_parts" in frame.df.columns:
                    cols.append(F.col("metric_parts")[p.n - 1])
                elif "metric" in frame.keys:
                    cols.append(F.split(F.col("metric"), r"\.")[p.n - 1])
                else:
                    raise PlanError("$N naming needs a metric-keyed selector")
            elif isinstance(p, A.DVar):
                key = f"{p.ns}:{p.key}" if p.ns else p.key
                gcol = f"g_{p.key}"
                if gcol in frame.df.columns:
                    cols.append(F.col(gcol))
                elif frame.has_dims:
                    cols.append(F.col("tags")[key if p.ns else p.key])
                else:
                    raise PlanError(f"dimension variable ${key} unavailable here")
            else:
                raise PlanError(f"bad name part {p!r}")
        return F.concat_ws(".", *cols), ".".join(str(p) for p in named.parts)

    # -- node dispatch -------------------------------------------------------

    def _node(self, node, start: int, end: int):
        if isinstance(node, A.Var):
            if node.name not in self.aliases:
                raise PlanError(
                    f"unknown alias: {node.name}", "not_found_var", node.name
                )
            return self._node(self.aliases[node.name], start, end)
        if isinstance(node, A.Timeshift):
            shift = _dur_ms(node.t)
            inner = self._node(node.sel, start - shift, end - shift)
            if isinstance(inner, EventsFrame):
                raise PlanError("SHIFT BY does not apply to events")
            return replace(
                inner,
                df=TS.restamp(inner.df, shift),
                label=f"{inner.label} SHIFT BY {_unparse_t(node.t)}",
                # pristine survives: scan_range already IS the shifted
                # storage range; shift_ms tells the rollup rewrite how
                # to restamp partials onto the presentation axis
                shift_ms=inner.shift_ms + shift,
            )
        if isinstance(node, (A.Get, A.SGet, A.Lookup, A.GroupBy)):
            return self._terminal(node, start, end)
        if isinstance(node, A.EventsFrom):
            return self._events(node, start, end)
        if isinstance(node, A.FCall):
            return self._fcall(node, start, end)
        raise PlanError(f"cannot compile node: {node!r}")

    # -- terminals (src/dqe_get.erl, src/dql_expand.erl) ---------------------

    def _scan(self, bucket: str, start: int, end: int) -> DataFrame:
        cond = (
            (F.col("bucket") == bucket)
            & (F.col("ts_ms") >= start)
            & (F.col("ts_ms") < end)
        )
        if "dt" in self.metrics.columns:
            # date-partitioned store (sources/store.py layout="date"):
            # restate the ts range on the dt partition column so the
            # time bound becomes partition PRUNING, not just a row
            # filter. ISO yyyy-MM-dd compares correctly as a string.
            cond &= F.col("dt").between(_dt_str(start), _dt_str(max(start, end - 1)))
        return self.metrics.where(cond)

    def _res(self, bucket: str) -> int:
        return int(self.resolutions.get(bucket, 1000))

    def _terminal(self, node, start: int, end: int) -> SeriesFrame:
        if isinstance(node, A.GroupBy):
            return self._group_by(node, start, end)
        pred: Column | None = None
        pred_only = True  # no tag predicates → rollup-rewritable
        tag_pred: Column | None = None
        if isinstance(node, A.Get):
            pred = F.col("metric") == ".".join(node.parts)
            df = self._scan(node.bucket, start, end).where(pred)
            bucket = node.bucket
        elif isinstance(node, A.SGet):
            pred = F.col("metric").rlike(glob_to_regex(node.parts))
            df = self._scan(node.bucket, start, end).where(pred)
            bucket = node.bucket
            if hasattr(self, "_cur_globs"):
                self._cur_globs.append(
                    ".".join(f"'{p}'" for p in node.parts)  # dqe_lib.erl:51-58
                )
        elif isinstance(node, A.Lookup):
            df = self._scan(node.bucket, start, end)
            if node.parts is not None:
                pred = F.col("metric") == ".".join(node.parts)
                df = df.where(pred)
            if node.where is not None:
                wcol = self._where_col(node.where)
                df = df.where(wcol)
                pred_only = False  # tags aren't in the PLAIN rollup store
                if self._where_dims_only(node.where):
                    # …but they ARE in the tagged rollup: keep the
                    # predicate (plain dim columns on both sides) so
                    # _try_rollup can still rewrite from tagged partials
                    tag_pred = wcol
            bucket = node.bucket
        else:  # pragma: no cover
            raise PlanError(f"bad terminal {node!r}")
        sel = df.select(
            "metric", "metric_parts", "tags", "ts_ms", "value", "confidence"
        )
        key = (repr(node), start, end)
        if key in self._scan_memo:
            sel = self._scan_memo[key]
            if self.cache_shared_scans and not sel.is_cached:
                sel.cache()
        else:
            self._scan_memo[key] = sel
        return SeriesFrame(
            df=sel,
            keys=("metric",),
            res_ms=self._res(bucket),
            label=unparse(node),
            pristine=pred_only,
            scan_bucket=bucket,
            scan_pred=pred,
            scan_range=(start, end),
            scan_tag_pred=tag_pred,
            maybe_multi=isinstance(node, A.SGet)
            or (isinstance(node, A.Lookup) and node.parts is None),
        )

    def _where_col(self, w) -> Column:
        op = w[0]
        if op == "and":
            return self._where_col(w[1]) & self._where_col(w[2])
        if op == "or":
            return self._where_col(w[1]) | self._where_col(w[2])
        tag: A.TagRef = w[1]
        key = f"{tag.ns}:{tag.key}" if tag.ns else tag.key
        # a bare tag key that exists as a physical column uses the
        # column, not the tags map: map accesses can't push into the
        # parquet scan, while plain-column predicates become
        # PushedFilters (row-group min/max skipping) — the reference
        # gets the same effect by pushing tag WHEREs into its index
        # (src/dql_expand.erl:60-93). Semantics are identical because
        # the tags map is BUILT from these columns.
        if not tag.ns and tag.key in self.metrics.columns:
            ref = F.col(tag.key)
        else:
            ref = F.col("tags")[key]
        if op == "=":
            return ref == w[2]
        if op == "!=":
            # reference: != means "has a different value OR lacks the tag"
            return ref.isNull() | (ref != w[2])
        if op == "exists":
            return ref.isNotNull()
        raise PlanError(f"bad where op {op!r}")

    def _where_dims_only(self, w) -> bool:
        """True when every tag the WHERE references is a TAGGED_DIMS
        plain column — the predicate is then portable to the tagged
        rollup's partials verbatim."""
        from dqe_spark.sources.rollup import TAGGED_DIMS

        op = w[0]
        if op in ("and", "or"):
            return self._where_dims_only(w[1]) and self._where_dims_only(w[2])
        tag: A.TagRef = w[1]
        return (
            not tag.ns
            and tag.key in TAGGED_DIMS
            and tag.key in self.metrics.columns
        )

    def _group_by(self, node: A.GroupBy, start: int, end: int) -> SeriesFrame:
        base = self._terminal(node.lookup, start, end)
        if node.fun not in COMBINE:
            raise PlanError(f"unknown combinator for GROUP BY: {node.fun}")
        gcols = []
        sel = base.df
        for t in node.groupings:
            key = f"{t.ns}:{t.key}" if t.ns else t.key
            gname = f"g_{t.key}"
            sel = sel.withColumn(gname, F.col("tags")[key])
            gcols.append(gname)
        # point-wise combinator across the series in each tag-group:
        # same shape as the N-series combinators, keyed by group + ts.
        dsum = F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
        agg = {
            # sum accumulates in exact decimal; avg rounds in integer
            # arithmetic (windows.avg4_exact — inputs are 4dp-exact,
            # so neither float association nor half-boundary rounding
            # can diverge cross-engine)
            "sum": W.rounded(dsum),
            "avg": W.avg4_exact("value"),
            "min": W.rounded(F.min("value")), "max": W.rounded(F.max("value")),
            # same floor(p·10⁴+0.5) trick as combinators.comb_product:
            # round() diverges cross-engine at exact .xxxx5 halves
            "product": (
                F.floor(F.product("value") * 10000 + F.lit(0.5)).cast("double")
                / 10000.0
            ),
        }.get(node.fun)
        if agg is None:
            raise PlanError(f"GROUP BY USING {node.fun} is order-sensitive; unsupported")
        df = (
            sel.groupBy(*gcols, "ts_ms")
            .agg(agg.alias("value"), F.avg("confidence").alias("confidence"))
        )
        return SeriesFrame(
            df=df,
            keys=tuple(gcols),
            res_ms=base.res_ms,
            label=unparse(node),
            has_dims=False,
        )

    def _events(self, node: A.EventsFrom, start: int, end: int) -> EventsFrame:
        if self.events is None:
            raise PlanError("no event store configured")
        cond = (
            (F.col("bucket") == node.bucket)
            & (F.col("ts_ms") >= start)
            & (F.col("ts_ms") < end)
        )
        if "dt" in self.events.columns:
            # materialized event store: time bound → dt partition
            # pruning (store.ingest_events), mirroring _scan
            cond &= F.col("dt").between(_dt_str(start), _dt_str(max(start, end - 1)))
        df = self.events.where(cond)
        if node.filter is not None:
            df = df.where(self._event_col(node.filter))
        return EventsFrame(df=df, label=unparse(node))

    def _event_col(self, cond) -> Column:
        op = cond[0]
        if op == "and":
            return self._event_col(cond[1]) & self._event_col(cond[2])
        if op == "or":
            return self._event_col(cond[1]) | self._event_col(cond[2])
        if op == "not":
            return ~self._event_col(cond[1])
        path, val = cond[1], cond[2]
        ref = self._event_path(path, val)
        if op == "==":
            return ref == val
        if op == ">=":
            return ref >= val
        if op == "=<":
            return ref <= val
        if op == ">":
            return ref > val
        if op == "<":
            return ref < val
        if op == "~=":
            return ref.rlike(str(val))
        raise PlanError(f"bad event op {op!r}")

    def _event_path(self, path: tuple, val) -> Column:
        # top-level typed columns first (event_type, value, …), else JSON path
        if len(path) == 1 and isinstance(path[0], str) and path[0] in self.events.columns:
            return F.col(path[0])
        jp = "$" + "".join(
            f"[{p}]" if isinstance(p, int) else f".{p}" for p in path
        )
        raw = F.get_json_object(F.col("payload"), jp)
        if isinstance(val, int):
            return raw.cast("long")
        if isinstance(val, float):
            return raw.cast("double")
        return raw

    # -- function application ------------------------------------------------

    def _fcall(self, node: A.FCall, start: int, end: int):
        name = node.name
        if name == "bm25":
            return self._bm25(node)
        if name == "neardup":
            return self._neardup(node)
        if name == "dedup":
            return self._dedup(node)
        if name in ("knn", "ann"):
            return self._knn(node, approximate=(name == "ann"))
        if name == "surprisal":
            return self._surprisal(node)
        if name == "dsir":
            return self._dsir(node)
        if name == "retention":
            return self._retention(node)
        if name == "watchlist":
            return self._watchlist(node)
        if name == "nearby":
            return self._nearby(node)
        series = [a for a in node.inputs
                  if isinstance(a, (A.FCall, A.Get, A.SGet, A.Lookup, A.GroupBy,
                                    A.Timeshift, A.Var))]
        consts = [a for a in node.inputs if isinstance(a, (int, float, A.TimeUnit))]

        # combinators: N series inputs (src/dqe.erl:103-111)
        if len(series) >= 2:
            if name not in COMBINE or consts:
                # no overload mixes multiple series with constants
                # (src/dql_resolver.erl:77-108 would report not_found)
                raise PlanError(
                f"function not found: {name}/{len(node.inputs)}",
                "not_found_fun", name, arg_types(node.inputs),
            )
            frames = [self._expect_series(self._node(s, start, end)) for s in series]
            res = {fr.res_ms for fr in frames}
            if len(res) != 1:
                raise PlanError(
                    "resolution_conflict: combinator inputs differ",
                    "resolution_conflict",
                )
            if name in ("diff", "quotient") and any(
                fr.maybe_multi for fr in frames
            ):
                # ordered folds are defined over single series; a glob /
                # ALL input would cross-product rows at equal ts. The
                # commutative combinators fold all matched series
                # point-wise (union+groupBy), which IS the reference's
                # expanded-list behavior.
                raise PlanError(
                    f"{name} requires single-series inputs; aggregate or "
                    "GROUP BY the multi-series selector first"
                )
            dfs = [fr.df.select("ts_ms", "value") for fr in frames]
            out = COMBINE[name](dfs, ts="ts_ms", v="value")
            # combined confidence = mean of the inputs' per-point
            # confidences (consistent with the windowed aggregates'
            # confidence handling; the reference's mmath combines the
            # channel in C — we define and document the mean)
            from functools import reduce as _reduce

            conf = (
                _reduce(
                    lambda a, b: a.unionByName(b),
                    [fr.df.select("ts_ms", "confidence") for fr in frames],
                )
                .groupBy("ts_ms")
                .agg(F.avg("confidence").alias("confidence"))
            )
            return SeriesFrame(
                df=out.join(conf, "ts_ms", "left"),
                keys=(),
                res_ms=res.pop(),
                label=unparse(node),
                has_dims=False,
            )

        if len(series) != 1:
            raise PlanError(
                f"function not found: {name}/{len(node.inputs)}",
                "not_found_fun", name, arg_types(node.inputs),
            )
        sub = self._expect_series(self._node(series[0], start, end))

        # histogram build / reductions (src/dqe_hist.erl, dqe_hist_*.erl)
        if name == "histogram":
            return self._histogram(sub, consts, node)
        if sub.hist_window_ms is not None:
            return self._hist_reduce(sub, name, consts, node)

        # engine extensions surfaced in the language (the reference's
        # dqe_fun registry proves custom names plumb through; these are
        # the operator-layer flagships behind first-class syntax)
        if name == "zscore":
            return self._zscore(sub, consts, node)
        if name == "trend":
            return self._trend(sub, consts, node)
        if name in ("alert_above", "alert_below"):
            return self._alert(sub, name, consts, node)

        # timed aggregates (src/dqe.erl:63-87)
        if consts and isinstance(consts[-1], (A.TimeUnit, int)) and (
            name in AGGR_PLAIN or name in AGGR_THRESHOLD or name == "percentile"
            or name in self.registry.aggregates
            or (name.endswith("_conf") and name[:-5] in AGGR_THRESHOLD)
        ):
            return self._windowed(sub, name, consts, node)

        # transforms & scalar arithmetic (src/dqe.erl:88-102)
        return self._transform(sub, name, consts, node)

    def _expect_series(self, frame) -> SeriesFrame:
        if isinstance(frame, EventsFrame):
            raise PlanError("events cannot feed metric functions")
        return frame

    def _window_count(self, sub: SeriesFrame, t) -> int:
        wms = _dur_ms(t)
        if wms < sub.res_ms or wms % sub.res_ms != 0:
            raise PlanError(
                f"aggregate window {wms}ms must be a multiple of the "
                f"current resolution {sub.res_ms}ms"
            )
        return wms

    def _windowed(self, sub: SeriesFrame, name: str, consts, node) -> SeriesFrame:
        t = consts[-1]
        wms = self._window_count(sub, t)
        over_conf = name.endswith("_conf")
        base = name[:-5] if over_conf else name
        vcol = "confidence" if over_conf else "value"
        rewritten = self._try_rollup(sub, name, consts, node, wms)
        if rewritten is not None:
            return rewritten
        if base in self.registry.aggregates and len(consts) == 1:
            agg = self.registry.aggregates[base](vcol)
        elif (
            base in ("variance", "stddev")
            and len(consts) == 1
            and sub.pristine
            and vcol == "value"
        ):
            # pristine scan → store values are fixed 2-decimal: use the
            # exact-decimal algebra so the answer is bit-identical to the
            # rollup-partials path (windows.agg_variance_exact docstring)
            agg = (W.agg_variance_exact if base == "variance"
                   else W.agg_stddev_exact)(vcol)
        elif base in AGGR_PLAIN and len(consts) == 1:
            agg = AGGR_PLAIN[base](vcol)
        elif base == "percentile" and len(consts) == 2:
            p = consts[0]
            if isinstance(p, int):
                p = p * 0.5  # reference quirk: src/dqe_percentile_aggr.erl:15-16
            if not 0.0 <= float(p) <= 1.0:
                raise PlanError(
                    f"percentile {consts[0]!r} out of range: needs 0..1 "
                    "(integer arguments are halved per the reference quirk)"
                )
            agg = W.agg_percentile(vcol, float(p))
        elif base in AGGR_THRESHOLD and len(consts) == 2:
            agg = AGGR_THRESHOLD[base](vcol, float(consts[0]))
        else:
            raise PlanError(
                f"function not found: {name}", "not_found_fun", name,
                arg_types(node.inputs),
            )
        df = (
            sub.df.withColumn("wts", W.wts_col(wms))
            .groupBy(*sub.keys, "wts")
            .agg(agg.alias("value"), F.avg("confidence").alias("confidence"))
            .withColumnRenamed("wts", "ts_ms")
        )
        return SeriesFrame(df, sub.keys, wms, unparse(node), has_dims=False,
                           hist_window_ms=None, maybe_multi=sub.maybe_multi)

    def _try_rollup(
        self, sub: SeriesFrame, name: str, consts, node, wms: int
    ) -> SeriesFrame | None:
        """Rollup rewrite: answer a distributive window aggregate from
        pre-aggregated partials (sources/rollup.py) when the frame came
        straight from a metric-pred-only scan and windows align. Picks
        the COARSEST eligible rollup — fewest rows read. Results are
        identical to the raw path (partials sum in exact decimal)."""
        scalar = len(consts) == 1 and name in (
            "sum", "avg", "min", "max", "variance", "stddev"
        )
        quantile = (len(consts) == 1 and name == "median") or (
            len(consts) == 2 and name == "percentile"
        )
        if not (scalar or quantile):
            return None
        # dim-only WHERE: rewrite from the TAGGED levels (the dim
        # predicate filters partials; histogram counts re-merge into the
        # window's exact value multiset)
        tagged = not sub.pristine and sub.scan_tag_pred is not None
        if not (tagged or sub.pristine):
            return None
        scalar_kind = "tagged" if tagged else "rollup"
        kind = ("tagged_hist" if tagged else "hist") if quantile else scalar_kind
        levels = self.rollups.get(kind)
        if not levels:
            return None
        if quantile and sub.shift_ms:
            return None  # hist path doesn't restamp; raw scan is correct
        # per-window confidence joins in from the matching scalar store
        conf_src = self.rollups.get(scalar_kind, {})
        start, end = sub.scan_range
        for res in sorted(levels, reverse=True):
            if (
                wms % res == 0
                and res % sub.res_ms == 0
                and start % res == 0
                and end % res == 0
                and sub.shift_ms % res == 0  # restamped windows align
                and (not quantile or res in conf_src)  # confidence source
            ):
                if quantile:
                    return self._quantile_from_hist(
                        sub, name, consts, node, wms, res, levels[res],
                        conf_src[res], tagged,
                    )
                from dqe_spark.sources.rollup import partial_value_expr, rewindow

                r = levels[res].where(
                    (F.col("bucket") == sub.scan_bucket)
                    & (F.col("wts") >= start)
                    & (F.col("wts") < end)
                )
                if sub.scan_pred is not None:
                    r = r.where(sub.scan_pred)
                if tagged:
                    r = r.where(sub.scan_tag_pred)
                value = partial_value_expr(name)
                df = (
                    r.withColumn("wts2", rewindow(wms))
                    .groupBy("metric", "wts2")
                    .agg(
                        W.rounded(value).alias("value"),
                        (F.sum("sum_conf").cast("double") / F.sum("cnt")).alias(
                            "confidence"
                        ),
                    )
                    .withColumnRenamed("wts2", "ts_ms")
                )
                if sub.shift_ms:
                    df = TS.restamp(df, sub.shift_ms)
                return SeriesFrame(
                    df, ("metric",), wms, unparse(node), has_dims=False,
                    maybe_multi=sub.maybe_multi,
                )
        return None

    def _quantile_from_hist(
        self, sub: SeriesFrame, name: str, consts, node, wms: int, res: int,
        hist: DataFrame, scalar: DataFrame, tagged: bool,
    ) -> SeriesFrame:
        """median/percentile answered from the histogram level ``hist``
        at ``res`` (exact for fixed-decimal values, sources/rollup.py);
        the per-window confidence average joins in from the scalar level
        ``scalar`` of the same resolution. With ``tagged`` both are the
        TAGGED levels and the dim predicate applies to the partials
        before counts merge."""
        from dqe_spark.sources.rollup import hist_rollup_percentile, rewindow

        if name == "percentile":
            p = consts[0]
            if isinstance(p, int):
                p = p * 0.5  # reference quirk: src/dqe_percentile_aggr.erl:15-16
            if not 0.0 <= float(p) <= 1.0:
                raise PlanError(
                    f"percentile {consts[0]!r} out of range: needs 0..1 "
                    "(integer arguments are halved per the reference quirk)"
                )
        else:
            p = 0.5
        start, end = sub.scan_range

        def scoped(df: DataFrame) -> DataFrame:
            out = df.where(
                (F.col("bucket") == sub.scan_bucket)
                & (F.col("wts") >= start)
                & (F.col("wts") < end)
            )
            if sub.scan_pred is not None:
                out = out.where(sub.scan_pred)
            if tagged:
                out = out.where(sub.scan_tag_pred)
            return out

        val = hist_rollup_percentile(
            scoped(hist), wms, float(p), rollup_res_ms=res
        ).select("metric", "wts", "value")
        conf = (
            scoped(scalar)
            .withColumn("wts2", rewindow(wms))
            .groupBy("metric", "wts2")
            .agg(
                (F.sum("sum_conf").cast("double") / F.sum("cnt")).alias("confidence")
            )
            .withColumnRenamed("wts2", "wts")
        )
        df = val.join(conf, ["metric", "wts"]).withColumnRenamed("wts", "ts_ms")
        return SeriesFrame(
            df, ("metric",), wms, unparse(node), has_dims=False,
            maybe_multi=sub.maybe_multi,
        )

    # -- engine-extension functions (beyond the reference surface) -----------

    def _zscore(self, sub: SeriesFrame, consts, node) -> SeriesFrame:
        """zscore(series, k): each point's rolling z-score vs its k
        PRECEDING points per series — value becomes the z-score (NULL
        while history is insufficient or variance is zero). Same plan
        as operators/anomaly.rolling_zscore: one keyed ordered window,
        O(1)/row sufficient statistics."""
        if len(consts) != 1 or not isinstance(consts[0], int) or consts[0] < 2:
            raise PlanError(
                "zscore(series, k) needs an integer window count >= 2",
                "not_found_fun", "zscore", arg_types(node.inputs),
            )
        if not sub.keys:
            raise PlanError("zscore needs a keyed series frame")
        from dqe_spark.operators.anomaly import rolling_zscore

        z = rolling_zscore(
            sub.df, k=consts[0], keys=sub.keys, ts="ts_ms",
            keep=("confidence", "metric_parts", "tags"),
        )
        df = z.withColumn("value", F.col("zscore")).drop("zscore")
        return replace(
            sub, df=df, label=unparse(node), pristine=False, scan_tag_pred=None
        )

    def _trend(self, sub: SeriesFrame, consts, node) -> SeriesFrame:
        """trend(series, t): per-series OLS slope of the input points
        within each t-window, in value-units/second — value becomes
        the slope (NULL under min_n points or zero time-variance).
        Input values are 4dp series points, so the sufficient
        statistics accumulate v·10⁴ integers exactly
        (operators/stats.windowed_trend_slope, scale=10000)."""
        if len(consts) != 1 or not isinstance(consts[-1], (A.TimeUnit, int)):
            raise PlanError(
                "trend(series, time)", "not_found_fun", "trend",
                arg_types(node.inputs),
            )
        if not sub.keys:
            raise PlanError("trend needs a keyed series frame")
        wms = self._window_count(sub, consts[-1])
        from dqe_spark.operators.stats import windowed_trend_slope

        out = windowed_trend_slope(
            sub.df, wms, keys=sub.keys, ts="ts_ms", scale=10_000,
            conf="confidence",
        )
        df = (
            out.withColumnRenamed("wts", "ts_ms")
            .withColumn("value", F.col("slope"))
            .drop("slope", "n")
        )
        return SeriesFrame(
            df, sub.keys, wms, unparse(node), has_dims=False,
            maybe_multi=sub.maybe_multi,
        )

    def _alert(self, sub: SeriesFrame, name: str, consts, node) -> EventsFrame:
        """alert_above/alert_below(series, threshold, duration):
        Prometheus-style `expr > t FOR d` firing intervals — one row
        per interval (series keys..., start_wts, fire_wts, end_wts,
        n_windows, peak), via operators/alerts.threshold_alerts
        (gaps-and-islands, single Exchange). `duration` must be a
        multiple of the series resolution."""
        if (
            len(consts) != 2
            or not isinstance(consts[0], (int, float))
            or not isinstance(consts[1], (A.TimeUnit, int))
        ):
            raise PlanError(
                f"{name}(series, threshold, duration)",
                "not_found_fun", name, arg_types(node.inputs),
            )
        if not sub.keys:
            raise PlanError(f"{name} needs a keyed series frame")
        dur = _dur_ms(consts[1]) if isinstance(consts[1], A.TimeUnit) else consts[1]
        if dur < sub.res_ms or dur % sub.res_ms != 0:
            raise PlanError(
                f"{name} duration {dur}ms must be a multiple of the "
                f"series resolution {sub.res_ms}ms"
            )
        from dqe_spark.operators.alerts import threshold_alerts

        out = threshold_alerts(
            sub.df,
            threshold=float(consts[0]),
            for_windows=dur // sub.res_ms,
            step_ms=sub.res_ms,
            series=sub.keys,
            ts="ts_ms",
            above=(name == "alert_above"),
        )
        return EventsFrame(out, unparse(node))

    def _bm25(self, node: A.FCall) -> EventsFrame:
        """bm25('query terms', k): top-k ranked retrieval over the
        document corpus' inverted text index (sources/text_index
        .bm25_search — bucket-pruned postings, exact rational-idf
        integer scoring). The query string tokenizes by the index's
        own token rule; the statement timeframe does not apply (the
        corpus is not a time series)."""
        if self.sf_dir is None:
            raise PlanError("bm25 needs a document corpus (no sf_dir bound)")
        args = list(node.inputs)
        if not args or not isinstance(args[0], A.Var):
            raise PlanError(
                "bm25('query terms'[, k])",
                "not_found_fun", "bm25", arg_types(node.inputs),
            )
        k = 20
        if len(args) == 2:
            if not isinstance(args[1], int) or args[1] < 1:
                raise PlanError("bm25 k must be a positive integer")
            k = args[1]
        elif len(args) > 2:
            raise PlanError("bm25('query terms'[, k])")
        from dqe_spark.sources.text_index import TOKEN_DELIM, bm25_search

        terms = [x for x in re.split(TOKEN_DELIM, args[0].name.lower()) if x]
        if not terms:
            raise PlanError(f"bm25 query has no indexable terms: {args[0].name!r}")
        out = bm25_search(
            self.metrics.sparkSession, self.sf_dir, terms, k=k
        )
        return EventsFrame(out, unparse(node))

    def _knn(self, node: A.FCall, approximate: bool) -> EventsFrame:
        """knn(query_id, k) / ann(query_id, k): top-k cosine
        neighbors of corpus vector ``query_id`` (itself excluded) —
        the language surface of similarity search. ``knn`` is the
        exact broadcast scan (operators/similarity.knn_bruteforce —
        linear, shuffle-free, the honest baseline up to ~10⁹
        vectors); ``ann`` is hyperplane-LSH at the AUTO-SCALED
        auto_planes band width (knn_srp — the banded filter that
        deployments back with band-bucketed storage for file-level
        pruning). Both are oracle-replayable: the exact path is plain
        SQL, the SRP path replays the width formula + md5-parity
        matrix like neardup() (queries_ext._auto_srp_ctes). The
        statement timeframe does not apply (the corpus is not a time
        series)."""
        fname = "ann" if approximate else "knn"
        if self.sf_dir is None:
            raise PlanError(f"{fname} needs an embedding corpus (no sf_dir bound)")
        args = list(node.inputs)
        if (
            len(args) != 2
            or not all(isinstance(a, int) and not isinstance(a, A.TimeUnit)
                       for a in args)
        ):
            raise PlanError(
                f"{fname}(query_id, k)",
                "not_found_fun", fname, arg_types(node.inputs),
            )
        qid, k = int(args[0]), int(args[1])
        if k < 1:
            raise PlanError(f"{fname} k must be a positive integer")
        from dqe_spark.operators.similarity import (
            auto_planes,
            knn_bruteforce,
            knn_srp,
        )
        from dqe_spark.sources.metric_store import load_table

        emb = load_table(self.metrics.sparkSession, self.sf_dir, "embeddings")
        query = emb.where(F.col("vec_id") == qid)
        if query.first() is None:
            raise PlanError(f"{fname}: no vector with vec_id {qid}")
        corpus = emb.where(F.col("vec_id") != qid)
        if approximate:
            out = knn_srp(
                corpus,
                query,
                k,
                auto_planes(
                    emb, bands=8, cache_key=(self.sf_dir, "embeddings")
                ),
                bands=8,
            )
        else:
            out = knn_bruteforce(corpus, query, k)
        return EventsFrame(out, unparse(node))

    def _neardup(self, node: A.FCall) -> EventsFrame:
        """neardup(threshold): verified near-duplicate embedding pairs
        (id_i, id_j, cos ≥ threshold) over the bound corpus — the
        language surface of the LSH dedup flagship (operators/
        similarity.neardup_srp_pairs). Runs at the AUTO-SCALED band
        width (auto_planes: bits/band = ⌈log₂(n/128)⌉) — the setting
        that keeps the candidate budget linear as the corpus grows;
        the round-6 pinned 32/8 shape was the n²/2^bits quadratic
        trap reachable from the language front door (round-6 verdict
        #2). Still fully oracle-replayable: the width formula is
        deterministic in n and the plane matrix is the published
        md5-parity constant at that width, so the DuckDB twin replays
        bits, matrix, signatures, banding AND verify from the corpus
        count alone (queries_dql._AUTO_SRP_SQL). The statement
        timeframe does not apply (the corpus is not a time series)."""
        if self.sf_dir is None:
            raise PlanError("neardup needs an embedding corpus (no sf_dir bound)")
        args = list(node.inputs)
        if len(args) != 1 or not isinstance(args[0], (int, float)) or isinstance(args[0], A.TimeUnit):
            raise PlanError(
                "neardup(threshold)",
                "not_found_fun", "neardup", arg_types(node.inputs),
            )
        t = float(args[0])
        if not 0.0 <= t <= 1.0:
            raise PlanError(f"neardup threshold {t!r} must be within 0..1")
        from dqe_spark.operators.similarity import neardup_srp_pairs
        from dqe_spark.sources.metric_store import load_table

        emb = load_table(self.metrics.sparkSession, self.sf_dir, "embeddings")
        out = neardup_srp_pairs(
            emb,
            t,
            planes_matrix=None,
            bands=8,
            cache_key=(self.sf_dir, "embeddings"),
        )
        return EventsFrame(out, unparse(node))

    def _surprisal(self, node: A.FCall) -> EventsFrame:
        """surprisal(): per-document mean unigram surprisal in
        nano-nats against the bound corpus's own unigram model — the
        information-theoretic quality filter in the language
        (operators/text.unigram_surprisal: deterministic series-ln,
        integer nano-nat sums, capped-vocab OOV rule). The statement
        timeframe does not apply (the corpus is not a time series)."""
        if self.sf_dir is None:
            raise PlanError("surprisal needs a document corpus (no sf_dir bound)")
        if node.inputs:
            raise PlanError(
                "surprisal()",
                "not_found_fun", "surprisal", arg_types(node.inputs),
            )
        from dqe_spark.operators.text import unigram_surprisal
        from dqe_spark.sources.metric_store import load_table

        out = unigram_surprisal(
            load_table(self.metrics.sparkSession, self.sf_dir, "documents")
        )
        return EventsFrame(out, unparse(node))

    def _dsir(self, node: A.FCall) -> EventsFrame:
        """dsir('<target lang>'[, k]): DSIR importance resampling in
        the language (Xie et al. 2023) — select the k raw-pool
        documents (lang ≠ target) whose hashed uni+bigram bucket
        distribution best matches the target-language split, via
        nano-nat log-likelihood ratios and hash-derived Gumbel top-k
        (operators/text.dsir_select — same bit-exact ladder the
        text_dsir_select registry oracle replays). The statement
        timeframe does not apply (the corpus is not a time series)."""
        if self.sf_dir is None:
            raise PlanError("dsir needs a document corpus (no sf_dir bound)")
        args = list(node.inputs)
        if not args or not isinstance(args[0], A.Var):
            raise PlanError(
                "dsir('<target lang>'[, k])",
                "not_found_fun", "dsir", arg_types(node.inputs),
            )
        k = 100
        if len(args) == 2:
            if not isinstance(args[1], int) or isinstance(
                args[1], A.TimeUnit
            ) or not 1 <= args[1] <= 1_000_000:
                raise PlanError("dsir('<target lang>', k in 1..1000000)")
            k = int(args[1])
        elif len(args) > 2:
            raise PlanError("dsir('<target lang>'[, k])")
        from dqe_spark.operators.text import dsir_select
        from dqe_spark.sources.dsir_store import dsir_b, load_dsir_model
        from dqe_spark.sources.metric_store import load_table

        spark = self.metrics.sparkSession
        out = dsir_select(
            load_table(spark, self.sf_dir, "documents"),
            F.col("lang") == args[0].name,
            # hash the pool grams at the STORE's bucket count (_B
            # marker) — positions are hash % B, so probing a model
            # built at another B would score against garbage buckets
            n_buckets=dsir_b(self.sf_dir, args[0].name),
            k=k,
            # persisted per-target-lang model: one corpus pass per
            # selection, repeated k's are model-free (dsir_store)
            model=load_dsir_model(spark, self.sf_dir, args[0].name),
        )
        return EventsFrame(out, unparse(node))

    def _retention(self, node: A.FCall) -> EventsFrame:
        """retention(['<event_type>'[, offset_days]]): returning-user
        estimates served from the packed portable-HLL register store
        (sources/rollup.portable_retention_1d) — |A∩B| via
        |A|+|B|−|A∪B| on max-merged day/pair sketches, never a raw
        scan. No argument → every event type; one string argument
        filters. The statement timeframe does not apply (the serve
        reads whatever day cells the store holds — retention is a
        store-resolution product, not a point scan)."""
        if self.sf_dir is None:
            raise PlanError(
                "retention needs an event store (no sf_dir bound)"
            )
        args = list(node.inputs)
        if len(args) > 2 or (args and not isinstance(args[0], A.Var)):
            raise PlanError(
                "retention(['<event_type>'[, offset_days]])",
                "not_found_fun", "retention", arg_types(node.inputs),
            )
        offset = 1
        if len(args) == 2:
            if (
                not isinstance(args[1], int)
                or isinstance(args[1], A.TimeUnit)
                or not 1 <= args[1] <= 365
            ):
                raise PlanError(
                    "retention('<event_type>', offset_days in 1..365)"
                )
            offset = int(args[1])
        from dqe_spark.sources.rollup import portable_retention_1d

        out = portable_retention_1d(
            self.metrics.sparkSession, self.sf_dir, offset_days=offset
        )
        if args:
            out = out.where(F.col("event_type") == args[0].name)
        return EventsFrame(out, unparse(node))

    def _watchlist(self, node: A.FCall) -> EventsFrame:
        """watchlist(['<event_type>']): per-day estimated event counts
        for the stored watchlist users, served purely from the
        portable Count-Min counter store (sources/rollup: hourly
        counters sum-merge to day cells — lossless — then each
        watchlist key reads min over its D counters at the store's
        pinned width). No raw-events scan; at 100 TB a serve reads
        ≤ D·W counter rows per cell. No argument → every event type;
        one string argument filters. The statement timeframe does not
        apply (the serve reads whatever day cells the store holds)."""
        if self.sf_dir is None:
            raise PlanError(
                "watchlist needs an event store (no sf_dir bound)"
            )
        args = list(node.inputs)
        if len(args) > 1 or (args and not isinstance(args[0], A.Var)):
            raise PlanError(
                "watchlist(['<event_type>'])",
                "not_found_fun", "watchlist", arg_types(node.inputs),
            )
        from dqe_spark.operators.sketches import cms_merge, cms_probe
        from dqe_spark.sources.rollup import (
            cms_width,
            load_cms_rollup,
            load_cms_watchlist,
        )

        spark = self.metrics.sparkSession
        DAY = 86_400_000
        regs = load_cms_rollup(spark, self.sf_dir, 3_600_000)
        watch = load_cms_watchlist(spark, self.sf_dir)
        dregs = cms_merge(
            regs.withColumn(
                "wts", F.col("wts") - F.col("wts") % F.lit(DAY)
            ),
            ["event_type", "wts"],
        )
        out = cms_probe(
            dregs,
            ["event_type", "wts"],
            watch,
            "user_id",
            out="est_events",
            w=cms_width(self.sf_dir, 3_600_000),
        )
        if args:
            out = out.where(F.col("event_type") == args[0].name)
        return EventsFrame(out, unparse(node))

    def _nearby(self, node: A.FCall) -> EventsFrame:
        """nearby('<anchor_event>', '<context_event>'[, radius]):
        interval join in the language — each anchor event with the
        count and max value of the SAME user's context events within
        ± radius (default 5m). Runs operators/temporal.range_agg_join:
        both sides bin to radius-wide buckets and the anchor side
        replicates to its 3 adjacent bins, so Spark plans an EQUI-join
        on (user, bin) with the exact |Δts| ≤ r test inside — one hash
        shuffle, never a per-key cross product. The statement
        timeframe does not apply (anchors carry their own
        timestamps)."""
        if self.sf_dir is None:
            raise PlanError("nearby needs an event store (no sf_dir bound)")
        args = list(node.inputs)
        if (
            len(args) < 2
            or len(args) > 3
            or not isinstance(args[0], A.Var)
            or not isinstance(args[1], A.Var)
        ):
            raise PlanError(
                "nearby('<anchor_event>', '<context_event>'[, radius])",
                "not_found_fun", "nearby", arg_types(node.inputs),
            )
        radius_ms = 300_000
        if len(args) == 3:
            if not isinstance(args[2], A.TimeUnit) or args[2].ms <= 0:
                raise PlanError(
                    "nearby radius must be a positive time literal (e.g. 5m)"
                )
            radius_ms = args[2].ms
        from dqe_spark.operators.temporal import range_agg_join
        from dqe_spark.sources.metric_store import load_events

        ev = load_events(self.metrics.sparkSession, self.sf_dir).select(
            "event_id", "user_id", "ts_ms", "event_type", "value"
        )
        anchors = ev.where(F.col("event_type") == args[0].name).select(
            "event_id", "user_id", "ts_ms"
        )
        ctx = ev.where(F.col("event_type") == args[1].name).select(
            "user_id", "ts_ms", "value"
        )
        out = range_agg_join(
            anchors,
            ctx,
            key="user_id",
            radius_ms=radius_ms,
            aggs={
                "n_nearby": F.count(F.col("user_id")),
                "max_value": F.max("value"),
            },
        )
        return EventsFrame(out, unparse(node))

    def _dedup(self, node: A.FCall) -> EventsFrame:
        """dedup('exact') / dedup('semantic'[, threshold]) /
        dedup('substring'[, k]): corpus deduplication in the language.
        'exact' groups byte-identical documents (md5 fingerprint →
        keep-lowest id + copy count, operators/dedup.dedup_exact — one
        hash-groupBy, map-side combined). 'semantic' returns the
        SemDeDup survivor set of the embedding corpus (keep-lowest
        greedy over verified SRP near-dup pairs, operators/similarity
        .semantic_survivors) at the given cosine threshold (default
        0.2), on the AUTO-SCALED oracle-replayable SRP shape
        (auto_planes — same linear candidate-budget rationale and same
        width-replaying oracle as neardup(); round-6 verdict #2).
        'substring' is the surgical Lee-et-al. pass: rebuild each
        document with every non-canonical duplicated k-gram span
        excised (operators/dedup.strip_duplicate_substrings, k-gram
        width default 5). The statement timeframe does not apply
        (corpora are not time series)."""
        if self.sf_dir is None:
            raise PlanError("dedup needs a document corpus (no sf_dir bound)")
        args = list(node.inputs)
        if not args or not isinstance(args[0], A.Var):
            raise PlanError(
                "dedup('exact'|'semantic'|'substring'[, arg])",
                "not_found_fun", "dedup", arg_types(node.inputs),
            )
        mode = args[0].name.lower()
        spark = self.metrics.sparkSession
        from dqe_spark.sources.metric_store import load_table

        if mode == "exact":
            if len(args) != 1:
                raise PlanError("dedup('exact') takes no further arguments")
            from dqe_spark.operators.dedup import dedup_exact

            out = dedup_exact(load_table(spark, self.sf_dir, "documents"))
        elif mode == "semantic":
            t = 0.2
            if len(args) == 2:
                if not isinstance(args[1], (int, float)) or isinstance(
                    args[1], A.TimeUnit
                ) or not 0.0 <= float(args[1]) <= 1.0:
                    raise PlanError("dedup('semantic', threshold in 0..1)")
                t = float(args[1])
            elif len(args) > 2:
                raise PlanError("dedup('semantic'[, threshold])")
            from dqe_spark.operators.similarity import (
                neardup_srp_pairs,
                semantic_survivors,
            )

            emb = load_table(spark, self.sf_dir, "embeddings")
            pairs = neardup_srp_pairs(
                emb,
                t,
                planes_matrix=None,
                bands=8,
                cache_key=(self.sf_dir, "embeddings"),
            )
            out = semantic_survivors(emb, pairs)
        elif mode == "substring":
            k = 5
            if len(args) == 2:
                if not isinstance(args[1], int) or isinstance(
                    args[1], A.TimeUnit
                ) or not 2 <= args[1] <= 64:
                    raise PlanError("dedup('substring', k in 2..64)")
                k = int(args[1])
            elif len(args) > 2:
                raise PlanError("dedup('substring'[, k])")
            from dqe_spark.operators.dedup import strip_duplicate_substrings

            out = strip_duplicate_substrings(
                load_table(spark, self.sf_dir, "documents"), k=k
            )
        else:
            raise PlanError(
                f"dedup mode {mode!r}: expected 'exact', 'semantic' "
                "or 'substring'"
            )
        return EventsFrame(out, unparse(node))

    def _transform(self, sub: SeriesFrame, name: str, consts, node) -> SeriesFrame:
        if name == "derivate" and not consts:
            if sub.keys:
                df = T.derivate(sub.df, keys=sub.keys)
            else:  # keyless (combined) frame = a single series
                df = T.derivate(
                    sub.df.withColumn("__k", F.lit(1)), keys=("__k",)
                ).drop("__k")
        elif name == "confidence" and not consts:
            df = sub.df.withColumn("value", F.col("confidence"))
        elif name in self.registry.transforms and not consts:
            df = sub.df.withColumn(
                "value", self.registry.transforms[name](F.col("value"))
            )
        elif name in TRANS_PLAIN and not consts:
            df = sub.df.withColumn("value", TRANS_PLAIN[name](F.col("value")))
        elif (
            name in self.registry.arith
            and len(consts) == 1
            and isinstance(consts[0], (int, float))
        ):
            df = sub.df.withColumn(
                "value", self.registry.arith[name](F.col("value"), float(consts[0]))
            )
        elif name in ARITH and len(consts) == 1 and isinstance(consts[0], (int, float)):
            df = sub.df.withColumn("value", ARITH[name](F.col("value"), float(consts[0])))
        else:
            raise PlanError(
                f"function not found: {name}", "not_found_fun", name,
                arg_types(node.inputs),
            )
        return replace(
            sub, df=df, label=unparse(node), pristine=False, scan_tag_pred=None
        )

    def _histogram(self, sub: SeriesFrame, consts, node) -> SeriesFrame:
        # histogram(m, highest_trackable, sig_figs, t): the reference
        # int-rounds every point and records it into an HDR histogram
        # with the given highest-trackable-value and significant figures
        # (src/dqe_hist.erl:30-57). We model the histogram as the
        # window's multiset of HDR-QUANTIZED values: reductions over it
        # are then exact aggregates (src/dqe_hist_*.erl) while honoring
        # the HDR bucket rule — identity below 2·10^sf (rounded up to a
        # power of two), halving resolution per power-of-two bucket
        # above, saturating at htv.
        if len(consts) != 3:
            raise PlanError("histogram(metric, htv, sig_figs, time)")
        htv, sf = consts[0], consts[1]
        if not isinstance(sf, int) or not 1 <= sf <= 5:
            raise PlanError(f"histogram significant figures must be 1..5, got {sf!r}")
        if not isinstance(htv, int) or htv < 1:
            raise PlanError(f"histogram highest trackable value must be >= 1, got {htv!r}")
        wms = self._window_count(sub, consts[-1])
        v = F.round(F.col("value"), 0).cast("long")
        df = sub.df.withColumn("value", hdr_quantize(v, htv, sf).cast("double"))
        return replace(
            sub, df=df, label=unparse(node), hist_window_ms=wms, has_dims=False,
            pristine=False, scan_tag_pred=None,
        )

    def _hist_reduce(self, sub: SeriesFrame, name: str, consts, node) -> SeriesFrame:
        wms = sub.hist_window_ms
        if name in HIST_RED and not consts:
            agg = HIST_RED[name]("value")
        elif name == "percentile" and len(consts) == 1:
            agg = W.agg_percentile("value", float(consts[0]))
        else:
            raise PlanError(
                f"function not found on histogram: {name}",
                "not_found_fun", name,
                arg_types(node.inputs, sub_type="histogram"),
            )
        df = (
            sub.df.withColumn("wts", W.wts_col(wms))
            .groupBy(*sub.keys, "wts")
            .agg(agg.alias("value"), F.avg("confidence").alias("confidence"))
            .withColumnRenamed("wts", "ts_ms")
        )
        return SeriesFrame(df, sub.keys, wms, unparse(node), has_dims=False)

    # -- TOP/BOTTOM funnel (src/dqe_funnel.erl:36-71) ------------------------

    def _apply_limit(self, frames, limit: A.Limit):
        fun = limit.fun.name
        if fun not in AGGR_PLAIN:
            raise PlanError(f"unknown limit function: {fun}")
        score = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
                 "variance": F.var_pop, "stddev": F.stddev_pop,
                 "median": lambda c: F.percentile(c, F.lit(0.5))}.get(fun)
        if score is None:
            raise PlanError(f"limit BY {fun} unsupported")
        out = []
        for frame, named in frames:
            if isinstance(frame, EventsFrame):
                out.append((frame, named))  # events pass through untouched
                continue
            if not frame.keys:
                out.append((frame, named))
                continue
            from dqe_spark.operators.topk import series_limit

            df = series_limit(
                frame.df, limit.n, score("value"),
                top=(limit.direction == "top"), keys=frame.keys,
            )
            out.append((replace(frame, df=df), named))
        return out
