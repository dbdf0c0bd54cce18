"""Rollup store: pre-aggregated partials for window-aggregate queries.

The reference re-reads raw points for every query; its only scale lever
is the backend's chunked reads (src/dqe_get.erl:25-36). At 100 TB the
decisive lever is PRE-AGGREGATION: materialize per-(bucket, metric,
base-window) partials once, and answer any coarser window aggregate
from the rollup instead of the raw store — a 1 h avg over a 1 s
resolution bucket reads 3600× fewer rows from a 1 m rollup.

The rollup stores RE-AGGREGABLE partials, never finished answers:

    (bucket, metric, wts, cnt, sum, sum_sq, min, max, sum_conf)

so every §2.4 aggregate that distributes over unions derives from it:
sum = Σ sum, count = Σ cnt, avg = Σ sum / Σ cnt, min = min(min),
max = max(max), var = Σ sum_sq/n − (Σ sum/n)² (stddev = √var).
Percentiles/median come from the companion HISTOGRAM rollup (exact
per-window value counts); only the first/last-crossing family still
requires raw points.

Every ladder kind — scalar, histogram, their tagged twins, and the
three event sketches (HLL, portable HLL, Count-Min) — is one row of the
``LADDER`` table: how its partials are laid out, derived from the
source and folded. One function per verb (``ladder_dir``, ``build``,
``cascade``, ``load``, ``merge``, ``expire_rollup_before``) reads that
row; the ``build_*`` / ``load_*`` / ``merge_*`` names are bindings of
those verbs to one kind. A level coarser than its kind's base is only
ever a cascade of the base, and a merge re-cascades the partitions it
rewrote into every coarser level on disk, so coarse == cascade(base)
holds after every write.

Layout mirrors the metric store (partition pruning + ts-sorted rows):
    _store/<sf>/rollup_<res>ms/bucket=<b>/metric=<m>/part-*.parquet
"""

from __future__ import annotations

import re
import shutil
from dataclasses import dataclass, field
from functools import partial
from pathlib import Path
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dqe_spark.sources.store import (
    STORE_ROOT,
    overwrite_partitions,
    publish,
    session_load_memo,
)

#: window aggregates answerable from the partials
_DISTRIBUTIVE = {"sum", "avg", "min", "max", "count", "variance", "stddev"}


def supports(agg: str) -> bool:
    return agg in _DISTRIBUTIVE


def rewindow(window_ms: int, wts: str = "wts") -> Column:
    """Start of the ``window_ms`` window holding the ms timestamp
    ``wts`` — the one window-start expression of the ladder (raw
    ``ts_ms`` into base windows, ``wts`` into coarser ones)."""
    return F.col(wts) - (F.col(wts) % F.lit(window_ms))


def point_aggs() -> list[Column]:
    """The six mergeable aggregates over raw points — shared by the
    builds, the increment merges and the streaming twin.

    DECIMAL sums: source values are fixed-decimal, so partial sums stay
    EXACT — re-aggregated answers are then bit-identical to a raw scan
    (no float-association drift between rollup-path and raw-path
    results). Σx² makes variance/stddev distributive too; 2-decimal
    inputs → 4-decimal squares, still exact in DECIMAL."""
    dec = F.col("value").cast("decimal(18,2)")
    return [
        F.count("value").alias("cnt"),
        F.sum(dec).alias("sum"),
        F.sum(dec * dec).alias("sum_sq"),
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.sum(F.col("confidence").cast("decimal(18,2)")).alias("sum_conf"),
    ]


def v100() -> Column:
    """The histogram key: a 2-decimal value as an exact integer."""
    return F.round(F.col("value") * 100).cast("long").alias("v100")


def point_partials(
    points: DataFrame, res_ms: int = 60_000, dims: tuple[str, ...] = ()
) -> DataFrame:
    """Mergeable partials for a batch of points. ``dims`` adds tag
    grouping columns to the partial key (the tagged rollup)."""
    return (
        points.select(
            "bucket", "metric", *dims, rewindow(res_ms, "ts_ms").alias("wts"),
            "value", "confidence",
        )
        .groupBy("bucket", "metric", *dims, "wts")
        .agg(*point_aggs())
    )


def hist_partials(
    points: DataFrame, res_ms: int = 60_000, dims: tuple[str, ...] = ()
) -> DataFrame:
    """Per-window value-count partials (v100 = round(value·100)) for a
    batch of points, plain and tagged (``dims``)."""
    return (
        points.select(
            "bucket", "metric", *dims, rewindow(res_ms, "ts_ms").alias("wts"),
            v100(),
        )
        .groupBy("bucket", "metric", *dims, "wts", "v100")
        .agg(F.count("*").alias("cnt"))
    )


def _atomic_write(
    partials: DataFrame,
    out: Path,
    tmp_name: str | None = None,
    part_cols: tuple[str, ...] = ("bucket", "metric"),
    sort_cols: tuple[str, ...] = ("wts",),
    markers: dict[str, str] | None = None,
) -> Path:
    """Write ``partials`` to ``out`` via tmp-dir (default
    ``_tmp_<out name>``) + rename. ``markers``
    (e.g. ``{"_WIDTH": "8192"}``) are sidecar layout files written INTO
    the tmp dir BEFORE the rename: a reader can never observe a
    ``_SUCCESS``-complete store whose marker is missing — a store whose
    rows were hashed at a non-default layout but whose marker fell back
    to the default reads garbage positions silently."""
    tmp = out.parent / (tmp_name or f"_tmp_{out.name}")
    if tmp.exists():
        shutil.rmtree(tmp)
    laid = (
        partials.repartition(*part_cols)
        if part_cols
        else partials.coalesce(1)
    ).sortWithinPartitions(*sort_cols)
    writer = laid.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(str(tmp))
    for name, value in (markers or {}).items():
        (tmp / name).write_text(value)
    return publish(tmp, out)


def _sidecar_markers(store: Path) -> dict[str, str]:
    """The layout-marker sidecar files of an existing store
    (``_WIDTH``, ``_B``, ``_BUCKETS``, …): plain all-uppercase
    ``_``-files other than Spark's ``_SUCCESS``. A rewrite of the
    store (TTL expiry, compaction, cascade) MUST carry these through —
    the rows it rewrites were hashed at the marker's layout."""
    return {
        p.name: p.read_text()
        for p in store.glob("_*")
        if p.is_file()
        and p.name != "_SUCCESS"
        and p.name[1:].isupper()
    }


def partial_value_expr(agg: str) -> Column:
    """The merged-partials aggregate expression for one §2.4 window
    aggregate — the SINGLE definition of the partials algebra, shared
    by rollup_window_agg and the DQL compiler's rollup rewrite.

    Sums divide as double AFTER the exact decimal accumulation, so
    both engines perform one identical float division. Variance is
    population variance via `(n·Σx² − (Σx)²) / n²` with the NUMERATOR
    kept in DECIMAL: the naive `Σx²/n − (Σx/n)²` in double suffers
    catastrophic cancellation (a mostly-zero window with one large
    value flips the 3rd decimal vs var_pop). For 2-decimal inputs the
    numerator is an exact scale-4 decimal — one float division at the
    end, clamped at zero for the all-equal-values case. Decimal widths
    are chosen so every intermediate stays ≤ precision 38 (exact, no
    Spark precision-loss rounding) while maximizing the domain:
    |Σv| < 10^16 (sx100 decimal(18,0), squared → (37,0)),
    Σv² < 10^20 (sxx100 decimal(24,0)), n < 10^11 (decimal(11,0));
    n·sxx100 → (36,0), numerator difference → (38,0). With ANSI off a
    width overflow is a SILENT NULL, so these bounds are asserted by
    tests/test_rollup.py::test_partial_variance_wide_domain."""
    if not supports(agg):
        raise ValueError(f"aggregate {agg!r} is not distributive over rollups")
    n = F.sum("cnt")
    sx = F.sum("sum").cast("double")
    # integer-domain 4dp rounding, bit-identical to the raw-scan path
    # (windows.avg4_exact / windows._var_exact): Σv4 = Σv·10⁴ and the
    # v100-unit numerator derive EXACTLY from the decimal partials
    ns = "sum(cnt)"
    s4 = "CAST(CAST(sum(sum) AS DECIMAL(20,2)) * 10000 AS DECIMAL(27,0))"
    q = (
        f"CASE WHEN {s4} >= 0 THEN (2 * {s4} + {ns}) div (2 * {ns}) "
        f"ELSE -((2 * -({s4}) + {ns}) div (2 * {ns})) END"
    )
    avg = F.expr(f"CAST(({q}) AS DOUBLE) / 10000.0")
    sxx100 = "CAST(CAST(sum(sum_sq) AS DECIMAL(24,4)) * 10000 AS DECIMAL(24,0))"
    sx100 = "CAST(CAST(sum(sum) AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))"
    numer = (
        f"(CAST({ns} AS DECIMAL(11,0)) * {sxx100} - {sx100} * {sx100})"
    )
    nsq = f"(CAST({ns} AS DECIMAL(11,0)) * CAST({ns} AS DECIMAL(11,0)))"
    var = F.greatest(
        F.expr(
            f"CAST(((2 * {numer} + {nsq}) div (2 * {nsq})) AS DOUBLE) / 10000.0"
        ),
        F.lit(0.0),
    )
    return {
        "sum": sx,
        "count": n.cast("double"),
        "avg": avg,
        "min": F.min("min"),
        "max": F.max("max"),
        "variance": var,
        "stddev": F.sqrt(var),
    }[agg]


def rollup_window_agg(
    rollup: DataFrame,
    window_ms: int,
    agg: str,
    out: str = "value",
    rollup_res_ms: int = 60_000,
    ndigits: int = 4,
) -> DataFrame:
    """Answer a §2.4 window aggregate from rollup partials. The target
    window must be a multiple of the rollup resolution — the planner
    picks the coarsest rollup that divides the window and falls back to
    raw points otherwise."""
    if window_ms % rollup_res_ms != 0:
        raise ValueError(
            f"window {window_ms}ms is not a multiple of rollup {rollup_res_ms}ms"
        )
    g = rollup.select(
        "bucket", "metric", rewindow(window_ms).alias("wts2"),
        "cnt", "sum", "sum_sq", "min", "max",
    ).groupBy("bucket", "metric", "wts2")
    return (
        g.agg(F.round(partial_value_expr(agg), ndigits).alias(out))
        .withColumnRenamed("wts2", "wts")
    )


# ---------------------------------------------------------------------------
# Histogram rollup: exact percentiles from partials.
#
# Source values are fixed 2-decimal, so a per-window count histogram
# keyed by v100 = round(value·100) loses NOTHING — it is the window's
# exact value multiset in mergeable form (counts add across windows
# and levels, like cnt/sum). Percentile/median then derive exactly:
# index = p·(n−1), linear interpolation between the covering values —
# the same definition as Spark's percentile() and DuckDB's
# quantile_cont. Long-form layout (one row per distinct value per
# window) keeps it a plain parquet table with the same partition
# pruning as the other rollups; per-window cardinality is bounded by
# the value domain, not the point count.
# ---------------------------------------------------------------------------


def hist_rollup_percentile(
    hist: DataFrame,
    window_ms: int,
    p: float,
    out: str = "value",
    rollup_res_ms: int = 60_000,
    ndigits: int = 4,
) -> DataFrame:
    """Exact p-percentile per (metric, window) from histogram partials:
    merge counts to the target window, one cumulative-count window pass,
    interpolate between the two covering values. Two shuffles total,
    both keyed (metric, window) — rows in play = distinct values per
    window, not points."""
    from pyspark.sql import Window

    if window_ms % rollup_res_ms != 0:
        raise ValueError(
            f"window {window_ms}ms is not a multiple of rollup {rollup_res_ms}ms"
        )
    c = (
        hist.select("bucket", "metric", rewindow(window_ms).alias("w2"), "v100", "cnt")
        .groupBy("bucket", "metric", "w2", "v100")
        .agg(F.sum("cnt").alias("cnt"))
    )
    grp = ["bucket", "metric", "w2"]
    wcum = (
        Window.partitionBy(*grp)
        .orderBy("v100")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*grp)
    c = (
        c.withColumn("cum", F.sum("cnt").over(wcum))
        .withColumn("n", F.sum("cnt").over(wall))
        .withColumn("pos", F.lit(float(p)) * (F.col("n") - 1))
        .withColumn("lo", F.floor("pos"))
        .withColumn("hi", F.ceil("pos"))
    )
    covers_lo = (F.col("cum") - F.col("cnt") <= F.col("lo")) & (
        F.col("lo") < F.col("cum")
    )
    covers_hi = (F.col("cum") - F.col("cnt") <= F.col("hi")) & (
        F.col("hi") < F.col("cum")
    )
    res = c.groupBy(*grp).agg(
        F.max(F.when(covers_lo, F.col("v100"))).alias("v_lo"),
        F.max(F.when(covers_hi, F.col("v100"))).alias("v_hi"),
        F.first(F.col("pos") - F.col("lo")).alias("frac"),
    )
    # interpolate on the /100 values (quantile_cont's exact shape)
    vlo = F.col("v_lo") / 100.0
    vhi = F.col("v_hi") / 100.0
    val = vlo + F.col("frac") * (vhi - vlo)
    return res.select(
        "bucket",
        "metric",
        F.col("w2").alias("wts"),
        F.round(val, ndigits).alias(out),
    )


# ----------------------------------------------------- distinct sketches


def distinct_rollup_agg(
    sketches: DataFrame,
    window_ms: int,
    rollup_res_ms: int = 3_600_000,
    out: str = "approx_users",
) -> DataFrame:
    """Answer a coarser-window distinct-count query from sketch
    partials: one keyed shuffle over (event_type, window) cells whose
    payload is KB-sized sketches, independent of point count."""
    if window_ms % rollup_res_ms != 0:
        raise ValueError(
            f"window {window_ms}ms is not a multiple of rollup {rollup_res_ms}ms"
        )
    return (
        sketches.select("event_type", rewindow(window_ms).alias("wts"), "sketch")
        .groupBy("event_type", "wts")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(out))
    )


def portable_distinct_agg(
    registers: DataFrame,
    window_ms: int,
    rollup_res_ms: int = 3_600_000,
    out: str = "approx_users",
) -> DataFrame:
    """Coarser-window distinct estimate from PACKED portable-HLL
    partials: one keyed shuffle over (event_type, window) cells — ONE
    array row each, independent of point count. The element-wise
    greatest merge is lossless (max is associative per bucket), so the
    day answer equals a sketch built at day grain directly; the
    estimate is the deterministic expression the DuckDB oracle replays
    bit-for-bit from the register relation (packed and relation forms
    produce identical integers — operators/sketches.py). Physical
    shape: posexplode → map-side partial max → integer Z/V, all
    whole-stage codegen (hll_merge_estimate_packed)."""
    from dqe_spark.operators.sketches import hll_merge_estimate_packed

    if window_ms % rollup_res_ms != 0:
        raise ValueError(
            f"window {window_ms}ms is not a multiple of rollup {rollup_res_ms}ms"
        )
    return hll_merge_estimate_packed(
        registers.select(
            "event_type", rewindow(window_ms).alias("wts"), "regs"
        ),
        ["event_type", "wts"],
        out,
    )


# ------------------------------------------------------------ ladder table

#: tag dimensions carried by the tagged rollup — the view's plain tag
#: columns. At 100 TB these are low-cardinality dims, so the tagged
#: partial count is |metrics| × (observed dim combos) per window — a
#: small constant factor over the plain rollup, bought once at ingest.
TAGGED_DIMS = ("host", "dc", "user")

#: canonical column types of the scalar partials — every write (build,
#: cascade, merge) casts to these, so a level has one schema whichever
#: call created it and rewritten partitions stay schema-identical to
#: untouched ones (mixed decimal widths across parquet footers would
#: poison later reads)
_PARTIAL_TYPES = {
    "cnt": "long", "sum": "decimal(28,2)", "sum_sq": "decimal(38,4)",
    "min": "double", "max": "double", "sum_conf": "decimal(28,2)",
}

#: lgConfigK of the DataSketches HLL partials (~1.6 % relative std.
#: error, ≤4 KB per sketch)
HLL_LG_K = 12

_METRIC_PART = ("bucket", "metric")
_EVENT_PART = ("event_type",)
_EVENT_KEY = ("event_type", "wts")


@dataclass(frozen=True)
class Level:
    """How one ladder kind is laid out, derived and maintained."""

    stem: str  #: store dir name: ``<stem>_<res>ms``
    base: int  #: resolution built from the source; coarser ones cascade
    source: str  #: ``metrics`` or ``events``
    part: tuple[str, ...]  #: partition columns = a merge's touched keys
    key: tuple[str, ...]  #: one partial row per key
    sort: tuple[str, ...]  #: sort columns within a partition
    #: (source rows, res_ms, layout markers) → partial rows
    partials: Callable[[DataFrame, int, dict], DataFrame]
    #: (partial rows, key) → one merged row per key; merges and
    #: cascades (rows re-windowed first) both fold with it
    fold: Callable[[DataFrame, list], DataFrame]
    #: value column → type every write casts to
    types: dict[str, str] = field(default_factory=dict)
    #: (source rows, res_ms, **build options) → layout markers of a
    #: fresh build (the CMS width)
    layout: Callable[..., dict] | None = None
    #: a loaded store → True when its on-disk layout is outdated and
    #: must be rebuilt in place
    stale: Callable[[DataFrame], bool] | None = None
    #: (merged rows, markers, store) → build options of a wider layout
    #: to rebuild at, or None when the merged rows fit the stored one
    regrow: Callable[[DataFrame, dict, Path], dict | None] | None = None


def _fold_partials(df: DataFrame, key: list) -> DataFrame:
    """The merge of scalar partial rows: cnt/sums add, min/max fold."""
    return df.groupBy(*key).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum").alias("sum"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        F.sum("sum_conf").alias("sum_conf"),
    )


def _fold_counts(df: DataFrame, key: list) -> DataFrame:
    return df.groupBy(*key).agg(F.sum("cnt").alias("cnt"))


def _event_cells(events: DataFrame, res_ms: int) -> DataFrame:
    return events.select(
        "event_type", rewindow(res_ms, "ts_ms").alias("wts"), "user_id"
    )


def _sketch_partials(events: DataFrame, res_ms: int, _m: dict) -> DataFrame:
    return (
        _event_cells(events, res_ms)
        .groupBy(*_EVENT_KEY)
        .agg(F.hll_sketch_agg("user_id", F.lit(HLL_LG_K)).alias("sketch"))
    )


def _fold_sketches(df: DataFrame, key: list) -> DataFrame:
    return df.groupBy(*key).agg(
        F.hll_union_agg("sketch", F.lit(True)).alias("sketch")
    )


def _packed_partials(events: DataFrame, res_ms: int, _m: dict) -> DataFrame:
    from dqe_spark.operators.sketches import hll_pack, hll_registers

    key = list(_EVENT_KEY)
    return hll_pack(
        hll_registers(_event_cells(events, res_ms), key, "user_id"), key
    )


def _fold_packed(df: DataFrame, key: list) -> DataFrame:
    from dqe_spark.operators.sketches import hll_merge_packed

    return hll_merge_packed(df, key)


def _packed_layout_outdated(df: DataFrame) -> bool:
    # the pre-round-8 register relation (no regs column) and the
    # short-lived dense int-array pack (regs: array<int>)
    return "regs" not in df.columns or not dict(df.dtypes)["regs"].startswith(
        "array<struct"
    )


def _cms_w(markers: dict) -> int:
    """The counter width a CMS store was hashed with — its ``_WIDTH``
    marker; a pre-marker store is the legacy fixed CMS_W layout."""
    from dqe_spark.operators import sketches as SK

    return int(markers["_WIDTH"]) if "_WIDTH" in markers else SK.CMS_W


def _cms_partials(events: DataFrame, res_ms: int, markers: dict) -> DataFrame:
    from dqe_spark.operators.sketches import cms_registers

    return cms_registers(
        _event_cells(events, res_ms), list(_EVENT_KEY), "user_id",
        w=_cms_w(markers),
    )


def _fold_counters(df: DataFrame, key: list) -> DataFrame:
    from dqe_spark.operators.sketches import cms_merge

    return cms_merge(df, key)


def _cms_layout(events: DataFrame, res_ms: int, w: int | None = None) -> dict:
    """``w=None`` AUTO-SIZES the width from the heaviest cell's event
    count (sketches.auto_cms_width: mean counter load ≤
    CMS_TARGET_LOAD, so the εN overshoot is an absolute budget at any
    corpus size). The sizing pass is one map-side-combined count over
    (event_type, wts) — |cells| output rows."""
    from dqe_spark.operators.sketches import auto_cms_width

    if w is None:
        n_max = (
            _event_cells(events, res_ms)
            .where(F.col("user_id").isNotNull())
            .groupBy(*_EVENT_KEY)
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        w = auto_cms_width(int(n_max or 0))
    return {"_WIDTH": str(w)}


def _cms_regrow(merged: DataFrame, markers: dict, out: Path) -> dict | None:
    """CMS width migration: if the merged store's heaviest cell
    outgrows the stored width's load budget, the store is LOUDLY
    rebuilt at the wider layout — counters hashed mod W cannot be
    re-hashed to 2W, so unlike gram_store's rebucket this migration
    goes back to the events source of record (the merge then re-folds
    the in-hand increment). Per-cell totals come from the d=0 counter
    row (Σc over one hash row IS the cell's event count — no raw
    scan)."""
    from dqe_spark.operators.sketches import auto_cms_width

    n_max = (
        merged.where(F.col("d") == 0)
        .groupBy(*_EVENT_KEY)
        .agg(F.sum("c").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    w, want = _cms_w(markers), auto_cms_width(int(n_max or 0))
    if want <= w:
        return None
    print(
        f"[rollup] CMS store {out} width {w} under-sized for its "
        f"heaviest cell ({n_max} events): rebuilding at width {want} "
        "from the events source + this increment (counters cannot "
        "re-hash across widths)"
    )
    return {"w": want}


#: every ladder kind, keyed by the names expire_rollup_before accepts
LADDER: dict[str, Level] = {
    # exact scalar partials (cnt, sum, sum_sq, min, max, sum_conf)
    "rollup": Level(
        "rollup", 60_000, "metrics", _METRIC_PART, (*_METRIC_PART, "wts"),
        ("wts",), lambda pts, res, _m: point_partials(pts, res),
        _fold_partials, _PARTIAL_TYPES,
    ),
    # exact per-window value counts: percentile/median from partials
    "hist": Level(
        "rollup_hist", 60_000, "metrics", _METRIC_PART,
        (*_METRIC_PART, "wts", "v100"), ("wts", "v100"),
        lambda pts, res, _m: hist_partials(pts, res),
        _fold_counts, {"cnt": "long"},
    ),
    # the scalar partials with the tag dims in the key: window
    # aggregates under tag WHERE predicates rewrite onto partials, the
    # dim predicate a plain-column PushedFilter on the partial scan
    "tagged": Level(
        "rollup_tagged", 60_000, "metrics", _METRIC_PART,
        (*_METRIC_PART, *TAGGED_DIMS, "wts"), ("wts",),
        lambda pts, res, _m: point_partials(pts, res, TAGGED_DIMS),
        _fold_partials, _PARTIAL_TYPES,
    ),
    # tag-filtered percentile/median: the most granular level, bounded
    # by the value domain per window rather than the point count
    "tagged_hist": Level(
        "rollup_tagged_hist", 60_000, "metrics", _METRIC_PART,
        (*_METRIC_PART, *TAGGED_DIMS, "wts", "v100"), ("wts", "v100"),
        lambda pts, res, _m: hist_partials(pts, res, TAGGED_DIMS),
        _fold_counts, {"cnt": "long"},
    ),
    # Apache DataSketches HLL binaries per (event_type, window):
    # distinct counts do not decompose exactly, sketches union-merge
    "distinct": Level(
        "rollup_distinct", 3_600_000, "events", _EVENT_PART, _EVENT_KEY,
        ("wts",), _sketch_partials, _fold_sketches,
    ),
    # the oracle-replayable portable HLL (operators/sketches.py), packed
    # ONE row per cell — (event_type, wts, regs) with regs a
    # bucket-sorted sparse array<struct<bucket,r>>; max-merge is lossless
    "pdistinct": Level(
        "rollup_pdistinct", 3_600_000, "events", _EVENT_PART, _EVENT_KEY,
        ("wts",), _packed_partials, _fold_packed,
        stale=_packed_layout_outdated,
    ),
    # portable Count-Min counters (event_type, wts, d, pos, c) over
    # user_id: ≤ D·W rows per cell, SUM-merge lossless; the width the
    # rows were hashed at is pinned in the store's _WIDTH marker
    "cms": Level(
        "rollup_cms", 3_600_000, "events", _EVENT_PART, _EVENT_KEY,
        ("wts",), _cms_partials, _fold_counters,
        layout=_cms_layout, regrow=_cms_regrow,
    ),
}


def _level(kind: str) -> Level:
    if kind not in LADDER:
        raise ValueError(f"unknown ladder {kind!r}: {sorted(LADDER)}")
    return LADDER[kind]


def _root(sf_dir: str) -> Path:
    return STORE_ROOT / Path(sf_dir.rstrip("/")).name


def ladder_dir(kind: str, sf_dir: str, res_ms: int) -> Path:
    """The store directory of one ladder level."""
    return _root(sf_dir) / f"{_level(kind).stem}_{res_ms}ms"


def _done(out: Path) -> bool:
    return (out / "_SUCCESS").exists()


def _typed(lv: Level, df: DataFrame) -> DataFrame:
    if not lv.types:
        return df
    return df.select(
        *lv.key, *[F.col(c).cast(t).alias(c) for c, t in lv.types.items()]
    )


def _coarsen(lv: Level, rows: DataFrame, res_ms: int) -> DataFrame:
    """Partial rows re-aggregated to ``res_ms`` windows — exact, since
    every kind's partials merge losslessly."""
    return _typed(
        lv, lv.fold(rows.withColumn("wts", rewindow(res_ms)), list(lv.key))
    )


def _source(spark: SparkSession, sf_dir: str, source: str) -> DataFrame:
    from dqe_spark.sources.metric_store import load_events, load_metrics

    return (load_metrics if source == "metrics" else load_events)(spark, sf_dir)


def build(
    kind: str,
    spark: SparkSession,
    sf_dir: str,
    res_ms: int | None = None,
    force: bool = False,
    **layout,
) -> Path:
    """Materialize one ladder level (idempotent unless ``force``;
    atomic via tmp-dir rename). A level coarser than the kind's base is
    cascaded from the base, never built from raw points; ``layout``
    options go to the kind's layout sizing (the CMS ``w``)."""
    lv = _level(kind)
    res = res_ms or lv.base
    out = ladder_dir(kind, sf_dir, res)
    if not force and _done(out):
        return out
    if res > lv.base and res % lv.base == 0:
        return cascade(kind, spark, sf_dir, lv.base, res, force=True)
    src = _source(spark, sf_dir, lv.source)
    markers = lv.layout(src, res, **layout) if lv.layout else {}
    return _atomic_write(
        _typed(lv, lv.partials(src, res, markers)), out,
        part_cols=lv.part, sort_cols=lv.sort, markers=markers,
    )


def cascade(
    kind: str,
    spark: SparkSession,
    sf_dir: str,
    from_res_ms: int | None = None,
    to_res_ms: int = 3_600_000,
    force: bool = False,
) -> Path:
    """Build a coarser level FROM a finer one — partials re-aggregate
    exactly, so the hierarchy costs one pass over the finer level,
    never a raw scan. This is how a 1s→1m→1h→1d ladder stays cheap to
    maintain at 100 TB: each level reads only the level below."""
    lv = _level(kind)
    fine_res = from_res_ms or lv.base
    if to_res_ms % fine_res != 0:
        raise ValueError("coarse resolution must be a multiple of the fine one")
    out = ladder_dir(kind, sf_dir, to_res_ms)
    if not force and _done(out):
        return out
    fine = load(kind, spark, sf_dir, fine_res)
    return _atomic_write(
        _coarsen(lv, fine, to_res_ms), out, part_cols=lv.part,
        sort_cols=lv.sort,
        markers=_sidecar_markers(ladder_dir(kind, sf_dir, fine_res)),
    )


def _load(
    spark: SparkSession,
    p: Path,
    make: Callable[..., Path],
    stale: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """The store ``p``, made by ``make()`` when missing (and rebuilt by
    ``make(force=True)`` when ``stale``), memoized per session."""
    if not _done(p):
        make()

    def read() -> DataFrame:
        df = spark.read.parquet(str(p))
        if stale is not None and stale(df):
            make(force=True)
            df = spark.read.parquet(str(p))
        return df

    return session_load_memo(spark, ("store", str(p)), read)


def load(
    kind: str, spark: SparkSession, sf_dir: str, res_ms: int | None = None
) -> DataFrame:
    """One ladder level, built (or cascaded) first when missing."""
    lv = _level(kind)
    res = res_ms or lv.base
    return _load(
        spark, ladder_dir(kind, sf_dir, res),
        partial(build, kind, spark, sf_dir, res), lv.stale,
    )


def _coarser_on_disk(kind: str, sf_dir: str, res_ms: int) -> list[int]:
    """Resolutions of the complete levels of ``kind`` that cascade from
    ``res_ms`` (coarser multiples of it)."""
    pat = re.compile(rf"{re.escape(_level(kind).stem)}_(\d+)ms")
    found = []
    for p in _root(sf_dir).glob("*ms"):
        m = pat.fullmatch(p.name)
        if m and int(m[1]) > res_ms and int(m[1]) % res_ms == 0 and _done(p):
            found.append(int(m[1]))
    return sorted(found)


def merge(
    kind: str,
    spark: SparkSession,
    new: DataFrame,
    sf_dir: str,
    res_ms: int | None = None,
) -> Path:
    """Fold newly-landed source rows into one ladder level WITHOUT a
    full rebuild: partials are mergeable by construction, so the update
    reads and rewrites only the partitions the increment touches — an
    hourly backfill costs proportional to the new data, not the store.

    The one touched-partition fold: semijoin the touched keys, union
    the increment's partials, fold, localCheckpoint (so the write does
    not read the path it overwrites), dynamic-overwrite exactly those
    partitions. Every coarser level of the kind on disk is then
    re-cascaded from the same merged rows, so it stays equal to a
    cascade of this level. This is the batch twin of the streaming
    partials (late/backfill data beyond the stream's watermark lands
    here)."""
    lv = _level(kind)
    res = res_ms or lv.base
    out = ladder_dir(kind, sf_dir, res)
    if not _done(out):
        return build(kind, spark, sf_dir, res)
    markers = _sidecar_markers(out)
    inc = lv.partials(new, res, markers)
    touched = inc.select(*lv.part).distinct()
    existing = spark.read.parquet(str(out)).join(
        F.broadcast(touched), list(lv.part), "left_semi"
    )
    merged = _typed(
        lv, lv.fold(existing.unionByName(inc), list(lv.key))
    ).localCheckpoint(eager=True)
    if lv.regrow is not None:
        wider = lv.regrow(merged, markers, out)
        if wider:
            build(kind, spark, sf_dir, res, force=True, **wider)
            return merge(kind, spark, new, sf_dir, res)
    overwrite_partitions(merged, out, lv.part, lv.sort)
    for coarse in _coarser_on_disk(kind, sf_dir, res):
        overwrite_partitions(
            _coarsen(lv, merged, coarse), ladder_dir(kind, sf_dir, coarse),
            lv.part, lv.sort,
        )
    return out


# The per-kind names every caller uses: bindings of the verbs above.
build_rollup = partial(build, "rollup")
build_hist_rollup = partial(build, "hist")
build_tagged_rollup = partial(build, "tagged")
build_tagged_hist_rollup = partial(build, "tagged_hist")
build_distinct_rollup = partial(build, "distinct")
build_portable_distinct_rollup = partial(build, "pdistinct")
build_cms_rollup = partial(build, "cms")

cascade_rollup = partial(cascade, "rollup")
cascade_tagged_rollup = partial(cascade, "tagged")

load_rollup = partial(load, "rollup")
load_hist_rollup = partial(load, "hist")
load_tagged_rollup = partial(load, "tagged")
load_tagged_hist_rollup = partial(load, "tagged_hist")
load_distinct_rollup = partial(load, "distinct")
load_portable_distinct_rollup = partial(load, "pdistinct")
load_cms_rollup = partial(load, "cms")

merge_rollup_increment = partial(merge, "rollup")
merge_hist_increment = partial(merge, "hist")
merge_tagged_increment = partial(merge, "tagged")
merge_tagged_hist_increment = partial(merge, "tagged_hist")
merge_distinct_increment = partial(merge, "distinct")
merge_portable_distinct_increment = partial(merge, "pdistinct")
merge_cms_increment = partial(merge, "cms")


# ------------------------------------------------------------- retention


def expire_rollup_before(
    spark: SparkSession,
    sf_dir: str,
    cutoff_ms: int,
    res_ms: int,
    ladder: str = "rollup",
) -> Path | None:
    """TTL for a ladder level: drop every partial window strictly older
    than the cutoff (aligned DOWN to the level's resolution, so a
    window containing the cutoff is always kept).

    The ladder stores partition by (bucket, metric) — time spans every
    partition, so retention here is a filter-rewrite of the whole
    level. That is the DESIGN POINT, not a compromise: rollups are the
    long-horizon store (raw points expire first via the metric store's
    partition-unlink `expire_before`; each ladder level is 60–1440×
    smaller than the level below), so the typical TTL ladder — raw 30d,
    1m one year, 1h forever — rewrites only the small stores and
    unlinks the big one. Atomic tmp-dir rename, same as the builders.
    A later merge into a level expired here re-cascades the partitions
    it touches into the coarser levels, which then lose these windows
    too. Returns the store path, or None if the level does not exist."""
    lv = _level(ladder)
    out = ladder_dir(ladder, sf_dir, res_ms)
    if not _done(out):
        return None
    aligned = cutoff_ms - (cutoff_ms % res_ms)
    kept = spark.read.parquet(str(out)).where(F.col("wts") >= aligned)
    return _atomic_write(
        kept.localCheckpoint(eager=True),
        out,
        f"_tmp_expire_{ladder}_{res_ms}ms",
        part_cols=lv.part,
        sort_cols=lv.sort,
        # carry the layout markers (CMS _WIDTH) through the rewrite:
        # the kept rows were hashed at that layout, and losing the
        # marker would fall every later probe back to the floor width
        markers=_sidecar_markers(out),
    )


# ----------------------------------------------------- CMS frequency

#: watchlist size: the serving probe set is deliberately tiny — a
#: monitoring caller brings a bounded key set, never "all keys".
CMS_WATCH_K = 20


def cms_width(sf_dir: str, res_ms: int = 3_600_000) -> int:
    """The counter width the on-disk CMS store was hashed with. Every
    probe and every oracle replay MUST use this width: positions are
    h mod W, so a width mismatch reads garbage counters, the same
    contract as gram_store's _BUCKETS marker."""
    return _cms_w(_sidecar_markers(ladder_dir("cms", sf_dir, res_ms)))


def build_cms_watchlist(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> Path:
    """The bounded probe set a CMS serve answers for: the top-K users
    by exact total event count at BUILD time (ties broken by smaller
    user_id — fully deterministic, so the oracle reselects the same
    set). Built once alongside the sketch store; a production caller
    would land its own watchlist instead."""
    from dqe_spark.sources.metric_store import load_events

    out = _root(sf_dir) / "cms_watchlist"
    if not force and _done(out):
        return out
    ev = load_events(spark, sf_dir)
    top = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("user_id").asc())
        .limit(CMS_WATCH_K)
        .select("user_id")
    )
    return _atomic_write(top, out, part_cols=(), sort_cols=("user_id",))


def load_cms_watchlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _load(
        spark, _root(sf_dir) / "cms_watchlist",
        partial(build_cms_watchlist, spark, sf_dir),
    )


def portable_retention_1d(
    spark: SparkSession,
    sf_dir: str,
    offset_days: int = 1,
    checkpoint: bool = True,
) -> DataFrame:
    """Day-over-day returning-user estimates from the packed
    portable-HLL store alone (the engine body of the
    rollup_retention_1d_serve registry query and the DQL
    ``retention()`` front door): day registers by max-merge, the
    union sketch per consecutive-day pair via an exploded pair key,
    then inclusion–exclusion on the rounded estimates, clamped at 0.
    ``offset_days`` sets the horizon: 1 = day-over-day, 7 = weekly
    return rate — the pair key just explodes with a different stride,
    so every horizon costs the same three register folds.
    Output: (event_type, day1, day2, day1_users, day2_users,
    union_users, returning_users, retention_bp). No raw-events scan —
    register algebra end to end (see operators/sketches.py for why
    every number replays bit-exact in DuckDB)."""
    from dqe_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_unpack,
    )

    DAY = 86_400_000
    # the day-register relation feeds FOUR consumers (two day-estimate
    # sides and the pair union); without a materialization barrier
    # Spark recomputes the unpack+merge per branch (14 exchanges
    # measured). Registers are sketch-bounded (≤ m rows per day cell
    # at ANY corpus size), so an eager localCheckpoint is safe and
    # keeps the serve one store read. The checkpointed relations are
    # a pure function of the store, so they live in the store load memo
    # (store.session_load_memo; any write drops them): a warm serve
    # pays only the pair-key folds, not the unpack+merge — any
    # offset_days horizon shares the same memo entry (the horizon only
    # enters at the pair explode below).
    # ``checkpoint=False`` keeps full lineage in the plan so the
    # serving-path guard can assert store-only scans; the default
    # serves through the barriers.
    def day_registers():
        sk = load_portable_distinct_rollup(spark, sf_dir, 3_600_000)
        hreg = hll_unpack(sk, ["event_type", "wts"])
        _bar = (
            (lambda df: df.localCheckpoint(eager=True))
            if checkpoint
            else (lambda df: df)
        )
        dreg = _bar(
            hll_merge(
                hreg.withColumn("wts", rewindow(DAY)),
                ["event_type", "wts"],
            )
        )
        return dreg, _bar(
            hll_estimate(dreg, ["event_type", "wts"], "approx_users")
        )

    dreg, dest = (
        session_load_memo(
            spark,
            ("dreg", str(ladder_dir("pdistinct", sf_dir, 3_600_000))),
            day_registers,
        )
        if checkpoint
        else day_registers()
    )
    OFF = offset_days * DAY
    preg = hll_merge(
        dreg.select(
            "event_type",
            F.explode(
                F.array(F.col("wts"), F.col("wts") - F.lit(OFF))
            ).alias("p"),
            "bucket",
            "r",
        ),
        ["event_type", "p"],
    )
    pest = hll_estimate(preg, ["event_type", "p"], "union_users")
    d1 = dest.select(
        "event_type",
        F.col("wts").alias("day1"),
        F.col("approx_users").alias("day1_users"),
    )
    d2 = dest.select(
        "event_type",
        (F.col("wts") - F.lit(OFF)).alias("day1"),
        F.col("approx_users").alias("day2_users"),
    )
    ret = F.greatest(
        F.col("day1_users") + F.col("day2_users") - F.col("union_users"),
        F.lit(0).cast("long"),
    )
    return (
        d1.join(d2, ["event_type", "day1"])
        .join(pest.withColumnRenamed("p", "day1"), ["event_type", "day1"])
        .select(
            "event_type",
            "day1",
            (F.col("day1") + F.lit(OFF)).alias("day2"),
            "day1_users",
            "day2_users",
            "union_users",
            ret.alias("returning_users"),
            # greatest(.., 1): if sketch noise ever rounds a day
            # estimate to 0, Spark's div would yield NULL while
            # DuckDB's // raises — guard BOTH dialects identically so
            # the degenerate cell stays hash-comparable.
            F.expr(
                "greatest(day1_users + day2_users - union_users, "
                "CAST(0 AS BIGINT)) * 10000 div greatest(day1_users, 1)"
            ).alias("retention_bp"),
        )
    )
