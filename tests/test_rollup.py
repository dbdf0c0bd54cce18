"""Rollup store: pre-aggregated partials must answer distributive
window aggregates identically to a raw scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_rollup_equals_raw(spark):
    from dqe_spark.operators.windows import agg_avg, window_agg
    from dqe_spark.sources.metric_store import load_metrics
    from dqe_spark.sources.rollup import load_rollup, rollup_window_agg

    r = load_rollup(spark, SF_SMOKE, 60_000)
    got = rollup_window_agg(r, 3_600_000, "avg")

    m = load_metrics(spark, SF_SMOKE)
    expect = window_agg(m, 3_600_000, agg_avg("value"), "avg_value")
    a = {(x["metric"], x["wts"], x["value"]) for x in got.collect()}
    b = {
        (x["metric"], x["wts"], round(x["avg_value"], 4))
        for x in expect.collect()
    }
    assert a == b and a


def test_rollup_guards(spark):
    from dqe_spark.sources.rollup import load_rollup, rollup_window_agg, supports

    r = load_rollup(spark, SF_SMOKE, 60_000)
    assert not supports("percentile")
    with pytest.raises(ValueError):
        rollup_window_agg(r, 3_600_000, "percentile")
    with pytest.raises(ValueError):
        rollup_window_agg(r, 90_000, "avg")  # not a multiple of 60s


def test_rollup_partition_pruning(spark):
    from dqe_spark.plans.debug import explain_string
    from dqe_spark.sources.rollup import load_rollup

    r = load_rollup(spark, SF_SMOKE, 60_000).where(
        F.col("metric") == "events.click"
    )
    plan = explain_string(r.select("wts", "cnt"))
    assert "PartitionFilters" in plan and "events.click" in plan


def test_hist_rollup_percentile_equals_raw(spark):
    from pyspark.sql import functions as F

    from dqe_spark.sources.metric_store import load_metrics
    from dqe_spark.sources.rollup import hist_rollup_percentile, load_hist_rollup

    h = load_hist_rollup(spark, SF_SMOKE, 60_000)
    got = hist_rollup_percentile(h, 3_600_000, 0.5)
    m = load_metrics(spark, SF_SMOKE)
    ref = (
        m.withColumn("wts", F.col("ts_ms") - F.col("ts_ms") % 3_600_000)
        .groupBy("metric", "wts")
        .agg(F.round(F.percentile("value", F.lit(0.5)), 4).alias("value"))
    )
    a = {(r["metric"], r["wts"], r["value"]) for r in got.collect()}
    b = {(r["metric"], r["wts"], r["value"]) for r in ref.collect()}
    assert a == b and a


def test_incremental_merge_equals_full_rebuild(spark, tmp_path):
    """Partials merged incrementally (initial build from the first half
    of the data + merge of the second half) must be row-identical to a
    full rebuild — and only the affected partitions are rewritten."""
    import shutil as _sh

    from dqe_spark.sources import rollup as R
    from dqe_spark.sources.metric_store import load_metrics

    sf = SF_SMOKE
    res = 60_000
    full_dir = R.build_rollup(spark, sf, res, force=True)
    expected = {
        tuple(r) for r in spark.read.parquet(str(full_dir))
        .select("bucket", "metric", "wts", "cnt", "sum", "sum_sq",
                "min", "max", "sum_conf").collect()
    }

    m = load_metrics(spark, sf)
    cut = int(m.agg(F.expr("percentile(ts_ms, 0.5)")).collect()[0][0])
    first, second = m.where(F.col("ts_ms") < cut), m.where(F.col("ts_ms") >= cut)

    # seed the store with the first half only, then merge the rest
    R._atomic_write(R.point_partials(first, res), full_dir, "_tmp_inc_seed")
    R.merge_rollup_increment(spark, second, sf, res)

    got = {
        tuple(r) for r in spark.read.parquet(str(full_dir))
        .select("bucket", "metric", "wts", "cnt", "sum", "sum_sq",
                "min", "max", "sum_conf").collect()
    }
    assert got == expected

    # leave a clean full rollup for other tests
    R.build_rollup(spark, sf, res, force=True)


def test_incremental_merge_new_metric_partition(spark):
    """An increment for a metric the rollup has never seen must create
    its partition without disturbing the others."""
    from dqe_spark.sources import rollup as R

    res = 60_000
    out = R.build_rollup(spark, SF_SMOKE, res, force=True)
    before = spark.read.parquet(str(out))
    n_before = before.count()

    new = spark.createDataFrame(
        [("events", "events.synthetic_new", 60_000 * 7, 3.25, 1.0),
         ("events", "events.synthetic_new", 60_000 * 7 + 1000, 1.75, 1.0)],
        "bucket string, metric string, ts_ms long, value double, confidence double",
    )
    R.merge_rollup_increment(spark, new, SF_SMOKE, res)
    after = spark.read.parquet(str(out))
    added = after.where(F.col("metric") == "events.synthetic_new").collect()
    assert len(added) == 1
    row = added[0]
    assert row["cnt"] == 2 and float(row["sum"]) == 5.0
    assert row["min"] == 1.75 and row["max"] == 3.25
    assert after.count() == n_before + 1

    R.build_rollup(spark, SF_SMOKE, res, force=True)


def test_distinct_rollup_estimate_within_tolerance(spark):
    """HLL sketch partials merged to 1d estimate within 2% of the
    exact distinct count (lgConfigK=12 → ~1.6% rel std err; small
    per-cell cardinalities at smoke scale are near-exact)."""
    from dqe_spark.sources import rollup as R
    from dqe_spark.sources.metric_store import load_events

    R.build_distinct_rollup(spark, SF_SMOKE, 3_600_000, force=True)
    sk = R.load_distinct_rollup(spark, SF_SMOKE, 3_600_000)
    est = {
        (r["event_type"], r["wts"]): r["approx_users"]
        for r in R.distinct_rollup_agg(sk, 86_400_000).collect()
    }
    ev = load_events(spark, SF_SMOKE)
    exact = {
        (r["event_type"], r["wts"]): r["n"]
        for r in ev.select(
            "event_type",
            (F.col("ts_ms") - (F.col("ts_ms") % F.lit(86_400_000))).alias("wts"),
            "user_id",
        )
        .groupBy("event_type", "wts")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(1, 0.02 * n), (k, est[k], n)


def test_distinct_increment_matches_full_rebuild(spark):
    """Splitting the events in two and merging the second half as an
    increment estimates identically to a one-shot build (HLL union is
    exact over sketches)."""
    from dqe_spark.sources import rollup as R
    from dqe_spark.sources.metric_store import load_events

    ev = load_events(spark, SF_SMOKE)
    cut = ev.agg(F.expr("percentile_approx(ts_ms, 0.5)")).first()[0]
    full = R.build_distinct_rollup(spark, SF_SMOKE, 3_600_000, force=True)
    want = sorted(
        (r["event_type"], r["wts"], r["approx_users"])
        for r in R.distinct_rollup_agg(
            spark.read.parquet(str(full)), 86_400_000
        ).collect()
    )

    # rebuild from only the first half, then merge the second half
    import shutil

    first = ev.where(F.col("ts_ms") < cut)
    second = ev.where(F.col("ts_ms") >= cut)
    out = R.ladder_dir("distinct", SF_SMOKE, 3_600_000)
    shutil.rmtree(out)
    R._atomic_write(
        first.select(
            "event_type",
            (F.col("ts_ms") - (F.col("ts_ms") % F.lit(3_600_000))).alias("wts"),
            "user_id",
        )
        .groupBy("event_type", "wts")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sketch")),
        out,
        "_tmp_rollup_distinct_halftest",
        part_cols=("event_type",),
    )
    R.merge_distinct_increment(spark, second, SF_SMOKE, 3_600_000)
    got = sorted(
        (r["event_type"], r["wts"], r["approx_users"])
        for r in R.distinct_rollup_agg(
            R.load_distinct_rollup(spark, SF_SMOKE, 3_600_000), 86_400_000
        ).collect()
    )
    assert got == want
    R.build_distinct_rollup(spark, SF_SMOKE, 3_600_000, force=True)


def test_portable_distinct_merge_is_lossless(spark):
    """Portable-HLL max-merge associativity: hourly registers folded
    to day cells equal registers built directly at day grain — the
    property that lets the store keep ONE base resolution and serve
    any coarser window exactly as if sketched there."""
    from dqe_spark.operators import sketches as SK
    from dqe_spark.sources.metric_store import load_events

    ev = load_events(spark, SF_SMOKE).select(
        "event_type",
        (F.col("ts_ms") - (F.col("ts_ms") % F.lit(3_600_000))).alias("hts"),
        (F.col("ts_ms") - (F.col("ts_ms") % F.lit(86_400_000))).alias("wts"),
        "user_id",
    )
    hourly = SK.hll_registers(ev, ["event_type", "hts", "wts"], "user_id")
    merged = sorted(
        tuple(r)
        for r in SK.hll_merge(hourly, ["event_type", "wts"])
        .select("event_type", "wts", "bucket", "r")
        .collect()
    )
    direct = sorted(
        tuple(r)
        for r in SK.hll_registers(ev, ["event_type", "wts"], "user_id")
        .select("event_type", "wts", "bucket", "r")
        .collect()
    )
    assert merged == direct


def test_portable_distinct_estimate_within_tolerance(spark):
    """Portable-HLL day estimates within 2% of exact at smoke scale
    (same bound as the DataSketches twin — small per-cell counts sit
    in the near-exact linear-counting regime)."""
    from dqe_spark.sources import rollup as R
    from dqe_spark.sources.metric_store import load_events

    R.build_portable_distinct_rollup(spark, SF_SMOKE, 3_600_000, force=True)
    sk = R.load_portable_distinct_rollup(spark, SF_SMOKE, 3_600_000)
    est = {
        (r["event_type"], r["wts"]): r["approx_users"]
        for r in R.portable_distinct_agg(sk, 86_400_000).collect()
    }
    ev = load_events(spark, SF_SMOKE)
    exact = {
        (r["event_type"], r["wts"]): r["n"]
        for r in ev.select(
            "event_type",
            (F.col("ts_ms") - (F.col("ts_ms") % F.lit(86_400_000))).alias("wts"),
            "user_id",
        )
        .groupBy("event_type", "wts")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(1, 0.02 * n), (k, est[k], n)


def test_portable_distinct_increment_matches_full_rebuild(spark):
    """Folding a second half of the events into the portable register
    store equals the one-shot build bit-for-bit (max is idempotent and
    associative — no estimate drift across increments)."""
    from dqe_spark.sources import rollup as R
    from dqe_spark.sources.metric_store import load_events

    ev = load_events(spark, SF_SMOKE)
    cut = ev.agg(F.expr("percentile_approx(ts_ms, 0.5)")).first()[0]
    from dqe_spark.operators import sketches as SK

    R.build_portable_distinct_rollup(spark, SF_SMOKE, 3_600_000, force=True)
    want = sorted(
        tuple(r)
        for r in SK.hll_unpack(
            R.load_portable_distinct_rollup(spark, SF_SMOKE, 3_600_000),
            ["event_type", "wts"],
        ).collect()
    )

    import shutil

    first = ev.where(F.col("ts_ms") < cut)
    second = ev.where(F.col("ts_ms") >= cut)
    out = R.ladder_dir("pdistinct", SF_SMOKE, 3_600_000)
    shutil.rmtree(out)
    R._atomic_write(
        SK.hll_pack(
            SK.hll_registers(
                first.select(
                    "event_type",
                    (
                        F.col("ts_ms") - (F.col("ts_ms") % F.lit(3_600_000))
                    ).alias("wts"),
                    "user_id",
                ),
                ["event_type", "wts"],
                "user_id",
            ),
            ["event_type", "wts"],
        ),
        out,
        "_tmp_rollup_pdistinct_halftest",
        part_cols=("event_type",),
    )
    R.merge_portable_distinct_increment(spark, second, SF_SMOKE, 3_600_000)
    got = sorted(
        tuple(r)
        for r in SK.hll_unpack(
            R.load_portable_distinct_rollup(spark, SF_SMOKE, 3_600_000),
            ["event_type", "wts"],
        ).collect()
    )
    assert got == want
    R.build_portable_distinct_rollup(spark, SF_SMOKE, 3_600_000, force=True)


def test_portable_packed_equals_register_relation(spark):
    """Register-vs-array equivalence (round-7 verdict next-round #1):
    the PACKED layout (one array row per cell) and the register
    relation produce the SAME exact integers — pack→unpack is the
    identity on occupied buckets, and the packed estimate equals the
    relation-form estimate bit-for-bit (2^(RMAX−0) = 2^RMAX makes
    Z identical across the two Z formulas)."""
    from dqe_spark.operators import sketches as SK
    from dqe_spark.sources.metric_store import load_events

    ev = load_events(spark, SF_SMOKE).select(
        "event_type",
        (F.col("ts_ms") - (F.col("ts_ms") % F.lit(86_400_000))).alias("wts"),
        "user_id",
    )
    regs = SK.hll_registers(ev, ["event_type", "wts"], "user_id")
    packed = SK.hll_pack(regs, ["event_type", "wts"])

    rel = sorted(tuple(r) for r in regs.collect())
    roundtrip = sorted(
        tuple(r)
        for r in SK.hll_unpack(packed, ["event_type", "wts"]).collect()
    )
    assert rel == roundtrip and rel

    est_rel = sorted(
        tuple(r)
        for r in SK.hll_estimate(regs, ["event_type", "wts"]).collect()
    )
    est_packed = sorted(
        tuple(r)
        for r in SK.hll_estimate_packed(
            packed, ["event_type", "wts"]
        ).collect()
    )
    assert est_rel == est_packed

    # the serving shape (explode → partial max → direct Z/V) is
    # bit-identical to estimate∘merge over the packed arrays
    est_serve = sorted(
        tuple(r)
        for r in SK.hll_merge_estimate_packed(
            packed, ["event_type", "wts"]
        ).collect()
    )
    est_fold = sorted(
        tuple(r)
        for r in SK.hll_estimate_packed(
            SK.hll_merge_packed(packed, ["event_type", "wts"]),
            ["event_type", "wts"],
        ).collect()
    )
    assert est_serve == est_fold == est_rel


def test_partial_variance_wide_domain(spark):
    """Decimal widths in partial_value_expr must not silently overflow
    (ANSI off → NULL) for large merged sums. Advisor r3: the previous
    DECIMAL(15,2) sum cast NULLed variance from |Σv| >= 10^13. The
    documented domain is now |Σv| < 10^16, Σv² < 10^20, n < 10^11 —
    exercise Σv = 10^13 (the old failure point) and Σv = 5·10^14 with
    Σv² ≈ 5·10^19 (near the new bound)."""
    from decimal import Decimal

    from dqe_spark.sources.rollup import rollup_window_agg

    schema = (
        "bucket string, metric string, wts long, cnt long, "
        "sum decimal(28,2), sum_sq decimal(38,4), min double, max double, "
        "sum_conf decimal(28,2)"
    )

    def partials(cnt, a, b):
        # two 1m partial rows in one 1h window: cnt points each of
        # constant value a resp. b -> merged var = ((a-m)^2+(b-m)^2)/2
        return spark.createDataFrame(
            [
                ("b", "m", 0, cnt, Decimal(cnt) * Decimal(a),
                 Decimal(cnt) * Decimal(a) * Decimal(a), float(a), float(a),
                 Decimal(cnt)),
                ("b", "m", 60_000, cnt, Decimal(cnt) * Decimal(b),
                 Decimal(cnt) * Decimal(b) * Decimal(b), float(b), float(b),
                 Decimal(cnt)),
            ],
            schema,
        )

    for cnt in (50_000_000, 2_500_000_000):  # Σv = 10^13 and 5·10^14
        r = partials(cnt, 90_000, 110_000)
        for agg, want in (
            ("variance", 1.0e8),
            ("stddev", 1.0e4),
            ("avg", 1.0e5),
            ("sum", float(cnt) * 200_000.0),
        ):
            rows = rollup_window_agg(r, 3_600_000, agg).collect()
            assert len(rows) == 1, (agg, cnt)
            got = rows[0]["value"]
            assert got is not None, f"{agg} @ cnt={cnt}: silent decimal overflow"
            assert got == pytest.approx(want, rel=1e-12), (agg, cnt, got)


def test_ladder_increments_equal_full_rebuild(spark):
    """Every remaining ladder level (hist, tagged, tagged-hist) merges
    increments to the exact same partials as a one-shot full build —
    same halves protocol as the plain-rollup increment test. The 1h
    scalar and tagged levels are cascaded from the first-half 1m level
    before the merge, and after the 1m merge must equal a cascade of
    the full 1m build."""
    from dqe_spark.sources import rollup as R
    from dqe_spark.sources.metric_store import load_metrics

    sf = SF_SMOKE
    res = 60_000
    m = load_metrics(spark, sf)
    cut = int(m.agg(F.expr("percentile(ts_ms, 0.5)")).collect()[0][0])
    first, second = m.where(F.col("ts_ms") < cut), m.where(F.col("ts_ms") >= cut)
    scalar = ("cnt", "sum", "sum_sq", "min", "max", "sum_conf")

    cases = [
        (
            "hist", res, R.build_hist_rollup, None, R.merge_hist_increment,
            ("bucket", "metric", "wts", "v100", "cnt"),
            lambda pts: R._atomic_write(
                pts.select(
                    "bucket", "metric",
                    (F.col("ts_ms") - F.col("ts_ms") % res).alias("wts"),
                    F.round(F.col("value") * 100).cast("long").alias("v100"),
                )
                .groupBy("bucket", "metric", "wts", "v100")
                .agg(F.count("*").alias("cnt")),
                R.ladder_dir("hist", sf, res), "_tmp_inc_seed_h",
                sort_cols=("wts", "v100"),
            ),
        ),
        (
            "tagged", res, R.build_tagged_rollup, None, R.merge_tagged_increment,
            ("bucket", "metric", *R.TAGGED_DIMS, "wts", *scalar),
            lambda pts: R._atomic_write(
                R.point_partials(pts, res, dims=R.TAGGED_DIMS),
                R.ladder_dir("tagged", sf, res), "_tmp_inc_seed_t",
            ),
        ),
        (
            "tagged_hist", res, R.build_tagged_hist_rollup, None,
            R.merge_tagged_hist_increment,
            ("bucket", "metric", *R.TAGGED_DIMS, "wts", "v100", "cnt"),
            lambda pts: R._atomic_write(
                pts.select(
                    "bucket", "metric", *R.TAGGED_DIMS,
                    (F.col("ts_ms") - F.col("ts_ms") % res).alias("wts"),
                    F.round(F.col("value") * 100).cast("long").alias("v100"),
                )
                .groupBy("bucket", "metric", *R.TAGGED_DIMS, "wts", "v100")
                .agg(F.count("*").alias("cnt")),
                R.ladder_dir("tagged_hist", sf, res), "_tmp_inc_seed_th",
                sort_cols=("wts", "v100"),
            ),
        ),
        (
            "rollup", 3_600_000, R.build_rollup, R.cascade_rollup,
            R.merge_rollup_increment,
            ("bucket", "metric", "wts", *scalar),
            lambda pts: R._atomic_write(
                R.point_partials(pts, res), R.ladder_dir("rollup", sf, res),
                "_tmp_inc_seed_r",
            ),
        ),
        (
            "tagged", 3_600_000, R.build_tagged_rollup, R.cascade_tagged_rollup,
            R.merge_tagged_increment,
            ("bucket", "metric", *R.TAGGED_DIMS, "wts", *scalar),
            lambda pts: R._atomic_write(
                R.point_partials(pts, res, dims=R.TAGGED_DIMS),
                R.ladder_dir("tagged", sf, res), "_tmp_inc_seed_t",
            ),
        ),
    ]

    def rows(kind, level, cols):
        return {
            tuple(r)
            for r in spark.read.parquet(str(R.ladder_dir(kind, sf, level)))
            .select(*cols)
            .collect()
        }

    for kind, level, build, cascade, merge, cols, seed in cases:
        build(spark, sf, res, force=True)
        if cascade:
            cascade(spark, sf, res, level, force=True)
        expected = rows(kind, level, cols)
        seed(first)
        if cascade:  # the 1h level as it was before the second half
            cascade(spark, sf, res, level, force=True)
        merge(spark, second, sf, res)
        got = rows(kind, level, cols)
        assert got == expected and got, (kind, level)
        build(spark, sf, res, force=True)  # restore for other tests
        if cascade:
            cascade(spark, sf, res, level, force=True)


def test_missing_coarse_level_is_a_cascade(spark, tmp_path):
    """A missing 1h scalar level created by loading it has the schema
    cascade_rollup writes (one schema per level, whichever call made
    it) and the same rows."""
    import shutil
    import uuid

    from dqe_spark.sources import rollup as R
    from dqe_spark.sources.store import STORE_ROOT

    sf = tmp_path / f"coarse_{uuid.uuid4().hex[:8]}"
    sf.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", sf / "events.parquet")
    try:
        loaded = R.load_rollup(spark, str(sf), 3_600_000)
        got = (loaded.dtypes, {tuple(r) for r in loaded.collect()})
        R.cascade_rollup(spark, str(sf), 60_000, 3_600_000, force=True)
        cascaded = spark.read.parquet(
            str(R.ladder_dir("rollup", str(sf), 3_600_000))
        )
        assert got[0] == cascaded.dtypes
        assert got[1] == {tuple(r) for r in cascaded.collect()} and got[1]
    finally:
        shutil.rmtree(STORE_ROOT / sf.name, ignore_errors=True)


def test_expire_rollup_before_drops_old_windows(spark):
    """Ladder TTL: windows strictly older than the (resolution-aligned)
    cutoff disappear; surviving partials are byte-identical; the store
    stays atomic-loadable. Covers a scalar and a histogram level."""
    from dqe_spark.sources import rollup as R

    res = 60_000
    for ladder, build in (
        ("rollup", R.build_rollup),
        ("hist", R.build_hist_rollup),
    ):
        build(spark, SF_SMOKE, res, force=True)
        out = R.ladder_dir(ladder, SF_SMOKE, res)
        before = spark.read.parquet(str(out))
        lo, hi = before.agg(F.min("wts"), F.max("wts")).first()
        cutoff = (lo + hi) // 2 + 17  # deliberately unaligned
        aligned = cutoff - (cutoff % res)
        want = {
            tuple(r) for r in before.where(F.col("wts") >= aligned).collect()
        }
        assert R.expire_rollup_before(spark, SF_SMOKE, cutoff, res, ladder)
        after = spark.read.parquet(str(out))
        got = {tuple(r) for r in after.collect()}
        assert got == want and got, ladder
        assert after.agg(F.min("wts")).first()[0] >= aligned
        build(spark, SF_SMOKE, res, force=True)  # restore

    # unknown ladder name is an explicit error; absent level is a no-op
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown ladder"):
        R.expire_rollup_before(spark, SF_SMOKE, 0, res, "nope")
    assert R.expire_rollup_before(spark, SF_SMOKE, 0, 7_000, "rollup") is None


def dreg_entries() -> list:
    """The memoized retention day registers in the store load memo."""
    from dqe_spark.sources.store import _LOAD_MEMO

    return [v for k, v in _LOAD_MEMO.items() if k[1] == "dreg"]


def test_retention_memo_reuses_day_registers_and_invalidates(spark):
    """Warm retention serves reuse the per-session checkpointed
    day-register relation (round-9 ask #1: repeated serves skip the
    unpack+merge), results are identical across cold/warm calls and
    horizons share the memo entry; a store mutation drops the entry so
    no serve reads a stale checkpoint. The entry lives in the single
    store load memo."""
    from dqe_spark.sources import rollup as R
    from dqe_spark.sources.store import invalidate_load_memo

    invalidate_load_memo()
    assert not dreg_entries()
    cold = {tuple(r) for r in R.portable_retention_1d(spark, SF_SMOKE).collect()}
    (memo_val,) = dreg_entries()
    warm = {tuple(r) for r in R.portable_retention_1d(spark, SF_SMOKE).collect()}
    assert warm == cold and cold
    # same memo entry served the warm call (no rebuild)
    assert dreg_entries()[0] is memo_val
    # a different horizon reuses the SAME day registers
    R.portable_retention_1d(spark, SF_SMOKE, offset_days=7).collect()
    (again_val,) = dreg_entries()
    assert again_val is memo_val
    # the lineage-auditable path bypasses the memo entirely
    R.portable_retention_1d(spark, SF_SMOKE, checkpoint=False)
    (again_val,) = dreg_entries()
    assert again_val is memo_val
    # store mutations invalidate: increment with a tiny batch, memo is
    # dropped, and the next serve rebuilds from the merged store
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(0)
    from dqe_spark.sources.metric_store import ts_ms_col

    R.merge_portable_distinct_increment(
        spark, ev.withColumn("ts_ms", ts_ms_col(ev)), SF_SMOKE
    )
    assert not dreg_entries()
    again = {tuple(r) for r in R.portable_retention_1d(spark, SF_SMOKE).collect()}
    assert again == cold  # empty increment: rebuild equals original
