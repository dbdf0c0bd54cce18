"""Compiler rollup rewrite: eligible DQL window aggregates read
pre-aggregated partials; results match the raw path; ineligible shapes
fall back to raw scans."""

from __future__ import annotations

from pyspark.sql import functions as F

from dqe_spark import engine
from tests.conftest import SF_SMOKE

JAN1 = 1704067200000
FEB1 = 1706745600000


def _plan_of(df) -> str:
    from dqe_spark.plans.debug import explain_string

    return explain_string(df)


def _runs(spark, dql, **kw):
    (res,) = engine.plan(spark, dql, SF_SMOKE, **kw)
    return res.df


def test_rewrite_used_and_matches_raw(spark):
    dql = f"SELECT avg('events'.'click' BUCKET 'events', 1h) BETWEEN {JAN1} AND {FEB1}"
    raw = _runs(spark, dql)
    ru = _runs(spark, dql, use_rollups=True)
    # coarsest eligible level wins: a 1h window reads the 1h cascade
    assert "rollup_3600000ms" in _plan_of(ru)
    assert "rollup_" not in _plan_of(raw)

    # identical answers (partials sum in exact decimal); tolerance only
    # for the final 4dp rounding boundary
    j = (
        raw.select("ts_ms", F.col("value").alias("v_raw"))
        .join(ru.select("ts_ms", F.col("value").alias("v_ru")), "ts_ms", "full")
    )
    rows = j.collect()
    assert rows and all(
        r["v_raw"] is not None
        and r["v_ru"] is not None
        and abs(r["v_raw"] - r["v_ru"]) <= 1e-4
        for r in rows
    )


def test_rewrite_glob_and_sum(spark):
    dql = f"SELECT sum('events'.* BUCKET 'events', 1d) BETWEEN {JAN1} AND {FEB1}"
    ru = _runs(spark, dql, use_rollups=True)
    assert "rollup_3600000ms" in _plan_of(ru)
    assert ru.select("metric").distinct().count() > 1


def test_no_rewrite_when_ineligible(spark):
    # window not a multiple of the rollup resolution
    ru = _runs(
        spark,
        f"SELECT avg('events'.'click' BUCKET 'events', 90s) BETWEEN {JAN1} AND {FEB1}",
        use_rollups=True,
    )
    assert "rollup_" not in _plan_of(ru)

    # transform between scan and aggregate clears eligibility
    ru2 = _runs(
        spark,
        f"SELECT avg(abs('events'.'click' BUCKET 'events'), 1h) BETWEEN {JAN1} AND {FEB1}",
        use_rollups=True,
    )
    assert "rollup_" not in _plan_of(ru2)

    # tags OUTSIDE the tagged-rollup dims aren't in any partials store
    ru3 = _runs(
        spark,
        "SELECT avg('events'.'click' FROM 'events' WHERE 'region' = 'r1', 1h) "
        f"BETWEEN {JAN1} AND {FEB1}",
        use_rollups=True,
    )
    assert "rollup_" not in _plan_of(ru3)

    # threshold crossings have no partial form
    ru4 = _runs(
        spark,
        f"SELECT count_above('events'.'click' BUCKET 'events', 150, 1h) BETWEEN {JAN1} AND {FEB1}",
        use_rollups=True,
    )
    assert "rollup_" not in _plan_of(ru4)


def test_percentile_from_hist_rollup(spark):
    dql = f"SELECT percentile('events'.'click' BUCKET 'events', 0.9, 1h) BETWEEN {JAN1} AND {FEB1}"
    raw = _runs(spark, dql)
    ru = _runs(spark, dql, use_rollups=True)
    assert "rollup_hist_60000ms" in _plan_of(ru)
    a = {(r["ts_ms"], r["value"]) for r in raw.collect()}
    b = {(r["ts_ms"], r["value"]) for r in ru.collect()}
    assert a == b and a

    # median routes through the same path
    med = _runs(
        spark,
        f"SELECT median('events'.'click' BUCKET 'events', 1h) BETWEEN {JAN1} AND {FEB1}",
        use_rollups=True,
    )
    assert "rollup_hist_60000ms" in _plan_of(med)


def test_hierarchy_picks_coarsest(spark):
    # 1d windows: the 1h cascade answers from 60x fewer rows than 1m
    ru = _runs(
        spark,
        f"SELECT avg('events'.'click' BUCKET 'events', 1d) BETWEEN {JAN1} AND {FEB1}",
        use_rollups=True,
    )
    p = _plan_of(ru)
    assert "rollup_3600000ms" in p and "rollup_60000ms" not in p

    # 90m window: not a multiple of 1h -> falls back to the 1m rollup
    ru2 = _runs(
        spark,
        f"SELECT avg('events'.'click' BUCKET 'events', 90m) BETWEEN {JAN1} AND {FEB1}",
        use_rollups=True,
    )
    p2 = _plan_of(ru2)
    assert "rollup_60000ms" in p2 and "rollup_3600000ms" not in p2


def test_cascade_equals_direct(spark):
    from dqe_spark.sources.rollup import load_rollup, rollup_window_agg

    fine = rollup_window_agg(load_rollup(spark, SF_SMOKE, 60_000), 86_400_000, "stddev")
    coarse = rollup_window_agg(
        load_rollup(spark, SF_SMOKE, 3_600_000),
        86_400_000,
        "stddev",
        rollup_res_ms=3_600_000,
    )
    a = {(r["metric"], r["wts"], r["value"]) for r in fine.collect()}
    b = {(r["metric"], r["wts"], r["value"]) for r in coarse.collect()}
    assert a == b and a


def test_tagged_rewrite_used_and_matches_raw(spark):
    """A dim-only tag WHERE stays rollup-rewritable via the TAGGED
    partials store; answers are identical to the raw-scan path."""
    dql = (
        "SELECT avg('events'.'click' FROM 'events' "
        f"WHERE 'dc' = 'east' AND 'host' != 'h9', 1h) BETWEEN {JAN1} AND {FEB1}"
    )
    raw = _runs(spark, dql)
    ru = _runs(spark, dql, use_rollups=True)
    # coarsest eligible tagged level wins (1h cascade of the 1m tagged)
    assert "rollup_tagged_3600000ms" in _plan_of(ru)
    assert "rollup_" not in _plan_of(raw)
    # a 90m window misaligns the 1h level → the 1m tagged level serves
    ru90 = _runs(
        spark,
        "SELECT avg('events'.'click' FROM 'events' WHERE 'dc' = 'east', 90m) "
        f"BETWEEN {JAN1} AND {FEB1}",
        use_rollups=True,
    )
    assert "rollup_tagged_60000ms" in _plan_of(ru90)
    j = (
        raw.select("ts_ms", F.col("value").alias("v_raw"))
        .join(ru.select("ts_ms", F.col("value").alias("v_ru")), "ts_ms", "full")
    )
    rows = j.collect()
    assert rows and all(
        r["v_raw"] is not None
        and r["v_ru"] is not None
        and abs(r["v_raw"] - r["v_ru"]) <= 1e-4
        for r in rows
    )


def test_tagged_rewrite_skips_transformed_frames(spark):
    """A transform between a dims-WHERE scan and the window aggregate
    must clear tagged-rollup eligibility — the partials hold RAW values,
    so rewriting would silently drop the transform (advisor r3, high)."""
    dql = (
        "SELECT avg(mul('events'.'click' FROM 'events' WHERE 'dc' = 'east', 3), 1h) "
        f"BETWEEN {JAN1} AND {FEB1}"
    )
    raw = _runs(spark, dql)
    ru = _runs(spark, dql, use_rollups=True)
    assert "rollup_" not in _plan_of(ru)
    a = {(r["ts_ms"], r["value"]) for r in raw.collect()}
    b = {(r["ts_ms"], r["value"]) for r in ru.collect()}
    assert a == b and a

    # histogram() over a dims-WHERE scan likewise clears eligibility
    ru2 = _runs(
        spark,
        "SELECT median(histogram('events'.'click' FROM 'events' "
        f"WHERE 'dc' = 'east', 1000, 2, 1h)) BETWEEN {JAN1} AND {FEB1}",
        use_rollups=True,
    )
    assert "rollup_" not in _plan_of(ru2)


def test_tagged_hist_quantile_rewrite(spark):
    """Tag-filtered percentile/median answered from the TAGGED
    HISTOGRAM rollup: dim predicate filters partials, per-window value
    counts re-merge into the exact multiset — answers identical to the
    raw-point scan."""
    dql = (
        "SELECT percentile('events'.'click' FROM 'events' WHERE 'dc' = 'east', "
        f"0.9, 1h) BETWEEN {JAN1} AND {FEB1}"
    )
    raw = _runs(spark, dql)
    ru = _runs(spark, dql, use_rollups=True)
    assert "rollup_tagged_hist_60000ms" in _plan_of(ru)
    assert "rollup_" not in _plan_of(raw)
    a = {(r["ts_ms"], r["value"]) for r in raw.collect()}
    b = {(r["ts_ms"], r["value"]) for r in ru.collect()}
    assert a == b and a

    # median routes through the same path, multi-dim predicates too
    med = _runs(
        spark,
        "SELECT median('events'.'click' FROM 'events' "
        f"WHERE 'dc' = 'east' AND 'host' != 'h9', 1h) BETWEEN {JAN1} AND {FEB1}",
        use_rollups=True,
    )
    assert "rollup_tagged_hist_60000ms" in _plan_of(med)

    # non-dim tags have no partials of any kind → raw fallback
    nd = _runs(
        spark,
        "SELECT percentile('events'.'click' FROM 'events' WHERE 'region' = 'r1', "
        f"0.9, 1h) BETWEEN {JAN1} AND {FEB1}",
        use_rollups=True,
    )
    assert "rollup_" not in _plan_of(nd)


def test_shift_rewrite_used_and_matches_raw(spark):
    """SHIFT BY over a pristine scan keeps rollup eligibility: partials
    are read over the shifted storage range and restamped. Exact match
    with the raw path."""
    dql = (
        "SELECT avg('events'.'click' BUCKET 'events' SHIFT BY 1d, 1h) "
        f"BETWEEN {JAN1 + 86400000} AND {FEB1}"
    )
    raw = _runs(spark, dql)
    ru = _runs(spark, dql, use_rollups=True)
    assert "rollup_" in _plan_of(ru)
    assert "rollup_" not in _plan_of(raw)
    a = {(r["ts_ms"], r["value"]) for r in raw.collect()}
    b = {(r["ts_ms"], r["value"]) for r in ru.collect()}
    assert a == b and a

    # a shift that misaligns every rollup level must fall back
    ru2 = _runs(
        spark,
        "SELECT avg('events'.'click' BUCKET 'events' SHIFT BY 90s, 1h) "
        f"BETWEEN {JAN1 + 86400000} AND {FEB1}",
        use_rollups=True,
    )
    assert "rollup_" not in _plan_of(ru2)

    # shifted percentile: hist path doesn't restamp — raw fallback
    ru3 = _runs(
        spark,
        "SELECT percentile('events'.'click' BUCKET 'events' SHIFT BY 1d, 0.9, 1h) "
        f"BETWEEN {JAN1 + 86400000} AND {FEB1}",
        use_rollups=True,
    )
    assert "rollup_" not in _plan_of(ru3)


def test_alert_above_composes_with_rollup_rewrite(spark):
    """alert_above over an eligible windowed aggregate keeps the
    rollup rewrite: the rule's upstream scan reads 1h partials, never
    raw points, and firing intervals equal the raw path exactly —
    alert rules at 100 TB evaluate against the rollup ladder."""
    dql = (
        "SELECT alert_above(avg('events'.* BUCKET 'events', 1h), 30, 2h) "
        f"BETWEEN {JAN1} AND {FEB1}"
    )
    raw = _runs(spark, dql)
    ru = _runs(spark, dql, use_rollups=True)
    assert "rollup_3600000ms" in _plan_of(ru)
    assert "rollup_" not in _plan_of(raw)
    a = sorted(tuple(r) for r in raw.collect())
    b = sorted(tuple(r) for r in ru.collect())
    assert a == b and a  # identical intervals, and some fire
