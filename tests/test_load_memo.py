"""The single load memo (store._LOAD_MEMO): a rollup-served plan reuses
the loaded stores until a write lands, and a plan after an increment
merge reads the merged files, not the listing the merge replaced.

Every test here works on its own dataset name (a fresh copy of the
smoke events under tmp_path), so its stores are private to it."""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from dqe_spark import engine
from dqe_spark.sources import rollup as R
from dqe_spark.sources import store as ST
from tests.conftest import SF_SMOKE

MAX_1M = "SELECT max('events'.'click' BUCKET 'events', 1m) LAST 2d"
MAX_1H = "SELECT max('events'.'click' BUCKET 'events', 1h) LAST 2d"
P50_1M = "SELECT percentile('events'.'click' BUCKET 'events', 0.5, 1m) LAST 2d"


@pytest.fixture
def sf(tmp_path):
    """A private dataset: the smoke events under a unique name, whose
    stores are removed afterwards."""
    d = tmp_path / f"memo_{uuid.uuid4().hex[:8]}"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "events.parquet")
    try:
        yield str(d)
    finally:
        shutil.rmtree(ST.STORE_ROOT / d.name, ignore_errors=True)


def _served(spark, dql, sf_dir, now_ms):
    (res, rows), = engine.collect(
        spark, dql, sf_dir, now_ms=now_ms, use_rollups=True, slow_ms=None
    )
    i, j = res.df.columns.index("ts_ms"), res.df.columns.index("value")
    return {r[i]: r[j] for r in rows}


def test_serve_after_merge_reads_merged_rollups(spark, sf):
    """Serve, merge points in a new window into the 1m scalar and
    histogram rollups, serve again: the second answers carry the new
    window (a memo that outlived the merge raised FILE_NOT_EXIST or
    answered from the old files). The 1h panel reads the 1h level,
    which the 1m merge keeps in step."""
    from dqe_spark.sources.metric_store import load_metrics

    m = load_metrics(spark, sf)
    t_max = m.agg(F.max("ts_ms")).first()[0]
    # an hour-aligned window no point falls in
    w = t_max - t_max % 3_600_000 + 2 * 3_600_000
    now, now_1h = w + 60_000, w + 3_600_000
    before = _served(spark, MAX_1M, sf, now)
    assert before and w not in before
    assert w not in _served(spark, P50_1M, sf, now)
    before_1h = _served(spark, MAX_1H, sf, now_1h)
    assert before_1h and w not in before_1h

    vals = spark.createDataFrame(
        [(w, 1.25), (w + 1_000, 2.5), (w + 2_000, 7.75)], "ts_ms long, value double"
    )
    new = (
        m.where(F.col("metric") == "events.click")
        .limit(1)
        .drop("ts_ms", "value")
        .crossJoin(vals)
        .select(*m.columns)
    )
    R.merge_rollup_increment(spark, new, sf)
    R.merge_hist_increment(spark, new, sf)

    after = _served(spark, MAX_1M, sf, now)
    assert after[w] == 7.75
    assert {k: v for k, v in after.items() if k != w} == before
    assert _served(spark, P50_1M, sf, now)[w] == 2.5
    after_1h = _served(spark, MAX_1H, sf, now_1h)
    assert after_1h[w] == 7.75
    assert {k: v for k, v in after_1h.items() if k != w} == before_1h


def test_plans_reuse_loaded_rollups_until_a_write(spark, sf):
    """Two rollup-served plans with no write between them share the
    memoized load_rollup object; a write drops it."""
    engine.plan(spark, MAX_1M, sf, use_rollups=True)
    loaded = R.load_rollup(spark, sf, 60_000)
    engine.plan(spark, MAX_1M, sf, use_rollups=True)
    assert R.load_rollup(spark, sf, 60_000) is loaded
    assert engine._rollup_stores(spark, sf)["rollup"][60_000] is loaded
    assert engine._STORE_MEMO is ST._LOAD_MEMO

    R.build_rollup(spark, sf, 60_000, force=True)
    assert R.load_rollup(spark, sf, 60_000) is not loaded
