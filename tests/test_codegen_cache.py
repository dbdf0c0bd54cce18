"""Spark's generated-class cache holds the engine's working set: a
repeated ingest round (the five ladder merges, then rollup-served
panels) compiles no new class, and a traced query reports how many
classes its plan and collect compiled.

The round test works on its own dataset name (a fresh copy of the
smoke events under tmp_path), so its stores are private to it."""

from __future__ import annotations

import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from dqe_spark import engine
from dqe_spark.plans import span as S
from dqe_spark.sources import rollup as R
from dqe_spark.sources import store as ST
from tests.conftest import SF_SMOKE

DAY_MS = 86_400_000
POINT_MERGES = (
    R.merge_rollup_increment, R.merge_hist_increment, R.merge_tagged_increment
)
EVENT_MERGES = (R.merge_cms_increment, R.merge_portable_distinct_increment)
#: rollup-served panels over the scalar, tagged and histogram levels,
#: 1m and 1h. The percentile panel joins two aggregates whose shuffles
#: finish in either order, the case session.py's
#: ``spark.sql.codegen.useIdInClassName`` setting is for
PANELS = (
    "SELECT avg('events'.* BUCKET 'events', 1h) LAST 3d",
    "SELECT sum('events'.'click' FROM 'events' WHERE 'dc' = 'east', 1m) LAST 3d",
    "SELECT max('events'.'view' FROM 'events' WHERE 'host' = 'h1', 1h) LAST 3d",
    "SELECT percentile('events'.'click' BUCKET 'events', 0.9, 1m) LAST 3d",
)


@pytest.fixture
def sf(tmp_path):
    """A private dataset: the smoke events under a unique name, whose
    stores are removed afterwards."""
    tag = uuid.uuid4().hex[:8]
    d = tmp_path / f"codegen_{tag}"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "events.parquet")
    try:
        yield d
    finally:
        shutil.rmtree(ST.STORE_ROOT / d.name, ignore_errors=True)


def _landing(sf, name: str) -> str:
    """A landing directory holding the smoke events of the dataset's
    first day moved to the day after its last. Every landing holds the
    same rows in a file of its own, so two rounds differ only by their
    input file, and AQE sees the same sizes in both."""
    ev = pq.read_table(sf / "events.parquet")
    us = ev.column("ts").cast(pa.int64())
    day_us = DAY_MS * 1000
    lo, hi = pc.min(us).as_py() // day_us, pc.max(us).as_py() // day_us
    inc = ev.filter(pc.less(us, (lo + 1) * day_us))
    moved = pc.add(inc.column("ts").cast(pa.int64()), (hi + 1 - lo) * day_us)
    inc = inc.set_column(
        inc.schema.get_field_index("ts"), "ts",
        moved.cast(inc.schema.field("ts").type),
    )
    d = sf.parent / f"landing_{name}"
    d.mkdir()
    pq.write_table(inc, d / "events.parquet")
    return str(d)


def _now_ms(sf) -> int:
    """Midnight after the landed day."""
    us = pq.read_table(sf / "events.parquet").column("ts").cast(pa.int64())
    return (pc.max(us).as_py() // (DAY_MS * 1000) + 2) * DAY_MS


def _round(spark, sf, landing, now_ms):
    from dqe_spark.sources.metric_store import load_events, load_metrics

    points, events = load_metrics(spark, landing), load_events(spark, landing)
    for fn in POINT_MERGES:
        fn(spark, points, str(sf))
    for fn in EVENT_MERGES:
        fn(spark, events, str(sf))
    for dql in PANELS:
        engine.collect(
            spark, dql, str(sf), now_ms=now_ms, use_rollups=True, slow_ms=None
        )


def test_repeated_ingest_round_compiles_nothing(spark, sf):
    """Two rounds on increments that differ only by their input file:
    the second finds every generated class cached. At Spark's default cache size (100) the round's classes
    evict each other and the second round compiles them all again."""
    first, second, now_ms = _landing(sf, "a"), _landing(sf, "b"), _now_ms(sf)
    # the ladder levels the round merges into, and the 1h levels the
    # panels read (cascaded when first loaded), exist before round one
    engine.plan(spark, PANELS[0], str(sf), now_ms=now_ms, use_rollups=True)
    R.build_cms_rollup(spark, str(sf))
    R.build_portable_distinct_rollup(spark, str(sf))

    _round(spark, sf, first, now_ms)
    before = engine.codegen_compiles(spark)
    _round(spark, sf, second, now_ms)
    assert engine.codegen_compiles(spark) - before == 0


def test_traced_query_reports_codegen_compiles(spark, monkeypatch):
    """A traced collect tags its span with the classes compiled for
    it; a repeat at the same now_ms compiles none. An untraced collect
    never asks the JVM."""
    dql = "SELECT min('events'.'view' BUCKET 'events', 1m) LAST 30d"
    now_ms = 1706745600000
    first, again = (f"cg-{uuid.uuid4().hex}" for _ in range(2))
    engine.collect(spark, dql, SF_SMOKE, now_ms=now_ms, trace_id=first)
    (sp,) = S.finished(first)
    assert sp["tags"]["codegen_compiles"] >= 0
    engine.collect(spark, dql, SF_SMOKE, now_ms=now_ms, trace_id=again)
    (sp,) = S.finished(again)
    assert sp["tags"]["codegen_compiles"] == 0

    def no_jvm(_spark):
        raise AssertionError("untraced query read the codegen counter")

    monkeypatch.setattr(engine, "codegen_compiles", no_jvm)
    engine.collect(spark, dql, SF_SMOKE, now_ms=now_ms)
