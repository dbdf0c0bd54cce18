"""Custom-function registry (the UDF surface), METADATA attachment,
and the plan-debug utilities."""

from __future__ import annotations

from pyspark.sql import functions as F

from dqe_spark import engine
from tests.conftest import SF_SMOKE

JAN1 = 1704067200000
FEB1 = 1706745600000


def test_register_aggregate(spark):
    from dqe_spark.functions import default_registry

    reg = default_registry()
    reg.register_aggregate(
        "p95", lambda v: F.round(F.percentile(F.col(v), F.lit(0.95)), 4)
    )
    try:
        (res,) = engine.plan(
            spark,
            f"SELECT p95('events'.'click' BUCKET 'events', 1h) BETWEEN {JAN1} AND {FEB1}",
            SF_SMOKE,
        )
        (ref,) = engine.plan(
            spark,
            "SELECT percentile('events'.'click' BUCKET 'events', 0.95, 1h) "
            f"BETWEEN {JAN1} AND {FEB1}",
            SF_SMOKE,
        )
        a = {(r["ts_ms"], r["value"]) for r in res.df.collect()}
        b = {(r["ts_ms"], r["value"]) for r in ref.df.collect()}
        assert a == b and a
    finally:
        reg.aggregates.pop("p95", None)


def test_describe_catalog():
    """The dqe_fun describe/help surface: every name the compiler
    dispatches on appears in the catalog (drift guard), registered
    functions show up tagged, and the count matches the reference's
    45 registered function modules (src/dqe.erl:62-122)."""
    from dqe_spark.dql import compiler as C
    from dqe_spark.functions import default_registry
    from dqe_spark.functions.registry import describe, help_text

    rows = describe()
    # parity with the reference's 45 registered function modules; the
    # beyond-reference language extensions are tagged class=extension
    # and counted separately so the parity claim stays checkable
    assert len([r for r in rows if r["class"] != "extension"]) == 45
    assert {r["name"] for r in rows if r["class"] == "extension"} == {
        "zscore", "alert_above", "alert_below", "bm25", "trend",
        "neardup", "dedup", "surprisal",
    }
    names = {(r["name"], r["class"]) for r in rows}
    for n in C.AGGR_PLAIN:
        assert (n, "aggregate") in names
    for n in C.AGGR_THRESHOLD:
        assert (n, "aggregate") in names and (f"{n}_conf", "aggregate") in names
    for n in C.TRANS_PLAIN:
        assert (n, "transform") in names
    for n in C.ARITH:
        assert (n, "arith") in names
    for n in C.COMBINE:
        assert (n, "combinator") in names
    for n in C.HIST_RED:
        assert (n, "histogram-reduction") in names
    assert ("histogram", "histogram") in names
    assert ("percentile", "aggregate") in names

    reg = default_registry()
    reg.register_transform("noop", lambda v: v)
    try:
        cat = describe()
        (row,) = [r for r in cat if r["name"] == "noop"]
        assert row["builtin"] is False and row["class"] == "transform"
        assert "noop(metric)" in help_text()
    finally:
        reg.transforms.pop("noop", None)


def test_register_transform(spark):
    from dqe_spark.functions import default_registry

    reg = default_registry()
    reg.register_transform(
        "clip100", lambda v: F.least(v, F.lit(100.0))
    )
    try:
        (res,) = engine.plan(
            spark,
            f"SELECT clip100('events'.'click' BUCKET 'events') BETWEEN {JAN1} AND {FEB1}",
            SF_SMOKE,
        )
        assert res.df.where(F.col("value") > 100.0).count() == 0
        assert res.df.count() > 0
    finally:
        reg.transforms.pop("clip100", None)


def test_metadata_column(spark):
    (res,) = engine.plan(
        spark,
        "SELECT avg('events'.'click' BUCKET 'events', 1h) AS lbl "
        "METADATA {'unit': 'reqs', 'hostvar': $1} "
        f"BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    row = res.df.take(1)[0]
    assert row["metadata"]["unit"] == "reqs"
    assert row["metadata"]["hostvar"] == "events"  # $1 = first metric part
    assert row["name"] == "lbl"


def test_debug_utilities(spark, tmp_path):
    from dqe_spark.plans import explain_artifact, with_observation
    from dqe_spark.queries_parity import aggr_avg_1m

    df = aggr_avg_1m(spark, SF_SMOKE)
    p = explain_artifact(df, str(tmp_path / "plan.txt"))
    assert "HashAggregate" in p.read_text()

    observed, obs = with_observation(df.withColumnRenamed("avg_value", "value"))
    n = observed.count()
    assert obs.get["rows"] == n


def test_query_spans(spark, tmp_path):
    """plans/span.py mirrors dqe_span (reference src/dqe_span.erl:1-19,
    call sites src/dqe.erl:181-230): trace_id=None is a strict no-op;
    a traced collect records the query tag, statement count, the two
    lifecycle logs in order, and a duration; no_results tags the span
    like the reference; nested spans attach as children; dump() writes
    the JSON artifact."""
    import json

    import pytest

    from dqe_spark import engine
    from dqe_spark.plans import span as S
    from tests.conftest import SF_SMOKE

    n0 = len(S.finished())
    engine.collect(
        spark, "SELECT avg('events'.'click' BUCKET 'events', 1m) LAST 30d",
        SF_SMOKE, now_ms=1706745600000,
    )
    assert len(S.finished()) == n0  # untraced: nothing recorded

    engine.collect(
        spark, "SELECT avg('events'.'click' BUCKET 'events', 1m) LAST 30d",
        SF_SMOKE, now_ms=1706745600000, trace_id="t-123",
    )
    spans = S.finished("t-123")
    assert len(spans) == 1
    sp = spans[0]
    assert sp["name"] == "query" and sp["tags"]["parts"] == 1
    assert "avg" in sp["tags"]["query"]
    assert [l["text"] for l in sp["logs"]] == ["preperation done", "query done"]
    assert sp["duration_ms"] is not None and sp["tags"]["elapsed_ms"] >= 0

    # failure path: no_results tags the span before raising
    with pytest.raises(engine.NoResults):
        engine.collect(
            spark,
            "SELECT avg('events'.'click' BUCKET 'events', 1m) LAST 30d",
            SF_SMOKE, now_ms=1106745600000, trace_id="t-err",
        )
    (err_span,) = S.finished("t-err")
    assert err_span["tags"].get("result") == "no metrics"

    # nesting + artifact
    with S.span("outer", "t-nest"):
        S.tag("k", 1)
        with S.span("inner", None):  # inherits the trace
            S.log("step")
    (nested,) = S.finished("t-nest")
    assert nested["children"][0]["name"] == "inner"
    assert nested["children"][0]["trace_id"] == "t-nest"
    p = S.dump(str(tmp_path / "spans.json"), "t-nest")
    assert json.loads(p.read_text())[0]["name"] == "outer"
