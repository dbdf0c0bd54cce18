"""Property tests mirroring the reference's EQC suite
(/root/reference/eqc/qry_parser_eqc.erl):

  * prop_query_parse: generated (DQL text, expected AST) pairs parse to
    exactly the expected AST (round-trip through the concrete syntax).
  * prop_prepare: every generated query compiles into a DataFrame plan
    against the sf0.001 store without error.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dqe_spark.dql import ast as A
from dqe_spark.dql.parser import parse

names = st.sampled_from(["cpu", "user", "mem", "net0", "a_b", "x"])
buckets = st.sampled_from(["events", "sys"])
units = st.sampled_from(["ms", "s", "m", "h", "d", "w"])


@st.composite
def time_units(draw):
    n = draw(st.integers(1, 500))
    u = draw(units)
    return f"{n}{u}", A.TimeUnit(n, u)


@st.composite
def getters(draw):
    parts = tuple(draw(st.lists(names, min_size=1, max_size=3)))
    b = draw(buckets)
    txt = ".".join(f"'{p}'" for p in parts) + f" BUCKET '{b}'"
    return txt, A.Get(b, parts)


@st.composite
def aggrs(draw):
    fn = draw(st.sampled_from(["sum", "avg", "min", "max", "variance", "stddev", "median"]))
    gtxt, gast = draw(getters())
    ttxt, tast = draw(time_units())
    return f"{fn}({gtxt}, {ttxt})", A.FCall(fn, (gast, tast))


@st.composite
def chains(draw):
    inner_txt, inner_ast = draw(st.one_of(getters(), aggrs()))
    fn = draw(st.sampled_from(["abs", "sqrt_scale", "log10_scale", "derivate", "confidence"]))
    return f"{fn}({inner_txt})", A.FCall(fn, (inner_ast,))


@st.composite
def combs(draw):
    fn = draw(st.sampled_from(["sum", "avg", "min", "max", "diff", "quotient", "product"]))
    a_txt, a_ast = draw(aggrs())
    b_txt, b_ast = draw(aggrs())
    return f"{fn}({a_txt}, {b_txt})", A.FCall(fn, (a_ast, b_ast))


@st.composite
def timeframes(draw):
    kind = draw(st.sampled_from(["last", "between", "after", "before"]))
    ttxt, tast = draw(time_units())
    if kind == "last":
        return f"LAST {ttxt}", A.Last(tast)
    if kind == "between":
        a = draw(st.integers(0, 2**40))
        b = draw(st.integers(0, 2**40))
        return f"BETWEEN {a} AND {b}", A.Between(a, b)
    p = draw(st.integers(0, 2**40))
    if kind == "after":
        return f"AFTER {p} FOR {ttxt}", A.After(p, tast)
    return f"BEFORE {p} FOR {ttxt}", A.Before(p, tast)


@st.composite
def selects(draw):
    stmts = draw(st.lists(st.one_of(getters(), aggrs(), chains(), combs()),
                          min_size=1, max_size=3))
    tf_txt, tf_ast = draw(timeframes())
    txt = "SELECT " + ", ".join(t for t, _ in stmts) + " " + tf_txt
    expected = A.Select(tuple(a for _, a in stmts), (), tf_ast, None)
    return txt, expected


@given(selects())
@settings(max_examples=200, deadline=None)
def test_parse_roundtrip(case):
    txt, expected = case
    assert parse(txt) == expected


@pytest.mark.usefixtures("spark")
def test_everything_plans(spark):
    """prop_prepare analogue: generated queries all compile (bucket
    'events' only — plans are analyzed against the real store)."""
    from dqe_spark import engine

    @st.composite
    def events_selects(draw):
        fn = draw(st.sampled_from(["sum", "avg", "min", "max", "stddev"]))
        metric = draw(st.sampled_from(["click", "view", "error"]))
        n = draw(st.integers(1, 60))
        u = draw(st.sampled_from(["s", "m", "h"]))
        if u == "s" and n % 1 != 0:
            n = 1
        return (
            f"SELECT {fn}('events'.'{metric}' BUCKET 'events', {n}{u}) "
            "BETWEEN 1704067200000 AND 1704153600000"
        )

    from hypothesis import HealthCheck as HC

    @given(events_selects())
    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HC.function_scoped_fixture])
    def inner(src):
        from dqe_spark.dql.compiler import PlanError
        from tests.conftest import SF_SMOKE

        try:
            (res,) = engine.plan(spark, src, SF_SMOKE)
            _ = res.df.schema  # forces analysis
        except PlanError as e:
            # only the window/resolution contract may reject
            assert "multiple" in str(e)

    inner()


@given(selects())
@settings(max_examples=200, deadline=None)
def test_unparse_roundtrip(case):
    """The reference's prop_query_parse_unparse
    (eqc/qry_parser_eqc.erl:11-26): unparsing a parsed statement and
    re-parsing yields the same AST."""
    from dqe_spark.dql.compiler import unparse

    txt, expected = case
    ast = parse(txt)
    rebuilt = "SELECT " + ", ".join(unparse(s) for s in ast.stmts)
    # unparse covers statements; re-render the timeframe from the AST
    from dqe_spark.dql import ast as A

    tf = ast.timeframe
    if isinstance(tf, A.Last):
        tf_s = f"LAST {tf.t.n}{tf.t.unit}"
    elif isinstance(tf, A.Between):
        tf_s = f"BETWEEN {tf.a} AND {tf.b}"
    elif isinstance(tf, A.After):
        tf_s = f"AFTER {tf.pit} FOR {tf.dur.n}{tf.dur.unit}"
    else:
        tf_s = f"BEFORE {tf.pit} FOR {tf.dur.n}{tf.dur.unit}"
    assert parse(rebuilt + " " + tf_s) == expected


# ----------------------------------------------------------------- ext
# Extension front doors in the random grammar (round-9 verdict #6):
# the reference's EQC generator spans its whole language
# (eqc/dqe_helper.erl:65-333); ours must span the beyond-reference
# surface too — dedup/neardup/knn/ann/zscore/retention/dsir/
# watchlist/nearby/bm25/surprisal with typed args.

event_types = st.sampled_from(["click", "view", "error"])
langs = st.sampled_from(["en", "de", "fr"])
bm25_words = st.sampled_from(["data", "query", "spark", "the", "metric"])


@st.composite
def ext_fcalls(draw):
    """(text, expected AST) pairs for every extension front door, args
    drawn inside each door's documented contract."""
    kind = draw(
        st.sampled_from(
            [
                "dedup_exact", "dedup_semantic", "dedup_substring",
                "neardup", "knn", "ann", "retention", "watchlist",
                "nearby", "dsir", "bm25", "surprisal", "zscore",
            ]
        )
    )
    if kind == "dedup_exact":
        return "dedup('exact')", A.FCall("dedup", (A.Var("exact"),))
    if kind == "dedup_semantic":
        if draw(st.booleans()):
            t = draw(st.integers(0, 100)) / 100
            return (
                f"dedup('semantic', {t})",
                A.FCall("dedup", (A.Var("semantic"), t)),
            )
        return "dedup('semantic')", A.FCall("dedup", (A.Var("semantic"),))
    if kind == "dedup_substring":
        if draw(st.booleans()):
            k = draw(st.integers(2, 64))
            return (
                f"dedup('substring', {k})",
                A.FCall("dedup", (A.Var("substring"), k)),
            )
        return (
            "dedup('substring')",
            A.FCall("dedup", (A.Var("substring"),)),
        )
    if kind == "neardup":
        t = draw(st.integers(0, 100)) / 100
        return f"neardup({t})", A.FCall("neardup", (t,))
    if kind in ("knn", "ann"):
        qid = draw(st.integers(0, 63))
        k = draw(st.integers(1, 50))
        return f"{kind}({qid}, {k})", A.FCall(kind, (qid, k))
    if kind == "retention":
        if draw(st.booleans()):
            ev = draw(event_types)
            if draw(st.booleans()):
                off = draw(st.integers(1, 365))
                return (
                    f"retention('{ev}', {off})",
                    A.FCall("retention", (A.Var(ev), off)),
                )
            return f"retention('{ev}')", A.FCall("retention", (A.Var(ev),))
        return "retention()", A.FCall("retention", ())
    if kind == "watchlist":
        if draw(st.booleans()):
            ev = draw(event_types)
            return f"watchlist('{ev}')", A.FCall("watchlist", (A.Var(ev),))
        return "watchlist()", A.FCall("watchlist", ())
    if kind == "nearby":
        a = draw(event_types)
        c = draw(event_types)
        if draw(st.booleans()):
            rtxt, rast = draw(time_units())
            return (
                f"nearby('{a}', '{c}', {rtxt})",
                A.FCall("nearby", (A.Var(a), A.Var(c), rast)),
            )
        return (
            f"nearby('{a}', '{c}')",
            A.FCall("nearby", (A.Var(a), A.Var(c))),
        )
    if kind == "dsir":
        lang = draw(langs)
        if draw(st.booleans()):
            k = draw(st.integers(1, 1_000_000))
            return (
                f"dsir('{lang}', {k})",
                A.FCall("dsir", (A.Var(lang), k)),
            )
        return f"dsir('{lang}')", A.FCall("dsir", (A.Var(lang),))
    if kind == "bm25":
        w = draw(bm25_words)
        if draw(st.booleans()):
            k = draw(st.integers(1, 100))
            return f"bm25('{w}', {k})", A.FCall("bm25", (A.Var(w), k))
        return f"bm25('{w}')", A.FCall("bm25", (A.Var(w),))
    if kind == "surprisal":
        return "surprisal()", A.FCall("surprisal", ())
    # zscore wraps a generated aggregate series
    atxt, aast = draw(aggrs())
    k = draw(st.integers(2, 50))
    return f"zscore({atxt}, {k})", A.FCall("zscore", (aast, k))


@st.composite
def ext_selects(draw):
    stmts = draw(st.lists(ext_fcalls(), min_size=1, max_size=2))
    tf_txt, tf_ast = draw(timeframes())
    txt = "SELECT " + ", ".join(t for t, _ in stmts) + " " + tf_txt
    return txt, A.Select(tuple(a for _, a in stmts), (), tf_ast, None)


@given(ext_selects())
@settings(max_examples=200, deadline=None)
def test_parse_roundtrip_ext(case):
    txt, expected = case
    assert parse(txt) == expected


@given(ext_selects())
@settings(max_examples=200, deadline=None)
def test_unparse_roundtrip_ext(case):
    """unparse(parse(q)) re-parses to the same AST for the extension
    doors too (unquoted atoms parse identically to quoted ones)."""
    from dqe_spark.dql.compiler import unparse

    txt, expected = case
    ast = parse(txt)
    rebuilt = "SELECT " + ", ".join(unparse(s) for s in ast.stmts)
    tf = ast.timeframe
    if isinstance(tf, A.Last):
        tf_s = f"LAST {tf.t.n}{tf.t.unit}"
    elif isinstance(tf, A.Between):
        tf_s = f"BETWEEN {tf.a} AND {tf.b}"
    elif isinstance(tf, A.After):
        tf_s = f"AFTER {tf.pit} FOR {tf.dur.n}{tf.dur.unit}"
    else:
        tf_s = f"BEFORE {tf.pit} FOR {tf.dur.n}{tf.dur.unit}"
    assert parse(rebuilt + " " + tf_s) == expected


@pytest.mark.usefixtures("spark")
def test_everything_plans_ext(spark):
    """prop_prepare analogue over the extension doors: every generated
    in-contract front-door query compiles into an analyzable plan
    against the sf0.001 corpus — no exceptions allowed except the
    documented window/resolution contract on the zscore series arm."""
    import duckdb

    from dqe_spark import engine
    from tests.conftest import SF_SMOKE

    lo, hi = duckdb.sql(
        f"SELECT min(vec_id), max(vec_id) "
        f"FROM '{SF_SMOKE}/embeddings.parquet'"
    ).fetchone()

    @st.composite
    def plannable(draw):
        txt, _ = draw(ext_fcalls())
        # knn/ann need an EXISTING query vector: re-draw the id inside
        # the corpus' actual vec_id range
        if txt.startswith(("knn(", "ann(")):
            fn = txt.split("(", 1)[0]
            qid = draw(st.integers(int(lo), int(hi)))
            k = draw(st.integers(1, 20))
            txt = f"{fn}({qid}, {k})"
        return f"SELECT {txt} BETWEEN 1704067200000 AND 1704153600000"

    from hypothesis import HealthCheck as HC

    @given(plannable())
    @settings(max_examples=20, deadline=None,
              suppress_health_check=[HC.function_scoped_fixture])
    def inner(src):
        from dqe_spark.dql.compiler import PlanError

        try:
            (res,) = engine.plan(spark, src, SF_SMOKE)
            _ = res.df.schema  # forces analysis
        except PlanError as e:
            # only zscore's window/resolution contract may reject
            assert src.lstrip("SELECT ").startswith("zscore(") and (
                "multiple" in str(e)
            ), (src, str(e))

    inner()
