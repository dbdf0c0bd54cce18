"""End-to-end DQL: query strings → engine.plan → values cross-checked
against the independently oracle-verified operator-API results."""

from __future__ import annotations

import pytest

from dqe_spark import engine
from tests.conftest import SF_SMOKE

JAN1 = 1704067200000
FEB1 = 1706745600000  # covers the whole synthetic range


def _rows(res):
    return {tuple(r) for r in res.df.collect()}


def test_avg_window(spark):
    (res,) = engine.plan(
        spark,
        "SELECT avg('events'.'click' BUCKET 'events', 1m) "
        f"BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    assert res.kind == "metrics" and res.resolution_ms == 60_000
    from dqe_spark.queries_parity import aggr_avg_1m

    expect = {
        (r["metric"], r["wts"], r["avg_value"])
        for r in aggr_avg_1m(spark, SF_SMOKE).collect()
    }
    got = {(m, ts, v) for (_n, m, ts, v) in _rows(res)}
    assert got == expect


def test_glob_and_naming(spark):
    (res,) = engine.plan(
        spark,
        f"SELECT avg('events'.* BUCKET 'events', 1m) AS $2 BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    names = {r["name"] for r in res.df.select("name").distinct().collect()}
    assert names == {"click", "view", "signup", "error", "purchase"}


def test_lookup_where_and_groupby(spark):
    (res,) = engine.plan(
        spark,
        "SELECT 'events'.'click' FROM 'events' WHERE 'host' = 'h1' "
        f"AND 'dc' != 'west' BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    n = res.df.count()
    from dqe_spark.queries_parity import lookup_where_tags

    assert n == lookup_where_tags(spark, SF_SMOKE).count()

    (g,) = engine.plan(
        spark,
        "SELECT 'events'.'click' FROM 'events' GROUP BY $'host' USING avg "
        f"AS $'host' BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    hosts = {r["name"] for r in g.df.select("name").distinct().collect()}
    assert hosts == {"h0", "h1", "h2"}


def test_infix_combinator(spark):
    (res,) = engine.plan(
        spark,
        "SELECT avg('events'.'click' BUCKET 'events', 1m) / "
        "avg('events'.'view' BUCKET 'events', 1m) "
        f"BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    from dqe_spark.queries_ext import QUERIES  # noqa: F401  (import check)
    from dqe_spark.queries_parity import QUERIES as PQ

    expect = {(r["wts"], r["value"]) for r in PQ["comb_quotient"](spark, SF_SMOKE).collect()}
    got = {(ts, v) for (_n, ts, v) in _rows(res)}
    assert got == expect


def test_chain_divide(spark):
    (res,) = engine.plan(
        spark,
        "SELECT divide(sum('events'.'click' BUCKET 'events', 1m), 2) "
        f"BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    from dqe_spark.queries_parity import chain_divide_sum_1m

    expect = {
        (r["wts"], r["value"]) for r in chain_divide_sum_1m(spark, SF_SMOKE).collect()
    }
    got = {(ts, v) for (_n, _m, ts, v) in _rows(res)}
    assert got == expect


def test_shift(spark):
    JAN10 = JAN1 + 9 * 86_400_000
    JAN15 = JAN1 + 14 * 86_400_000
    (res,) = engine.plan(
        spark,
        "SELECT avg('events'.'click' BUCKET 'events' SHIFT BY 1d, 1h) "
        f"BETWEEN {JAN10} AND {JAN15}",
        SF_SMOKE,
    )
    from dqe_spark.queries_parity import shift_1d_avg_1h

    expect = {
        (r["wts"], r["avg_value"]) for r in shift_1d_avg_1h(spark, SF_SMOKE).collect()
    }
    got = {(ts, v) for (_n, _m, ts, v) in _rows(res)}
    assert got == expect


def test_top2(spark):
    (res,) = engine.plan(
        spark,
        f"SELECT avg('events'.* BUCKET 'events', 1h) BETWEEN {JAN1} AND {FEB1} "
        "TOP 2 BY avg",
        SF_SMOKE,
    )
    metrics = {r["metric"] for r in res.df.select("metric").distinct().collect()}
    from dqe_spark.queries_parity import top2_by_avg

    expect = {r["metric"] for r in top2_by_avg(spark, SF_SMOKE).select("metric").distinct().collect()}
    assert metrics == expect


def test_events_filter(spark):
    (res,) = engine.plan(
        spark,
        "SELECT EVENTS FROM 'events' WHERE 'event_type' == 'error' "
        f"AND 'k' > 50 AND NOT 'value' < 1 BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    assert res.kind == "events"
    from dqe_spark.queries_parity import events_filter

    assert res.df.count() == events_filter(spark, SF_SMOKE).count()


def test_histogram_percentile(spark):
    (res,) = engine.plan(
        spark,
        "SELECT percentile(histogram('events'.'click' BUCKET 'events', 1000000, 3, 5m), 0.99) "
        f"BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    from dqe_spark.queries_parity import QUERIES as PQ

    expect = {
        (r["wts"], r["h_p99"]) for r in PQ["hist_percentile_99"](spark, SF_SMOKE).collect()
    }
    got = {(ts, v) for (_n, _m, ts, v) in _rows(res)}
    assert got == expect


def test_percentile_int_quirk(spark):
    """Integer percentile arg is halved (src/dqe_percentile_aggr.erl:15-16)."""
    (a,) = engine.plan(
        spark,
        f"SELECT percentile('events'.'click' BUCKET 'events', 1, 5m) BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    (b,) = engine.plan(
        spark,
        f"SELECT percentile('events'.'click' BUCKET 'events', 0.5, 5m) BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    va = {(m, ts, v) for (_n, m, ts, v) in _rows(a)}
    vb = {(m, ts, v) for (_n, m, ts, v) in _rows(b)}
    assert va == vb


def test_alias_and_multi(spark):
    res = engine.plan(
        spark,
        "SELECT avg(q, 1m), sum(q, 1m) ALIAS 'events'.'click' BUCKET 'events' AS q "
        f"BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    assert len(res) == 2
    assert res[0].df.count() == res[1].df.count() > 0


def test_resolution_conflict(spark):
    from dqe_spark.dql.compiler import PlanError

    with pytest.raises(PlanError, match="multiple"):
        engine.plan(
            spark,
            "SELECT avg('events'.'click' BUCKET 'events', 1500ms) "
            f"BETWEEN {JAN1} AND {FEB1} ",
            SF_SMOKE,
        )[0].df.count()


def test_last_now(spark):
    # LAST with injected clock: deterministic
    (res,) = engine.plan(
        spark,
        "SELECT avg('events'.'click' BUCKET 'events', 1h) LAST 1d",
        SF_SMOKE,
        now_ms=JAN1 + 86_400_000,
    )
    assert res.df.count() > 0


def test_shared_scan_cse(spark):
    """Duplicate selectors share one scan DataFrame (the reference's
    dflow optimize, src/dqe.erl:204-225); with cache_shared_scans the
    shared base is cached so separate statements reuse the compute."""
    from dqe_spark.dql.compiler import Compiler
    from dqe_spark.dql.parser import parse
    from dqe_spark.sources.metric_store import (
        BUCKET_RESOLUTION_MS,
        load_events,
        load_metrics,
    )
    from tests.conftest import SF_SMOKE

    JAN1, FEB1 = 1704067200000, 1706745600000
    dql = (
        "SELECT avg('events'.'click' BUCKET 'events', 1m), "
        "sum('events'.'click' BUCKET 'events', 1h) "
        f"BETWEEN {JAN1} AND {FEB1}"
    )
    comp = Compiler(
        metrics=load_metrics(spark, SF_SMOKE),
        events=load_events(spark, SF_SMOKE),
        resolutions=BUCKET_RESOLUTION_MS,
        cache_shared_scans=True,
    )
    r1, r2 = comp.compile(parse(dql))
    (shared,) = comp._scan_memo.values()
    assert shared.is_cached
    try:
        assert r1.df.count() > 0 and r2.df.count() > 0
    finally:
        comp.unpersist_shared()
    assert not comp._scan_memo


def test_hdr_quantize_bucket_rule(spark):
    """HDR quantization (src/dqe_hist.erl:30-57): identity below
    sub_bucket_count, bucket collapse above it reporting the
    medianEquivalentValue (lowest + quantum/2, what a true
    HdrHistogram's readouts are computed from), saturation at the
    highest trackable value; "lowest" mode keeps the bucket key."""
    from pyspark.sql import functions as F

    from dqe_spark.dql.compiler import hdr_quantize

    cases = [0, 1, 31, 32, 33, 63, 64, 65, 100, 255, 256, 257, 490, 1000, 5000]
    df = spark.createDataFrame([(v,) for v in cases], "v long")
    got = dict(
        df.select("v", hdr_quantize(F.col("v"), 1000, 1).alias("q")).collect()
    )
    # sf=1 → sbc = 2^ceil(log2(20)) = 32, half_mag = 4
    want = {
        0: 0, 1: 1, 31: 31,            # identity below sub_bucket_count
        32: 33, 33: 33,                # quantum 2^(5-4) = 2 → low + 1
        63: 63, 64: 66, 65: 66,        # boundary: quantum 2 then 4
        100: 102,                      # bucket [100,104) → 102
        255: 252, 256: 264, 257: 264,  # quantum 8 then 16
        490: 488,                      # bucket [480,496) → 488
        1000: 1008,                    # htv's own bucket [992,1008)
        5000: 1008,                    # saturates at htv=1000 first
    }
    assert got == want
    low = dict(
        df.select(
            "v", hdr_quantize(F.col("v"), 1000, 1, "lowest").alias("q")
        ).collect()
    )
    want_low = {
        0: 0, 1: 1, 31: 31, 32: 32, 33: 32, 63: 62, 64: 64, 65: 64,
        100: 100, 255: 248, 256: 256, 257: 256, 490: 480,
        1000: 992, 5000: 992,
    }
    assert low == want_low


def test_histogram_sig_figs_validation(spark):
    import pytest

    from dqe_spark import engine
    from dqe_spark.dql.compiler import PlanError
    from tests.conftest import SF_SMOKE

    with pytest.raises(PlanError, match="1..5"):
        engine.plan(
            spark,
            "SELECT mean(histogram('events'.'click' BUCKET 'events', 1000, 9, 5m)) "
            "LAST 30m",
            SF_SMOKE,
        )


def test_tag_where_pushes_to_scan(spark):
    """Bare tag keys backed by physical columns must reach the parquet
    scan as PushedFilters (row-group skipping) instead of running as
    post-scan tags-map lookups — the engine's analogue of the
    reference pushing tag WHEREs into its index
    (src/dql_expand.erl:60-93)."""
    from dqe_spark import engine
    from dqe_spark.plans.debug import explain_string
    from dqe_spark.sources import store
    from tests.conftest import SF_SMOKE

    # Pushdown needs the MATERIALIZED store (host as a physical parquet
    # column); build it here so the test doesn't depend on test_store.py
    # having run first in the same session.
    store.ingest(spark, SF_SMOKE)

    JAN1, FEB1 = 1704067200000, 1706745600000
    (res,) = engine.plan(
        spark,
        "SELECT 'events'.'click' FROM 'events' WHERE 'host' = 'h1' "
        f"AND 'dc' != 'west' BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    plan = explain_string(res.df)
    assert "EqualTo(host,h1)" in plan, plan
    # the tags map must not be materialized for this query at all
    assert "tags" not in plan.split("ReadSchema")[1].splitlines()[0], plan


def test_group_by_product_half_boundary_rounding(spark, duck):
    """The GROUP BY ... USING product aggregate must use the same
    floor(p\u00b710\u2074+0.5)/10\u2074 rounding as comb_product (advisor r3, low):
    Spark's round(d, 4) rounds the SHORTEST-DECIMAL repr of the double
    (BigDecimal.valueOf) while DuckDB rounds the BINARY value, so they
    disagree where the binary sits just below an exact .xxxx5 half —
    0.00015 \u2192 Spark round 0.0002, DuckDB round 0.0001. The floor of the
    bit-identical double expression is identical on both engines."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, 0.00015)], "g int, value double")
    prod4 = (
        F.floor(F.product("value") * 10000 + F.lit(0.5)).cast("double") / 10000.0
    )
    got = df.groupBy("g").agg(prod4.alias("v")).collect()[0]["v"]
    duck_floor = duck.sql(
        "SELECT floor(product(x) * 10000 + 0.5) / 10000.0 "
        "FROM (VALUES (0.00015::DOUBLE)) t(x)"
    ).fetchall()[0][0]
    assert got == duck_floor == 0.0001
    # the divergence the floor trick avoids:
    spark_round = (
        df.groupBy("g").agg(F.round(F.product("value"), 4).alias("v"))
        .collect()[0]["v"]
    )
    duck_round = duck.sql("SELECT round(0.00015::DOUBLE, 4)").fetchall()[0][0]
    assert spark_round == 0.0002 and duck_round == 0.0001


# -- round-5 language extensions (zscore / alert_above / bm25) ---------------


def test_zscore_matches_operator_twin(spark):
    """zscore() in the language == rolling_zscore over the same
    windowed frame, row for row (including NULL warmup rows)."""
    (res,) = engine.plan(
        spark,
        "SELECT zscore(avg('events'.'click' BUCKET 'events', 1m), 12) "
        f"BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    assert res.kind == "metrics" and res.resolution_ms == 60_000
    from dqe_spark.operators.anomaly import rolling_zscore
    from dqe_spark.operators.windows import agg_avg, window_agg
    from dqe_spark.sources.metric_store import load_metrics

    w = window_agg(
        load_metrics(spark, SF_SMOKE), 60_000, agg_avg("value"), "value"
    ).where("metric = 'events.click'")
    expect = {
        (r["metric"], r["wts"], r["zscore"])
        for r in rolling_zscore(w, k=12).collect()
    }
    got = {(m, ts, v) for (_n, m, ts, v) in _rows(res)}
    assert got == expect
    assert any(v is None for (_m, _t, v) in got)  # warmup rows survive


def test_alert_above_matches_operator_twin(spark):
    """alert_above() == threshold_alerts with for_windows = dur/res;
    a duration that does not divide the resolution is a plan error."""
    (res,) = engine.plan(
        spark,
        "SELECT alert_above(avg('events'.* BUCKET 'events', 5m), 30, 10m) "
        f"BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    assert res.kind == "events"
    from dqe_spark.operators.alerts import threshold_alerts
    from dqe_spark.operators.windows import agg_avg, window_agg
    from dqe_spark.sources.metric_store import load_metrics

    w = window_agg(load_metrics(spark, SF_SMOKE), 300_000, agg_avg("value"), "value")
    expect = {
        tuple(r)
        for r in threshold_alerts(
            w, threshold=30.0, for_windows=2, step_ms=300_000
        ).collect()
    }
    got = {t[:-1] for t in _rows(res)}  # drop the trailing name column
    assert got == expect and got  # smoke data sustains 2 windows
    from dqe_spark.dql.compiler import PlanError

    with pytest.raises(PlanError, match="multiple"):
        engine.plan(
            spark,
            "SELECT alert_above(avg('events'.'click' BUCKET 'events', 5m), 10, 7m) "
            f"BETWEEN {JAN1} AND {FEB1}",
            SF_SMOKE,
        )


def test_bm25_in_language(spark):
    """bm25() == sources/text_index.bm25_search with the query string
    tokenized by the index rule; an unindexable query is a plan error."""
    (res,) = engine.plan(
        spark, "SELECT bm25('dup hash join', 5) LAST 1d", SF_SMOKE
    )
    assert res.kind == "events"
    from dqe_spark.sources.text_index import bm25_search

    expect = [
        (r["doc_id"], r["score"])
        for r in bm25_search(spark, SF_SMOKE, ["dup", "hash", "join"], k=5).collect()
    ]
    got = [(d, s) for (d, s, _n) in (tuple(r) for r in res.df.collect())]
    assert sorted(got) == sorted(expect) and len(got) == 5
    from dqe_spark.dql.compiler import PlanError

    with pytest.raises(PlanError, match="no indexable terms"):
        engine.plan(spark, "SELECT bm25('!!!', 5) LAST 1d", SF_SMOKE)


def test_zscore_composes_with_group_by(spark):
    """zscore() keys on whatever series identity the frame carries —
    here the GROUP BY tag columns — so anomaly scoring composes with
    tag grouping like any other windowed function."""
    (res,) = engine.plan(
        spark,
        "SELECT zscore(avg('events'.'click' FROM 'events' GROUP BY $'host' "
        f"USING avg, 1m), 12) BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    rows = res.df.collect()
    assert rows and "g_host" in res.df.columns
    hosts = {r["g_host"] for r in rows}
    assert len(hosts) > 1  # scored per group, not globally
    vals = [r["value"] for r in rows if r["value"] is not None]
    assert vals and all(abs(v) < 100 for v in vals)  # z-scale, not raw


def test_neardup_in_language(spark):
    """neardup(t) == neardup_srp_pairs at the AUTO-SCALED band width
    (planes_matrix=None → auto_planes) over the whole embedding
    corpus — the round-6 verdict's ask: the language front door must
    ride the linear candidate budget, not the pinned 32/8 shape. Also
    pins the CANDIDATE BUDGET itself: the language path generates
    exactly _srp_candidates(auto_planes)'s pair set. A threshold
    outside 0..1 is a plan error."""
    (res,) = engine.plan(spark, "SELECT neardup(0.2) LAST 1d", SF_SMOKE)
    assert res.kind == "events"
    import dqe_spark.operators.similarity as S

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    expect = sorted(
        (r["id_i"], r["id_j"], r["cos"])
        for r in S.neardup_srp_pairs(
            emb, 0.2, planes_matrix=None, bands=8
        ).collect()
    )
    got = sorted((r["id_i"], r["id_j"], r["cos"]) for r in res.df.collect())
    assert got == expect and got
    # candidate budget: the compiler path must feed the SAME candidate
    # set the auto-width operator generates (width is a pure function
    # of n, so both sides derive identical matrices)
    auto = S.auto_planes(emb, bands=8)
    n = emb.count()
    import math

    assert len(auto) == 8 * max(2, min(48, math.ceil(math.log2(max(2, n / 128)))))
    cand_auto = {
        (r["id_i"], r["id_j"])
        for r in S._srp_candidates(emb, auto, 8).collect()
    }
    cand_dql_verified = {(i, j) for (i, j, _c) in got}
    assert cand_dql_verified <= cand_auto
    # and the compiler really passes planes_matrix=None (auto), not a
    # pinned matrix — captured at the operator boundary
    seen = {}
    real = S.neardup_srp_pairs

    def spy(df, threshold, planes_matrix=None, bands=8, **kw):
        seen["planes_matrix"] = planes_matrix
        seen["bands"] = bands
        return real(df, threshold, planes_matrix, bands, **kw)

    S.neardup_srp_pairs = spy
    try:
        engine.plan(spark, "SELECT neardup(0.2) LAST 1d", SF_SMOKE)
    finally:
        S.neardup_srp_pairs = real
    assert seen == {"planes_matrix": None, "bands": 8}
    from dqe_spark.dql.compiler import PlanError

    with pytest.raises(PlanError, match="0..1"):
        engine.plan(spark, "SELECT neardup(1.5) LAST 1d", SF_SMOKE)


def test_dedup_in_language(spark):
    """dedup('exact') == operators/dedup.dedup_exact on documents;
    dedup('semantic') == SemDeDup survivors over the auto-width SRP
    pairs (planes_matrix=None);
    an unknown mode is a plan error."""
    (res,) = engine.plan(spark, "SELECT dedup('exact') LAST 1d", SF_SMOKE)
    from dqe_spark.operators.dedup import dedup_exact

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    expect = sorted(tuple(r) for r in dedup_exact(docs).collect())
    got = sorted(
        tuple(r)
        for r in res.df.select("fp", "keep_id", "n_copies").collect()
    )
    assert got == expect

    (sem,) = engine.plan(spark, "SELECT dedup('semantic', 0.2) LAST 1d", SF_SMOKE)
    from dqe_spark.operators.similarity import (
        neardup_srp_pairs,
        semantic_survivors,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    pairs = neardup_srp_pairs(emb, 0.2, planes_matrix=None, bands=8)
    want = sorted(
        r["vec_id"] for r in semantic_survivors(emb, pairs).collect()
    )
    assert sorted(r["vec_id"] for r in sem.df.collect()) == want

    from dqe_spark.dql.compiler import PlanError

    with pytest.raises(PlanError, match="expected 'exact', 'semantic'"):
        engine.plan(spark, "SELECT dedup('fuzzy') LAST 1d", SF_SMOKE)


def test_substring_dedup_and_surprisal_in_language(spark):
    """dedup('substring'[, k]) == strip_duplicate_substrings;
    surprisal() == unigram_surprisal; bad args are plan errors."""
    from dqe_spark.operators.dedup import strip_duplicate_substrings
    from dqe_spark.operators.text import unigram_surprisal

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    (res,) = engine.plan(spark, "SELECT dedup('substring') LAST 1d", SF_SMOKE)
    want = sorted(
        tuple(r) for r in strip_duplicate_substrings(docs, k=5).collect()
    )
    got = sorted(
        tuple(r)
        for r in res.df.select(
            "doc_id", "clean_text", "n_tokens", "removed_tokens"
        ).collect()
    )
    assert got == want

    (sup,) = engine.plan(spark, "SELECT surprisal() LAST 1d", SF_SMOKE)
    want_s = sorted(tuple(r) for r in unigram_surprisal(docs).collect())
    got_s = sorted(
        tuple(r)
        for r in sup.df.select(
            "doc_id", "n_tokens", "mean_surprisal_e9"
        ).collect()
    )
    assert got_s == want_s

    from dqe_spark.dql.compiler import PlanError

    with pytest.raises(PlanError, match="substring"):
        engine.plan(spark, "SELECT dedup('substring', 1) LAST 1d", SF_SMOKE)
    with pytest.raises(PlanError, match="surprisal"):
        engine.plan(spark, "SELECT surprisal(3) LAST 1d", SF_SMOKE)


def test_knn_ann_in_language(spark):
    """knn(q, k) == knn_bruteforce; ann(q, k) == knn_srp at the
    auto_planes width (sized on the FULL corpus, query included —
    same convention as neardup()); bad args / unknown vector are plan
    errors."""
    from pyspark.sql import functions as F

    import dqe_spark.operators.similarity as S

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    query = emb.where(F.col("vec_id") == 5)
    corpus = emb.where(F.col("vec_id") != 5)

    (res,) = engine.plan(spark, "SELECT knn(5, 10) LAST 1d", SF_SMOKE)
    got = [(r["vec_id"], r["cos"]) for r in res.df.collect()]
    want = [
        (r["vec_id"], r["cos"])
        for r in S.knn_bruteforce(corpus, query, 10).collect()
    ]
    assert got == want and len(got) == 10

    (res,) = engine.plan(spark, "SELECT ann(5, 10) LAST 1d", SF_SMOKE)
    got = [(r["vec_id"], r["cos"]) for r in res.df.collect()]
    want = [
        (r["vec_id"], r["cos"])
        for r in S.knn_srp(
            corpus, query, 10, S.auto_planes(emb, bands=8), bands=8
        ).collect()
    ]
    assert got == want and got
    # ANN is a subset filter + same rerank: every ANN hit's cosine is
    # <= the exact best, and any exact hit ANN returns agrees on cos
    exact = dict(
        (r["vec_id"], r["cos"])
        for r in S.knn_bruteforce(corpus, query, 100).collect()
    )
    assert all(v == exact[i] for i, v in got if i in exact)

    from dqe_spark.dql.compiler import PlanError

    with pytest.raises(PlanError, match="knn"):
        engine.plan(spark, "SELECT knn(5) LAST 1d", SF_SMOKE)
    with pytest.raises(PlanError, match="positive"):
        engine.plan(spark, "SELECT ann(5, 0) LAST 1d", SF_SMOKE)
    with pytest.raises(PlanError, match="no vector"):
        engine.plan(spark, "SELECT knn(999999, 5) LAST 1d", SF_SMOKE)


def test_neardup_sizing_pass_is_cached_per_session(spark):
    """Round-7 verdict #7: the auto_planes sizing scan behind the DQL
    similarity front doors runs once per (sf_dir, table) per session.
    First statement populates the memo; a second statement must read
    it (proven by poisoning the cached entry with a sentinel and
    checking the poisoned width takes effect — no recount happens),
    and the results at the true width are unaffected."""
    from dqe_spark.operators import similarity as S

    S._SIZING_CACHE.clear()
    key = (SF_SMOKE, "embeddings")
    (res1,) = engine.plan(spark, "SELECT neardup(0.2) LAST 1d", SF_SMOKE)
    assert key in S._SIZING_CACHE
    n_true, dims_true = S._SIZING_CACHE[key]
    assert n_true > 0 and dims_true > 0

    # poison: if the second run re-counted, the sentinel would be
    # overwritten back to the true sizing
    S._SIZING_CACHE[key] = (n_true, dims_true)
    sentinel = (n_true * 1000, dims_true)
    S._SIZING_CACHE[key] = sentinel
    (res2,) = engine.plan(spark, "SELECT neardup(0.2) LAST 1d", SF_SMOKE)
    assert S._SIZING_CACHE[key] == sentinel  # memo read, not recomputed

    # restore and confirm the cached path returns the same rows as the
    # first (true-width) run
    S._SIZING_CACHE[key] = (n_true, dims_true)
    (res3,) = engine.plan(spark, "SELECT neardup(0.2) LAST 1d", SF_SMOKE)
    a = sorted(map(tuple, res1.df.collect()))
    c = sorted(map(tuple, res3.df.collect()))
    assert a == c
    S._SIZING_CACHE.clear()


def test_dql_dsir_errors_and_shape(spark):
    """dsir('<lang>'[, k]) argument surface: bad arities/types raise
    PlanError; the happy path returns the top-k selection frame."""
    import pytest

    from dqe_spark import engine
    from dqe_spark.dql.compiler import PlanError
    from tests.conftest import SF_SMOKE

    out = engine.plan(
        spark, "SELECT dsir('en', 5) LAST 1d", sf_dir=SF_SMOKE
    )[0].df
    rows = out.collect()
    assert len(rows) == 5
    assert {"doc_id", "n_grams", "logw_e9", "score_e9"} <= set(
        out.columns
    )
    scores = [r.score_e9 for r in rows]
    assert scores == sorted(scores, reverse=True)
    for bad in (
        "SELECT dsir() LAST 1d",
        "SELECT dsir(3) LAST 1d",
        "SELECT dsir('en', 0) LAST 1d",
        "SELECT dsir('en', 1, 2) LAST 1d",
    ):
        with pytest.raises(PlanError):
            engine.plan(spark, bad, sf_dir=SF_SMOKE)


def test_dql_retention_errors_and_shape(spark):
    """retention(['<event_type>']) argument surface: bad arities/types
    raise PlanError; the happy path serves the register-algebra
    retention frame (filtered and unfiltered) from the store."""
    import pytest

    from dqe_spark import engine
    from dqe_spark.dql.compiler import PlanError
    from tests.conftest import SF_SMOKE

    out = engine.plan(
        spark, "SELECT retention('click') LAST 1d", sf_dir=SF_SMOKE
    )[0].df
    rows = out.collect()
    assert rows and all(r.event_type == "click" for r in rows)
    assert {"day1", "day2", "returning_users", "retention_bp"} <= set(
        out.columns
    )
    assert all(0 <= r.retention_bp <= 10000 or r.returning_users == 0
               for r in rows)
    every = engine.plan(
        spark, "SELECT retention() LAST 1d", sf_dir=SF_SMOKE
    )[0].df
    assert every.select("event_type").distinct().count() > 1
    for bad in (
        "SELECT retention(3) LAST 1d",
        "SELECT retention('click', 'view') LAST 1d",
    ):
        with pytest.raises(PlanError):
            engine.plan(spark, bad, sf_dir=SF_SMOKE)


def test_dql_retention_offset_arg(spark):
    """retention('<type>', offset_days): day2 must sit offset days
    after day1; bad offsets raise."""
    import pytest

    from dqe_spark import engine
    from dqe_spark.dql.compiler import PlanError
    from tests.conftest import SF_SMOKE

    DAY = 86_400_000
    out = engine.plan(
        spark, "SELECT retention('click', 7) LAST 1d", sf_dir=SF_SMOKE
    )[0].df
    rows = out.collect()
    assert rows and all(r.day2 - r.day1 == 7 * DAY for r in rows)
    for bad in (
        "SELECT retention('click', 0) LAST 1d",
        "SELECT retention('click', 400) LAST 1d",
        "SELECT retention('click', 1s) LAST 1d",
    ):
        with pytest.raises(PlanError):
            engine.plan(spark, bad, sf_dir=SF_SMOKE)
