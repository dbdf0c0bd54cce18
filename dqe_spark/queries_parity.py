"""Reference-parity query inventory (SURVEY.md §2) with DuckDB oracles.

Every entry is (a) a PySpark DataFrame program over the driver's
parquet tables and (b) the equivalent ANSI SQL DuckDB runs on the same
tables. Column names/types are aligned pairwise; doubles are rounded at
4 dp (windows.ROUND_DP) on both sides so cross-engine float folds
hash-match.

The DQL text form of each query is noted in the docstring-style comment
above it; the frontend (dqe_spark.dql) compiles those strings into the
same plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dqe_spark.operators import combinators as C
from dqe_spark.operators import timeshift, topk, transforms
from dqe_spark.operators.windows import (
    AGGREGATES,
    agg_avg,
    agg_count_above,
    agg_count_below,
    agg_first_above,
    agg_first_below,
    agg_last_above,
    agg_last_below,
    agg_max,
    agg_median,
    agg_min,
    agg_percentile,
    agg_stddev,
    agg_stddev_exact,
    agg_sum,
    agg_variance,
    agg_variance_exact,
    rounded,
    window_agg,
    wts_col,
)
from dqe_spark.sources.metric_store import (
    METRICS_ORACLE_CTE,
    load_events,
    load_metrics,
    load_table,
)

MIN_MS = 60_000
H_MS = 3_600_000
D_MS = 86_400_000
JAN1 = 1704067200000  # 2024-01-01T00:00:00Z in epoch ms
JAN5 = JAN1 + 4 * D_MS
JAN8 = JAN1 + 7 * D_MS
JAN10 = JAN1 + 9 * D_MS
JAN15 = JAN1 + 14 * D_MS

P = METRICS_ORACLE_CTE  # oracle prefix: the F4 metrics derivation

QUERIES: dict = {}
ORACLES: dict = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _metrics_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4's second mapping: lineitem → metric store (irregular, sparse
    timestamps — exercises window bucketing over non-dense series)."""
    li = load_table(spark, sf_dir, "lineitem")
    metric = F.concat(F.lit("lineitem."), F.col("l_returnflag"))
    # l_shipdate is microsecond-precision TIMESTAMP_NTZ (unlike events.ts,
    # which is nanos-as-long); session tz is UTC so the cast is identity.
    return li.select(
        metric.alias("metric"),
        F.expr(
            "CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 1000 AS long)"
        ).alias("ts_ms"),
        F.col("l_extendedprice").alias("value"),
    )


LINEITEM_CTE = """
WITH metrics AS (
    SELECT 'lineitem.' || l_returnflag AS metric,
           epoch_us(l_shipdate) // 1000 AS ts_ms,
           l_extendedprice AS value
    FROM lineitem
)
"""


# ---------------------------------------------------------------------------
# §2.1 scans — get / sget(glob) / lookup / events
# ---------------------------------------------------------------------------

# DQL: SELECT 'events'.'click' BUCKET 'events' BETWEEN 1704067200000 AND ...
@q(
    "get_points",
    P
    + """
SELECT metric, ts_ms, round(value, 4) AS value
FROM metrics WHERE metric = 'events.click'
""",
)
def get_points(spark, sf_dir):
    m = load_metrics(spark, sf_dir)
    return m.where(F.col("metric") == "events.click").select(
        "metric", "ts_ms", rounded(F.col("value")).alias("value")
    )


# DQL: SELECT avg(events.* BUCKET 'events', 1m) ...  (sget glob expansion,
# src/dql_parser.yrl:239-244 — here a metric predicate Catalyst prunes on)
@q(
    "glob_avg_1m",
    P
    + """
SELECT metric, (ts_ms // 60000) * 60000 AS wts, CAST((CASE WHEN sum(CAST(round(value * 10000) AS HUGEINT)) >= 0 THEN (2 * sum(CAST(round(value * 10000) AS HUGEINT)) + count(value)) // (2 * count(value)) ELSE -((2 * -(sum(CAST(round(value * 10000) AS HUGEINT))) + count(value)) // (2 * count(value))) END) AS DOUBLE) / 10000.0 AS avg_value
FROM metrics WHERE metric LIKE 'events.%' GROUP BY 1, 2
""",
)
def glob_avg_1m(spark, sf_dir):
    m = load_metrics(spark, sf_dir).where(F.col("metric").like("events.%"))
    return window_agg(m, MIN_MS, agg_avg("value"), "avg_value")


# DQL: SELECT 'events'.'click' FROM 'events' WHERE 'host'='h1' AND 'dc' != 'west'
@q(
    "lookup_where_tags",
    P
    + """
SELECT metric, ts_ms, round(value, 4) AS value
FROM metrics
WHERE metric = 'events.click' AND host = 'h1' AND dc != 'west'
""",
)
def lookup_where_tags(spark, sf_dir):
    m = load_metrics(spark, sf_dir)
    return m.where(
        (F.col("metric") == "events.click")
        & (F.col("tags")["host"] == "h1")
        & (F.col("tags")["dc"] != "west")
    ).select("metric", "ts_ms", rounded(F.col("value")).alias("value"))


# DQL: SELECT EVENTS FROM 'events' WHERE 'event_type' == 'error'
#      AND 'k' > 50 AND NOT 'value' < 1   (path predicates,
#      src/dql_parser.yrl:89-113; reader src/dqe_events.erl:14-44)
@q(
    "events_filter",
    """
SELECT event_id, epoch_ns(ts) // 1000000 AS ts_ms, event_type,
       round(value, 4) AS value,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
WHERE event_type = 'error'
  AND CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
  AND NOT (value < 1)
""",
)
def events_filter(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    k = F.get_json_object(F.col("payload"), "$.k").cast("long")
    return (
        ev.where(
            (F.col("event_type") == "error") & (k > 50) & (~(F.col("value") < 1))
        )
        .select(
            "event_id",
            "ts_ms",
            "event_type",
            rounded(F.col("value")).alias("value"),
            k.alias("k"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4 window aggregates over the value channel
# DQL: SELECT <fn>('events'.'click' BUCKET 'events', 1m) ...
# ---------------------------------------------------------------------------


def _one_series_window(spark, sf_dir, agg, out, window=MIN_MS, metric="events.click"):
    m = load_metrics(spark, sf_dir).where(F.col("metric") == metric)
    return window_agg(m, window, agg, out)


def _agg_oracle(expr: str, out: str, window=MIN_MS, metric="events.click", extra=""):
    return (
        P
        + f"""
SELECT metric, (ts_ms // {window}) * {window} AS wts, {expr} AS {out}
FROM metrics WHERE metric = '{metric}' {extra} GROUP BY 1, 2
"""
    )


@q("aggr_sum_1m", _agg_oracle("round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)", "sum_value"))
def aggr_sum_1m(spark, sf_dir):
    return _one_series_window(spark, sf_dir, agg_sum("value"), "sum_value")


@q("aggr_avg_1m", _agg_oracle("CAST((CASE WHEN sum(CAST(round(value * 10000) AS HUGEINT)) >= 0 THEN (2 * sum(CAST(round(value * 10000) AS HUGEINT)) + count(value)) // (2 * count(value)) ELSE -((2 * -(sum(CAST(round(value * 10000) AS HUGEINT))) + count(value)) // (2 * count(value))) END) AS DOUBLE) / 10000.0", "avg_value"))
def aggr_avg_1m(spark, sf_dir):
    return _one_series_window(spark, sf_dir, agg_avg("value"), "avg_value")


@q("aggr_min_5m", _agg_oracle("round(min(value), 4)", "min_value", 5 * MIN_MS))
def aggr_min_5m(spark, sf_dir):
    return _one_series_window(spark, sf_dir, agg_min("value"), "min_value", 5 * MIN_MS)


@q("aggr_max_5m", _agg_oracle("round(max(value), 4)", "max_value", 5 * MIN_MS))
def aggr_max_5m(spark, sf_dir):
    return _one_series_window(spark, sf_dir, agg_max("value"), "max_value", 5 * MIN_MS)


# DuckDB replay of windows._var_exact: exact HUGEINT numerator in
# v·100 units, 4dp rounding by integer division — (2·numer + n²) //
# (2·n²) — so both engines produce the IDENTICAL exact-4dp double.
# (Float-rounding the quotient instead diverges at .xxxx5 halves:
# Spark rounds the double's shortest decimal repr, DuckDB its binary
# value — 14 windows flipped at sf0.1.)
_VAR_EXACT = """greatest(0.0, CAST(((
    2 * (count(value) * sum(CAST(round(value*100) AS HUGEINT) * CAST(round(value*100) AS HUGEINT))
         - sum(CAST(round(value*100) AS HUGEINT)) * sum(CAST(round(value*100) AS HUGEINT)))
    + (count(value) * count(value))
  ) // (2 * (count(value) * count(value)))) AS DOUBLE) / 10000.0)"""


@q("aggr_variance_5m", _agg_oracle(f"round({_VAR_EXACT}, 4)", "var_value", 5 * MIN_MS))
def aggr_variance_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_variance_exact("value"), "var_value", 5 * MIN_MS
    )


@q("aggr_stddev_5m", _agg_oracle(f"round(sqrt({_VAR_EXACT}), 4)", "sd_value", 5 * MIN_MS))
def aggr_stddev_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_stddev_exact("value"), "sd_value", 5 * MIN_MS
    )


@q(
    "aggr_median_5m",
    _agg_oracle("round(quantile_cont(value, 0.5), 4)", "med_value", 5 * MIN_MS),
)
def aggr_median_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_median("value"), "med_value", 5 * MIN_MS
    )


# DQL: SELECT percentile('events'.'click' BUCKET 'events', 0.9, 5m) ...
@q(
    "aggr_percentile_90_5m",
    _agg_oracle("round(quantile_cont(value, 0.9), 4)", "p90_value", 5 * MIN_MS),
)
def aggr_percentile_90_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_percentile("value", 0.9), "p90_value", 5 * MIN_MS
    )


@q(
    "aggr_count_above_5m",
    _agg_oracle("count(*) FILTER (value > 150.0)", "n_above", 5 * MIN_MS, "events.error"),
)
def aggr_count_above_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_count_above("value", 150.0), "n_above", 5 * MIN_MS,
        "events.error",
    )


@q(
    "aggr_count_below_5m",
    _agg_oracle("count(*) FILTER (value < 50.0)", "n_below", 5 * MIN_MS, "events.error"),
)
def aggr_count_below_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_count_below("value", 50.0), "n_below", 5 * MIN_MS,
        "events.error",
    )


@q(
    "aggr_first_above_5m",
    _agg_oracle(
        "round(arg_min(value, ts_ms) FILTER (value > 150.0), 4)",
        "fa_value", 5 * MIN_MS, "events.error",
    ),
)
def aggr_first_above_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_first_above("value", 150.0), "fa_value", 5 * MIN_MS,
        "events.error",
    )


@q(
    "aggr_first_below_5m",
    _agg_oracle(
        "round(arg_min(value, ts_ms) FILTER (value < 50.0), 4)",
        "fb_value", 5 * MIN_MS, "events.error",
    ),
)
def aggr_first_below_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_first_below("value", 50.0), "fb_value", 5 * MIN_MS,
        "events.error",
    )


@q(
    "aggr_last_above_5m",
    _agg_oracle(
        "round(arg_max(value, ts_ms) FILTER (value > 150.0), 4)",
        "la_value", 5 * MIN_MS, "events.error",
    ),
)
def aggr_last_above_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_last_above("value", 150.0), "la_value", 5 * MIN_MS,
        "events.error",
    )


@q(
    "aggr_last_below_5m",
    _agg_oracle(
        "round(arg_max(value, ts_ms) FILTER (value < 50.0), 4)",
        "lb_value", 5 * MIN_MS, "events.error",
    ),
)
def aggr_last_below_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_last_below("value", 50.0), "lb_value", 5 * MIN_MS,
        "events.error",
    )


# ---------------------------------------------------------------------------
# §2.4 *_conf — the same aggregates over the CONFIDENCE channel
# (src/dqe.erl:75-80; e.g. src/dqe_count_above_conf_aggr.erl:32-37)
# DQL: SELECT count_above_conf('events'.'click' BUCKET 'events', 0.5, 5m) ...
# ---------------------------------------------------------------------------


@q(
    "aggr_count_above_conf_5m",
    _agg_oracle("count(*) FILTER (confidence > 0.5)", "n_above", 5 * MIN_MS),
)
def aggr_count_above_conf_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_count_above("confidence", 0.5), "n_above", 5 * MIN_MS
    )


@q(
    "aggr_count_below_conf_5m",
    _agg_oracle("count(*) FILTER (confidence < 0.5)", "n_below", 5 * MIN_MS),
)
def aggr_count_below_conf_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_count_below("confidence", 0.5), "n_below", 5 * MIN_MS
    )


@q(
    "aggr_first_above_conf_5m",
    _agg_oracle(
        "round(arg_min(confidence, ts_ms) FILTER (confidence > 0.5), 4)",
        "fa_conf", 5 * MIN_MS,
    ),
)
def aggr_first_above_conf_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_first_above("confidence", 0.5), "fa_conf", 5 * MIN_MS
    )


@q(
    "aggr_first_below_conf_5m",
    _agg_oracle(
        "round(arg_min(confidence, ts_ms) FILTER (confidence < 0.5), 4)",
        "fb_conf", 5 * MIN_MS,
    ),
)
def aggr_first_below_conf_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_first_below("confidence", 0.5), "fb_conf", 5 * MIN_MS
    )


@q(
    "aggr_last_above_conf_5m",
    _agg_oracle(
        "round(arg_max(confidence, ts_ms) FILTER (confidence > 0.5), 4)",
        "la_conf", 5 * MIN_MS,
    ),
)
def aggr_last_above_conf_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_last_above("confidence", 0.5), "la_conf", 5 * MIN_MS
    )


@q(
    "aggr_last_below_conf_5m",
    _agg_oracle(
        "round(arg_max(confidence, ts_ms) FILTER (confidence < 0.5), 4)",
        "lb_conf", 5 * MIN_MS,
    ),
)
def aggr_last_below_conf_5m(spark, sf_dir):
    return _one_series_window(
        spark, sf_dir, agg_last_below("confidence", 0.5), "lb_conf", 5 * MIN_MS
    )


# ---------------------------------------------------------------------------
# §2.6 point-wise transforms & scalar arithmetic
# ---------------------------------------------------------------------------

_CLICK = "metric = 'events.click'"


def _points(spark, sf_dir, metric="events.click"):
    return load_metrics(spark, sf_dir).where(F.col("metric") == metric)


# DQL: SELECT derivate('events'.'click' BUCKET 'events') ...
@q(
    "trans_derivate",
    P
    + f"""
SELECT metric, ts_ms, round(value - prev, 4) AS value
FROM (
  SELECT metric, ts_ms, value,
         lag(value) OVER (PARTITION BY metric ORDER BY ts_ms) AS prev
  FROM metrics WHERE {_CLICK}
) WHERE prev IS NOT NULL
""",
)
def trans_derivate(spark, sf_dir):
    return transforms.derivate(_points(spark, sf_dir)).select(
        "metric", "ts_ms", "value"
    )


# DQL: SELECT confidence('events'.'click' BUCKET 'events') ...
@q(
    "trans_confidence",
    P + f"SELECT metric, ts_ms, confidence AS value FROM metrics WHERE {_CLICK}",
)
def trans_confidence(spark, sf_dir):
    return transforms.t_confidence(_points(spark, sf_dir)).select(
        "metric", "ts_ms", "value"
    )


def _trans_query(col_expr):
    def fn(spark, sf_dir):
        return _points(spark, sf_dir).select(
            "metric", "ts_ms", col_expr(F.col("value")).alias("value")
        )

    return fn


# DQL: SELECT abs('events'.'click' BUCKET 'events' - 100) ...
q(
    "trans_abs_sub",
    P + f"SELECT metric, ts_ms, abs(round(value - 100.0, 4)) AS value FROM metrics WHERE {_CLICK}",
)(_trans_query(lambda v: transforms.t_abs(transforms.t_sub(v, 100.0))))

# DQL: SELECT sqrt_scale('events'.'click' BUCKET 'events') ...
q(
    "trans_sqrt_scale",
    P + f"SELECT metric, ts_ms, round(sign(value) * sqrt(abs(value)), 4) AS value FROM metrics WHERE {_CLICK}",
)(_trans_query(transforms.t_sqrt_scale))

# DQL: SELECT log10_scale('events'.'click' BUCKET 'events') ...
q(
    "trans_log10_scale",
    P + f"SELECT metric, ts_ms, round(CASE WHEN value = 0 THEN 0.0 ELSE sign(value) * log10(abs(value)) END, 4) AS value FROM metrics WHERE {_CLICK}",
)(_trans_query(transforms.t_log10_scale))

# DQL: SELECT min('events'.'click' BUCKET 'events', 100) ... (clamp)
q(
    "trans_min_clamp",
    P + f"SELECT metric, ts_ms, least(value, 100.0) AS value FROM metrics WHERE {_CLICK}",
)(_trans_query(lambda v: transforms.t_min(v, 100.0)))

# DQL: SELECT max('events'.'click' BUCKET 'events', 100) ... (clamp)
q(
    "trans_max_clamp",
    P + f"SELECT metric, ts_ms, greatest(value, 100.0) AS value FROM metrics WHERE {_CLICK}",
)(_trans_query(lambda v: transforms.t_max(v, 100.0)))

# DQL: SELECT 'events'.'click' BUCKET 'events' + 5 ...
q(
    "arith_add",
    P + f"SELECT metric, ts_ms, round(value + 5.0, 4) AS value FROM metrics WHERE {_CLICK}",
)(_trans_query(lambda v: transforms.t_add(v, 5.0)))

# DQL: SELECT 'events'.'click' BUCKET 'events' - 5 ...
q(
    "arith_sub",
    P + f"SELECT metric, ts_ms, round(value - 5.0, 4) AS value FROM metrics WHERE {_CLICK}",
)(_trans_query(lambda v: transforms.t_sub(v, 5.0)))

# DQL: SELECT 'events'.'click' BUCKET 'events' * 3 ...
q(
    "arith_mul",
    P + f"SELECT metric, ts_ms, round(value * 3.0, 4) AS value FROM metrics WHERE {_CLICK}",
)(_trans_query(lambda v: transforms.t_mul(v, 3.0)))

# DQL: SELECT 'events'.'click' BUCKET 'events' / 4 ...
q(
    "arith_divide",
    P + f"SELECT metric, ts_ms, round(value / 4.0, 4) AS value FROM metrics WHERE {_CLICK}",
)(_trans_query(lambda v: transforms.t_divide(v, 4.0)))


# ---------------------------------------------------------------------------
# §2.5 combinators — point-wise across aligned (windowed) series.
# DQL: SELECT avg('events'.'click' BUCKET 'events', 1m)
#          <op> avg('events'.'view' BUCKET 'events', 1m) ...
# ---------------------------------------------------------------------------

_COMB_INNER = (
    P
    + """
, a AS (
  SELECT (ts_ms // 60000) * 60000 AS wts, CAST((CASE WHEN sum(CAST(round(value * 10000) AS HUGEINT)) >= 0 THEN (2 * sum(CAST(round(value * 10000) AS HUGEINT)) + count(value)) // (2 * count(value)) ELSE -((2 * -(sum(CAST(round(value * 10000) AS HUGEINT))) + count(value)) // (2 * count(value))) END) AS DOUBLE) / 10000.0 AS value
  FROM metrics WHERE metric = 'events.click' GROUP BY 1
), b AS (
  SELECT (ts_ms // 60000) * 60000 AS wts, CAST((CASE WHEN sum(CAST(round(value * 10000) AS HUGEINT)) >= 0 THEN (2 * sum(CAST(round(value * 10000) AS HUGEINT)) + count(value)) // (2 * count(value)) ELSE -((2 * -(sum(CAST(round(value * 10000) AS HUGEINT))) + count(value)) // (2 * count(value))) END) AS DOUBLE) / 10000.0 AS value
  FROM metrics WHERE metric = 'events.view' GROUP BY 1
)
"""
)


def _two_windowed(spark, sf_dir):
    a = _one_series_window(spark, sf_dir, agg_avg("value"), "value", MIN_MS, "events.click")
    b = _one_series_window(spark, sf_dir, agg_avg("value"), "value", MIN_MS, "events.view")
    return a, b


def _comb_query(comb_fn):
    def fn(spark, sf_dir):
        a, b = _two_windowed(spark, sf_dir)
        return comb_fn([a, b], ts="wts", v="value").select("wts", "value")

    return fn


_COMB_UNION = (
    _COMB_INNER
    + ", u AS (SELECT * FROM a UNION ALL SELECT * FROM b)\n"
)

q(
    "comb_sum",
    _COMB_UNION + "SELECT wts, round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS value FROM u GROUP BY 1",
)(_comb_query(C.comb_sum))

q(
    "comb_avg",
    _COMB_UNION + "SELECT wts, CAST((CASE WHEN sum(CAST(round(value * 10000) AS HUGEINT)) >= 0 THEN (2 * sum(CAST(round(value * 10000) AS HUGEINT)) + count(value)) // (2 * count(value)) ELSE -((2 * -(sum(CAST(round(value * 10000) AS HUGEINT))) + count(value)) // (2 * count(value))) END) AS DOUBLE) / 10000.0 AS value FROM u GROUP BY 1",
)(_comb_query(C.comb_avg))

q(
    "comb_min",
    _COMB_UNION + "SELECT wts, round(min(value), 4) AS value FROM u GROUP BY 1",
)(_comb_query(C.comb_min))

q(
    "comb_max",
    _COMB_UNION + "SELECT wts, round(max(value), 4) AS value FROM u GROUP BY 1",
)(_comb_query(C.comb_max))

q(
    "comb_product",
    _COMB_UNION + "SELECT wts, floor(product(value) * 10000 + 0.5) / 10000.0 AS value FROM u GROUP BY 1",
)(_comb_query(C.comb_product))

q(
    "comb_diff",
    _COMB_INNER
    + "SELECT a.wts AS wts, round(a.value - b.value, 4) AS value FROM a JOIN b USING (wts)",
)(_comb_query(C.comb_diff))

# Division by zero treated as division by one (src/dqe_quotient_comb.erl:28-31)
q(
    "comb_quotient",
    _COMB_INNER
    + """
SELECT a.wts AS wts,
       round(a.value / CASE WHEN b.value = 0 THEN 1.0 ELSE b.value END, 4) AS value
FROM a JOIN b USING (wts)
""",
)(_comb_query(C.comb_quotient))


# ---------------------------------------------------------------------------
# §2.7 histogram family. HDR semantics re-expressed: values are rounded
# to integers (HDR with 3 significant figures is identity for our value
# range < 1000, src/dqe_hist.erl:30-57); each window's multiset of
# rounded values IS the histogram; reductions are exact aggregates over
# it (src/dqe_hist_{max,min,mean,median,stddev}.erl, dqe_hist_percentile.erl).
# DQL: SELECT percentile(histogram('events'.'click' BUCKET 'events',
#                                  1000000, 3, 5m), 0.99) ...
# ---------------------------------------------------------------------------


def _hist_base(spark, sf_dir):
    m = _points(spark, sf_dir)
    return m.withColumn("hv", F.round(F.col("value"), 0).cast("double"))


_HIST_P = (
    P
    + """
, hist AS (
  SELECT metric, (ts_ms // 300000) * 300000 AS wts, round(value, 0) AS hv
  FROM metrics WHERE metric = 'events.click'
)
"""
)


def _hist_query(agg_thunk, out):
    # agg_thunk is deferred: Column construction needs a live SparkContext.
    def fn(spark, sf_dir):
        h = _hist_base(spark, sf_dir)
        return window_agg(h, 5 * MIN_MS, agg_thunk(), out)

    return fn


q(
    "hist_mean",
    _HIST_P + "SELECT metric, wts, round(avg(hv), 4) AS h_mean FROM hist GROUP BY 1, 2",
)(_hist_query(lambda: agg_avg("hv"), "h_mean"))

q(
    "hist_max",
    _HIST_P + "SELECT metric, wts, round(max(hv), 4) AS h_max FROM hist GROUP BY 1, 2",
)(_hist_query(lambda: agg_max("hv"), "h_max"))

q(
    "hist_min",
    _HIST_P + "SELECT metric, wts, round(min(hv), 4) AS h_min FROM hist GROUP BY 1, 2",
)(_hist_query(lambda: agg_min("hv"), "h_min"))

q(
    "hist_stddev",
    _HIST_P
    + "SELECT metric, wts, round(stddev_pop(hv), 4) AS h_sd FROM hist GROUP BY 1, 2",
)(_hist_query(lambda: agg_stddev("hv"), "h_sd"))

q(
    "hist_median",
    _HIST_P
    + "SELECT metric, wts, round(quantile_cont(hv, 0.5), 4) AS h_med FROM hist GROUP BY 1, 2",
)(_hist_query(lambda: agg_median("hv"), "h_med"))

q(
    "hist_percentile_99",
    _HIST_P
    + "SELECT metric, wts, round(quantile_cont(hv, 0.99), 4) AS h_p99 FROM hist GROUP BY 1, 2",
)(_hist_query(lambda: agg_percentile("hv", 0.99), "h_p99"))


# ---------------------------------------------------------------------------
# §2.8 GROUP BY tags USING f / TOP-BOTTOM / SHIFT / timeframe
# ---------------------------------------------------------------------------

# DQL: SELECT avg('events'.'click' FROM 'events' GROUP BY 'host' USING avg, 1m)
@q(
    "group_by_host_avg_1m",
    P
    + """
SELECT host, (ts_ms // 60000) * 60000 AS wts, CAST((CASE WHEN sum(CAST(round(value * 10000) AS HUGEINT)) >= 0 THEN (2 * sum(CAST(round(value * 10000) AS HUGEINT)) + count(value)) // (2 * count(value)) ELSE -((2 * -(sum(CAST(round(value * 10000) AS HUGEINT))) + count(value)) // (2 * count(value))) END) AS DOUBLE) / 10000.0 AS avg_value
FROM metrics WHERE metric = 'events.click' GROUP BY 1, 2
""",
)
def group_by_host_avg_1m(spark, sf_dir):
    m = _points(spark, sf_dir)
    return window_agg(m, MIN_MS, agg_avg("value"), "avg_value", keys=("host",))


# DQL: SELECT avg(events.* BUCKET 'events', 1h) ... TOP 2 BY avg
@q(
    "top2_by_avg",
    P
    + """
, w AS (
  SELECT metric, (ts_ms // 3600000) * 3600000 AS wts, CAST((CASE WHEN sum(CAST(round(value * 10000) AS HUGEINT)) >= 0 THEN (2 * sum(CAST(round(value * 10000) AS HUGEINT)) + count(value)) // (2 * count(value)) ELSE -((2 * -(sum(CAST(round(value * 10000) AS HUGEINT))) + count(value)) // (2 * count(value))) END) AS DOUBLE) / 10000.0 AS avg_value
  FROM metrics GROUP BY 1, 2
), winners AS (
  SELECT metric FROM w GROUP BY metric
  ORDER BY avg(avg_value) DESC, metric ASC LIMIT 2
)
SELECT w.metric AS metric, w.wts AS wts, w.avg_value AS avg_value
FROM w WHERE w.metric IN (SELECT metric FROM winners)
""",
)
def top2_by_avg(spark, sf_dir):
    m = load_metrics(spark, sf_dir)
    w = window_agg(m, H_MS, agg_avg("value"), "avg_value")
    return topk.series_limit(w, 2, F.avg("avg_value"), top=True)


# DQL: ... BOTTOM 2 BY avg
@q(
    "bottom2_by_avg",
    P
    + """
, w AS (
  SELECT metric, (ts_ms // 3600000) * 3600000 AS wts, CAST((CASE WHEN sum(CAST(round(value * 10000) AS HUGEINT)) >= 0 THEN (2 * sum(CAST(round(value * 10000) AS HUGEINT)) + count(value)) // (2 * count(value)) ELSE -((2 * -(sum(CAST(round(value * 10000) AS HUGEINT))) + count(value)) // (2 * count(value))) END) AS DOUBLE) / 10000.0 AS avg_value
  FROM metrics GROUP BY 1, 2
), winners AS (
  SELECT metric FROM w GROUP BY metric
  ORDER BY avg(avg_value) ASC, metric ASC LIMIT 2
)
SELECT w.metric AS metric, w.wts AS wts, w.avg_value AS avg_value
FROM w WHERE w.metric IN (SELECT metric FROM winners)
""",
)
def bottom2_by_avg(spark, sf_dir):
    m = load_metrics(spark, sf_dir)
    w = window_agg(m, H_MS, agg_avg("value"), "avg_value")
    return topk.series_limit(w, 2, F.avg("avg_value"), top=False)


# DQL: SELECT avg('events'.'click' BUCKET 'events', 1h)
#      BETWEEN 1704844800000 AND 1705276800000 SHIFT BY 1d
@q(
    "shift_1d_avg_1h",
    P
    + f"""
SELECT metric, ((ts_ms + 86400000) // 3600000) * 3600000 AS wts,
       CAST((CASE WHEN sum(CAST(round(value * 10000) AS HUGEINT)) >= 0 THEN (2 * sum(CAST(round(value * 10000) AS HUGEINT)) + count(value)) // (2 * count(value)) ELSE -((2 * -(sum(CAST(round(value * 10000) AS HUGEINT))) + count(value)) // (2 * count(value))) END) AS DOUBLE) / 10000.0 AS avg_value
FROM metrics
WHERE metric = 'events.click'
  AND ts_ms >= {JAN10 - D_MS} AND ts_ms < {JAN15 - D_MS}
GROUP BY 1, 2
""",
)
def shift_1d_avg_1h(spark, sf_dir):
    s, e = timeshift.shifted_range(JAN10, JAN15, D_MS)
    m = _points(spark, sf_dir).where(
        (F.col("ts_ms") >= s) & (F.col("ts_ms") < e)
    )
    m = timeshift.restamp(m, D_MS)
    return window_agg(m, H_MS, agg_avg("value"), "avg_value")


# DQL: SELECT avg('events'.'click' BUCKET 'events', 1m)
#      BETWEEN 1704412800000 AND 1704672000000   (absolute range)
@q(
    "between_avg_1m",
    P
    + f"""
SELECT metric, (ts_ms // 60000) * 60000 AS wts, CAST((CASE WHEN sum(CAST(round(value * 10000) AS HUGEINT)) >= 0 THEN (2 * sum(CAST(round(value * 10000) AS HUGEINT)) + count(value)) // (2 * count(value)) ELSE -((2 * -(sum(CAST(round(value * 10000) AS HUGEINT))) + count(value)) // (2 * count(value))) END) AS DOUBLE) / 10000.0 AS avg_value
FROM metrics
WHERE metric = 'events.click' AND ts_ms >= {JAN5} AND ts_ms < {JAN8}
GROUP BY 1, 2
""",
)
def between_avg_1m(spark, sf_dir):
    m = _points(spark, sf_dir).where(
        (F.col("ts_ms") >= JAN5) & (F.col("ts_ms") < JAN8)
    )
    return window_agg(m, MIN_MS, agg_avg("value"), "avg_value")


# ---------------------------------------------------------------------------
# Chained pipeline (flatten semantics, src/dql_flatten.erl:13-97):
# DQL: SELECT divide(sum('events'.'click' BUCKET 'events', 1m), 2)
# ---------------------------------------------------------------------------
@q(
    "chain_divide_sum_1m",
    P
    + """
SELECT metric, wts, round(sum_value / 2.0, 4) AS value FROM (
  SELECT metric, (ts_ms // 60000) * 60000 AS wts, round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
  FROM metrics WHERE metric = 'events.click' GROUP BY 1, 2
)
""",
)
def chain_divide_sum_1m(spark, sf_dir):
    w = _one_series_window(spark, sf_dir, agg_sum("value"), "sum_value")
    return w.select(
        "metric", "wts", transforms.t_divide(F.col("sum_value"), 2.0).alias("value")
    )


# ---------------------------------------------------------------------------
# lineitem-mapped metric store (sparse series; bench-scale volume)
# ---------------------------------------------------------------------------

# DQL: SELECT avg('lineitem'.* BUCKET 'lineitem', 1w) ...
# Prices carry 2 decimals: accumulate in DECIMAL(18,2) — exact and
# identical across engines regardless of fold order (double sums at this
# magnitude hit 4dp rounding-boundary flips; averages of 2dp values land
# exactly on half-boundaries, where Spark and DuckDB round doubles
# differently). Sum + count carry the same information deterministically.
@q(
    "li_weekly_sum",
    LINEITEM_CTE
    + f"""
SELECT metric, (ts_ms // {7 * D_MS}) * {7 * D_MS} AS wts,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       count(*) AS n
FROM metrics GROUP BY 1, 2
""",
)
def li_weekly_sum(spark, sf_dir):
    m = _metrics_lineitem(spark, sf_dir)
    exact_sum = F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
    return (
        m.withColumn("wts", wts_col(7 * D_MS))
        .groupBy("metric", "wts")
        .agg(exact_sum.alias("sum_value"), F.count("*").alias("n"))
    )


# orders mapped as a third metric source: exact integer aggregates
# (counts, distinct counts) over daily windows.
# DQL: SELECT count('orders'.* BUCKET 'orders', 1d) ...  (count = sum over 1s)
@q(
    "ord_daily_count",
    f"""
SELECT 'orders.' || o_orderpriority AS metric,
       ((epoch_us(o_orderdate) // 1000) // {D_MS}) * {D_MS} AS wts,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_custs
FROM orders GROUP BY 1, 2
""",
)
def ord_daily_count(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    metric = F.concat(F.lit("orders."), F.col("o_orderpriority"))
    return (
        o.select(
            metric.alias("metric"),
            F.expr(
                "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 1000 AS long)"
            ).alias("ts_ms"),
            "o_custkey",
        )
        .withColumn("wts", wts_col(D_MS))
        .groupBy("metric", "wts")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
    )


# Dense/NULL-fill semantics (src/dqe_get.erl:53-60): every 1m window in
# the range appears, empty ones as NULL.
# DQL: SELECT avg('events'.'click' BUCKET 'events', 1m) BETWEEN ... (dense)
@q(
    "dense_avg_1m",
    P
    + f"""
, agg AS (
  SELECT metric, (ts_ms // 60000) * 60000 AS wts, CAST((CASE WHEN sum(CAST(round(value * 10000) AS HUGEINT)) >= 0 THEN (2 * sum(CAST(round(value * 10000) AS HUGEINT)) + count(value)) // (2 * count(value)) ELSE -((2 * -(sum(CAST(round(value * 10000) AS HUGEINT))) + count(value)) // (2 * count(value))) END) AS DOUBLE) / 10000.0 AS avg_value
  FROM metrics
  WHERE metric = 'events.click' AND ts_ms >= {JAN5} AND ts_ms < {JAN5 + D_MS}
  GROUP BY 1, 2
)
SELECT m.metric AS metric, g.wts AS wts, agg.avg_value AS avg_value
FROM (SELECT DISTINCT metric FROM agg) m
CROSS JOIN (SELECT unnest(generate_series({JAN5}, {JAN5 + D_MS - 1}, 60000)) AS wts) g
LEFT JOIN agg ON agg.metric = m.metric AND agg.wts = g.wts
""",
)
def dense_avg_1m(spark, sf_dir):
    # via the ENGINE's dense path (compiler NULL-fill capability), not
    # a bespoke densify call — proves src/dqe_get.erl:53-60 semantics
    # end-to-end through parse → compile → finalize
    from dqe_spark import engine

    (res,) = engine.plan(
        spark,
        "SELECT avg('events'.'click' BUCKET 'events', 1m) "
        f"BETWEEN {JAN5} AND {JAN5 + D_MS}",
        sf_dir,
        dense=True,
    )
    return res.df.select(
        "metric", F.col("ts_ms").alias("wts"), F.col("value").alias("avg_value")
    )


# DQL: SELECT avg('lineitem'.* BUCKET 'lineitem', 1d) ... TOP 1 BY avg
@q(
    "li_top1_daily",
    LINEITEM_CTE
    + f"""
, w AS (
  SELECT metric, (ts_ms // {D_MS}) * {D_MS} AS wts,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM metrics GROUP BY 1, 2
), winners AS (
  SELECT metric FROM w GROUP BY metric
  ORDER BY sum(sum_value) DESC, metric ASC LIMIT 1
)
SELECT w.metric AS metric, w.wts AS wts, w.sum_value AS sum_value
FROM w WHERE w.metric IN (SELECT metric FROM winners)
""",
)
def li_top1_daily(spark, sf_dir):
    m = _metrics_lineitem(spark, sf_dir)
    exact_sum = F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
    w = window_agg(m, D_MS, exact_sum, "sum_value")
    return topk.series_limit(w, 1, F.sum("sum_value"), top=True)


# Star-schema rollup across the TPC-H-ish tables: revenue by nation for
# one order year. The scale shape a 100 TB warehouse needs: the date
# predicate pushes into the orders scan (partition/row-group pruning),
# lineitem joins orders then customer on shuffled keys, and the
# nation/region dims are BROADCAST (plan-asserted in
# tests/test_parity.py) so the fact rows never shuffle for them.
# Revenue is exact: price and discount carry 2 decimals, so
# ep100 * (100 - disc100) is an exact BIGINT in 1e-4 units, summed in
# DECIMAL/HUGEINT — order-free and identical on both engines.
@q(
    "q5_revenue_by_nation",
    """
SELECT n_name, r_name,
       count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))
                ) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1, 2
""",
)
def q5_revenue_by_nation(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev4 = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) "
        "* (100 - CAST(round(l_discount * 100) AS BIGINT))"
    ).cast("decimal(27,0)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(rev4).cast("double") / 10000.0).alias("revenue"),
        )
    )


# Q9-shaped profit rollup covering the remaining TPC-H-ish dims (part,
# supplier): per (supplier nation, brand) discounted revenue minus
# retail cost of goods. Scale notes: nation is a CONSTANT-size dim
# (25 rows at any SF) and is broadcast explicitly; part and supplier
# GROW with the scale factor, so they join on shuffled keys and AQE is
# left to pick broadcast only when a filter makes a side small enough.
# All money math is exact integers in 1e-4 units.
@q(
    "q9_margin_by_brand",
    """
SELECT n_name, p_brand,
       count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))
                - CAST(round(p_retailprice * 100) AS BIGINT)
                  * CAST(round(l_quantity * 100) AS BIGINT)
                ) AS DOUBLE) / 10000.0 AS margin
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1, 2
""",
)
def q9_margin_by_brand(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    margin4 = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) "
        "* (100 - CAST(round(l_discount * 100) AS BIGINT)) "
        "- CAST(round(p_retailprice * 100) AS BIGINT) "
        "* CAST(round(l_quantity * 100) AS BIGINT)"
    ).cast("decimal(27,0)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "p_brand")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(margin4).cast("double") / 10000.0).alias("margin"),
        )
    )


# Q1-shaped pricing summary: the canonical wide-aggregate scan (eight
# aggregates per group over a pushed ship-date predicate, two tiny
# groups). At 100 TB this is THE map-side-combine showcase: partial
# aggregation collapses every task to |groups| rows before one
# |groups|-row exchange. Money/quantity columns carry 2 decimals:
# sums accumulate as exact integers in 1e-2/1e-4/1e-6 units; the
# averages use the sign-free integer-domain 4dp rounding (all values
# positive), so every output hashes bit-identical to the oracle.
@q(
    "q1_pricing_summary",
    """
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100) AS BIGINT) AS q100,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS ep100,
         CAST(round(l_discount * 100) AS BIGINT) AS d100,
         CAST(round(l_tax * 100) AS BIGINT) AS t100
  FROM lineitem WHERE l_shipdate < TIMESTAMP '2001-01-01'
)
SELECT l_returnflag, l_linestatus,
       CAST(sum(q100) AS DOUBLE) / 100.0 AS sum_qty,
       CAST(sum(ep100) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(sum(CAST(ep100 AS HUGEINT) * (100 - d100)) AS DOUBLE) / 10000.0
         AS sum_disc_price,
       CAST(sum(CAST(ep100 AS HUGEINT) * (100 - d100) * (100 + t100))
            AS DOUBLE) / 1000000.0 AS sum_charge,
       CAST((2 * sum(CAST(q100 AS HUGEINT) * 100) + count(*))
            // (2 * count(*)) AS DOUBLE) / 10000.0 AS avg_qty,
       CAST((2 * sum(CAST(ep100 AS HUGEINT) * 100) + count(*))
            // (2 * count(*)) AS DOUBLE) / 10000.0 AS avg_price,
       CAST((2 * sum(CAST(d100 AS HUGEINT) * 100) + count(*))
            // (2 * count(*)) AS DOUBLE) / 10000.0 AS avg_disc,
       count(*) AS n_rows
FROM li GROUP BY 1, 2
""",
)
def q1_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp")
    )
    q100 = "CAST(round(l_quantity * 100) AS BIGINT)"
    ep100 = "CAST(round(l_extendedprice * 100) AS BIGINT)"
    d100 = "CAST(round(l_discount * 100) AS BIGINT)"
    t100 = "CAST(round(l_tax * 100) AS BIGINT)"
    dec = "DECIMAL(38,0)"

    def s(expr: str) -> F.Column:
        return F.expr(f"sum(CAST({expr} AS {dec}))")

    def avg4(expr: str) -> F.Column:
        return F.expr(
            f"CAST((2 * sum(CAST({expr} AS {dec}) * 100) + count(*)) "
            f"div (2 * count(*)) AS DOUBLE) / 10000.0"
        )

    return li.groupBy("l_returnflag", "l_linestatus").agg(
        (s(q100).cast("double") / 100.0).alias("sum_qty"),
        (s(ep100).cast("double") / 100.0).alias("sum_base_price"),
        (s(f"{ep100} * (100 - {d100})").cast("double") / 10000.0).alias(
            "sum_disc_price"
        ),
        (
            s(f"{ep100} * (100 - {d100}) * (100 + {t100})").cast("double")
            / 1000000.0
        ).alias("sum_charge"),
        avg4(q100).alias("avg_qty"),
        avg4(ep100).alias("avg_price"),
        avg4(d100).alias("avg_disc"),
        F.count("*").alias("n_rows"),
    )
