"""Aggregated query registry — feeds __spark_entry__.py.

Merges the reference-parity inventory (queries_parity) with the
large-scale pipeline extensions (queries_ext, added incrementally).

Registry ORDER is part of the driver contract: the correctness gate
checks a prefix of `queries()`, so `PRIORITY` pins a first-50 set
that covers every SURVEY §2 feature family and every large-scale
pipeline family (one representative each); near-identical variants of
already-represented families trail behind.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: Checked-prefix composition: §2 scans → one representative per
#: aggregate/transform/combinator/histogram family → structural ops
#: (GROUP BY / TOP / BOTTOM / SHIFT / BETWEEN / dense fill) → DQL
#: full-pipeline queries (lexer→parser→compiler e2e, incl. timeframe
#: literals, ALIAS, multi-tag grouping, regex event filters, HDR
#: histograms, rollup rewrite) → one query per extension family.
PRIORITY = [
    # §2.1 scans / sources
    "get_points", "glob_avg_1m", "lookup_where_tags", "events_filter",
    # §2.4 window aggregates (family representatives)
    "aggr_avg_1m", "aggr_variance_5m",
    "aggr_percentile_90_5m", "aggr_count_above_5m", "aggr_last_below_5m",
    "aggr_count_above_conf_5m",
    # §2.6 transforms & scalar arithmetic
    "trans_derivate", "trans_confidence", "trans_log10_scale",
    "arith_add", "arith_divide",
    # §2.5 combinators
    "comb_diff", "comb_quotient",
    # §2.7 histograms
    "hist_percentile_99",
    # §2.8 structure: grouping, limits, timeshift, timeframes, dense fill
    "group_by_host_avg_1m", "top2_by_avg", "bottom2_by_avg",
    "shift_1d_avg_1h", "between_avg_1m", "dense_avg_1m",
    # DQL full pipeline
    "dql_after_for", "dql_iso_dates", "dql_between_ago",
    "dql_shift_1d", "dql_top2", "dql_alias_reuse", "dql_group_by_2tags",
    "dql_events_regex", "dql_hist_p99", "dql_rollup_avg_1h",
    "dql_top1_median", "dql_as_naming", "dql_metadata", "dql_custom_fun",
    "dql_rollup_stddev_1h",
    # extension families (one each)
    "dedup_minhash_lsh", "dedup_clusters", "knn_srp", "neardup_srp",
    "text_bpe_tokens", "rollup_stddev_1h", "rollup_p90_1h",
    "asof_error_click", "sessionize_clicks", "m4_downsample",
    "multimodal_features",
]


def _ordered(merged: dict) -> dict:
    missing = [n for n in PRIORITY if n not in merged]
    if missing:  # a PRIORITY typo must fail loudly, not silently shrink
        raise KeyError(f"PRIORITY names absent from registry: {missing}")
    head = {n: merged[n] for n in PRIORITY}
    head.update((n, v) for n, v in merged.items() if n not in head)
    return head


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from dqe_spark import queries_dql, queries_ext, queries_parity

    return _ordered(
        {**queries_parity.QUERIES, **queries_ext.QUERIES, **queries_dql.QUERIES}
    )


def all_oracles() -> dict[str, str]:
    from dqe_spark import queries_dql, queries_ext, queries_parity

    return {
        **queries_parity.ORACLES, **queries_ext.ORACLES, **queries_dql.ORACLES
    }
