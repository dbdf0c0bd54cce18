"""The store builders the workloads read from, by name."""

from __future__ import annotations


def _b(mod: str, fn: str, *args):
    def build(spark, sf_dir: str):
        m = __import__(f"dqe_spark.sources.{mod}", fromlist=[fn])
        return getattr(m, fn)(spark, sf_dir, *args)

    return build


BUILD = {
    "store.ingest": _b("store", "ingest"),
    "store.ingest_events": _b("store", "ingest_events"),
    "rollup.build_rollup": _b("rollup", "build_rollup", 60_000),
    "rollup.build_hist_rollup": _b("rollup", "build_hist_rollup", 60_000),
    "rollup.build_tagged_rollup": _b("rollup", "build_tagged_rollup", 60_000),
    "rollup.build_tagged_hist_rollup": _b("rollup", "build_tagged_hist_rollup", 60_000),
    "rollup.cascade_rollup": _b("rollup", "cascade_rollup", 60_000, 3_600_000),
    "rollup.cascade_tagged_rollup": _b(
        "rollup", "cascade_tagged_rollup", 60_000, 3_600_000
    ),
    "rollup.build_cms_rollup": _b("rollup", "build_cms_rollup", 3_600_000),
    "rollup.build_portable_distinct_rollup": _b(
        "rollup", "build_portable_distinct_rollup", 3_600_000
    ),
}


def build_chains(ctx, chains, sf_dir: str, layer: str) -> None:
    """Run builder chains concurrently (the builders of one chain in
    order), each builder in a span named after it."""
    from concurrent.futures import ThreadPoolExecutor

    def chain(names):
        for b in names:
            with ctx.tracer.span(f"{layer}.{b}", layer):
                BUILD[b](ctx.spark, sf_dir)

    with ThreadPoolExecutor(min(len(chains), ctx.nproc)) as pool:
        for f in [pool.submit(chain, c) for c in chains]:
            f.result()
