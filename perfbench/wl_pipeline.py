"""pipeline_suite: batch pipelines running the extension operators.

A fixed set of rows from the engine's bench registry, one or two per
operator family plus ``dedup_ngram_jaccard`` (which the bench list
lacks), run serially (closed loop, one client) in passes that run
every row once in a seeded order. An untimed pass warms the JVM
first; the timed phase then runs whole passes until the run's time is
up.
Most rows bypass the DQL compiler and call the operators directly.

A row is timed in three phases: DataFrame construction (the eager
jobs the operators fire while building), Catalyst planning
(``executedPlan``), and ``collect``. Check, outside the timed phase:
each row's digest equals its DuckDB oracle digest; oracle digests are
cached on disk, keyed by the oracle SQL and the input tables.
"""

from __future__ import annotations

import random
import time
from pathlib import Path

from common import Op, OracleCache, digest, duck
from datagen import TABLES
from harness import cpu_times, steal_share, tree_cpu_s

#: row → operator family
ROWS = {
    "aggr_avg_1m": "window",
    "anomaly_zscore_1m": "anomaly",
    "q5_revenue_by_nation": "join",
    "asof_error_click": "join",
    "dedup_exact": "dedup",
    "dedup_minhash_lsh": "dedup",
    "dedup_ngram_jaccard": "dedup",
    "dql_dedup": "dedup",
    "knn_bruteforce": "similarity",
    "text_quality": "text",
    "multimodal_keyframes": "multimodal",
}


#: untimed passes before the timed phase. The process tree's CPU per
#: pass falls from about 45-55 s (first pass) to 20-24 s (second) and
#: 15-18 s (third), as the JVM compiles the hot paths; one keeps a run
#: inside the benchmark's time budget
WARMUP_PASSES = 1


class Pipeline:
    name = "pipeline_suite"
    #: independent builder chains, built concurrently
    builders = (("store.ingest",), ("store.ingest_events",))

    def __init__(self, ctx):
        from dqe_spark.entry import all_oracles, all_queries

        self.ctx = ctx
        qs = all_queries()
        osql = all_oracles()
        missing = [n for n in ROWS if n not in qs or n not in osql]
        if missing:
            raise KeyError(f"rows absent from the registry: {missing}")
        self.qs = {n: qs[n] for n in ROWS}
        self.osql = {n: osql[n] for n in ROWS}
        self.rng = random.Random(ctx.seed)

    def _row(self, name: str, pass_no: int) -> Op:
        spark, tr = self.ctx.spark, self.ctx.tracer
        op = Op("row", name, info={"family": ROWS[name], "pass": pass_no})
        op.t0 = time.perf_counter()
        try:
            with tr.span("row", "op", op=True, row=name, family=ROWS[name]):
                with tr.span("build", "build"):
                    df = self.qs[name](spark, self.sf)
                with tr.span("spark.plan", "catalyst"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("exec", "exec", family=ROWS[name]):
                    rows = df.collect()
            op.dur = time.perf_counter() - op.t0
            op.info["rows"] = rows
            op.info["df"] = df
        except Exception as e:
            op.dur = time.perf_counter() - op.t0
            op.fail(f"raised {type(e).__name__}: {str(e)[:200]}")
        return op

    def _pass(self, n: int) -> list[Op]:
        """Every row once, in a seeded order: the pass op, then its rows."""
        order = list(ROWS)
        self.rng.shuffle(order)
        cpu0, host0 = tree_cpu_s(), cpu_times()
        op = Op("pass", f"pass{n}")
        op.t0 = time.perf_counter()
        rows = [self._row(name, n) for name in order]
        op.dur = time.perf_counter() - op.t0
        op.info["cpu_s"] = tree_cpu_s() - cpu0
        op.info["steal"] = steal_share(host0, cpu_times())
        return [op, *rows]

    def warmup(self) -> list[Op]:
        """Untimed passes: JIT compilation and the first runs of each
        code path happen here, not in the timed phase."""
        ops = [o for n in range(-WARMUP_PASSES, 0) for o in self._pass(n)]
        for o in ops:
            o.info["warmup"] = True
        return ops

    def run(self, deadline) -> list[Op]:
        """Whole passes until the time is up (``Deadline.near``; at
        least one), so every row runs equally often."""
        ops: list[Op] = []
        n = 0
        while True:
            done = self._pass(n)
            ops.extend(done)
            n += 1
            if deadline.near(done[0].dur):
                return ops

    def check(self, ops: list[Op]) -> None:
        cache = OracleCache(
            Path(__file__).resolve().parent / ".work" / "oracle_digests.json",
            self.ctx.tables, TABLES,
        )
        con = duck(self.ctx.tables, TABLES)
        rows = [o for o in ops if o.kind == "row"]
        if self.ctx.corrupt and rows and rows[0].ok is not False:
            rows[0].info["rows"] = rows[0].info["rows"][1:]
        for o in rows:
            if o.ok is False:
                continue
            df = o.info.pop("df")
            got = digest(o.info.pop("rows"), df.schema)
            want = cache.digest(con, self.osql[o.name], df.dtypes)
            if got == want:
                o.ok = True
            else:
                o.fail(f"digest {got[0]} rows differs from the DuckDB oracle's {want[0]}")
        cache.save()
        con.close()
        self.ctx.notes["oracle_cache"] = {"hits": cache.hits, "misses": cache.misses}

    def close(self):
        pass
