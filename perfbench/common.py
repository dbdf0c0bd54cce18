"""Shared pieces of the workloads: run context, operation records,
result digests and the DuckDB oracle.

Digests are those of ``scripts/sweep_sf1.py`` (the engine's oracle
sweep): ``(row count, sum of row hashes)`` over a canonical rendering
of each row. ``digest`` takes rows already collected, so checking a
result does not re-run the query that produced it.
"""

from __future__ import annotations

import hashlib
import json
import sys
from dataclasses import dataclass, field
from pathlib import Path


def sweep():
    """The oracle sweep module (digest functions), from the checkout."""
    root = Path.cwd()
    scripts = str(root / "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import sweep_sf1

    return sweep_sf1


def digest(rows, schema) -> tuple[int, int]:
    """``sweep_sf1.duck_digest`` of collected ``rows`` with Spark
    ``schema``. The rows go into DuckDB as an Arrow table, so an answer
    and its DuckDB oracle are canonicalised by the same function. It
    equals ``spark_digest`` of the same rows, which would cost a Spark
    job per result."""
    import duckdb
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    table = pa.table(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    con = duckdb.connect()
    con.register("answer", table)
    dtypes = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    try:
        return sweep().duck_digest(con, "SELECT * FROM answer", dtypes)
    finally:
        con.close()


@dataclass
class Op:
    """One timed operation: a panel query, a suite row, a pass or a
    landed batch."""

    kind: str
    name: str
    t0: float = 0.0
    dur: float = 0.0
    ok: bool | None = None
    cause: str | None = None
    known: bool = False
    info: dict = field(default_factory=dict)

    def fail(self, cause: str, known: bool = False) -> None:
        self.ok = False
        self.cause = cause
        self.known = known


@dataclass
class Ctx:
    """What a workload gets from the run: the Spark session (set after
    session start), its scratch dir, the input tables and the seed."""

    spark: object
    work: Path
    tables: Path
    seed: int
    nproc: int
    tracer: object
    corrupt: bool = False
    notes: dict = field(default_factory=dict)
    datasets: list = field(default_factory=list)


class OracleCache:
    """DuckDB oracle digests on disk, keyed by the oracle SQL's md5,
    the result schema, and the (size, mtime) of every input table."""

    def __init__(self, path: Path, tables: Path, names):
        self.path = path
        st = [(n, (tables / f"{n}.parquet").stat()) for n in names]
        self.fp = hashlib.md5(
            "|".join(f"{n}:{s.st_size}:{s.st_mtime_ns}" for n, s in st).encode()
        ).hexdigest()
        try:
            self.data = json.loads(path.read_text())
        except (OSError, ValueError):
            self.data = {}
        self.hits = self.misses = 0

    def key(self, sql: str, dtypes) -> str:
        h = hashlib.md5(sql.encode()).hexdigest()
        dt = hashlib.md5(repr(sorted(dtypes)).encode()).hexdigest()[:8]
        return f"{h}|{dt}|{self.fp}"

    def digest(self, con, sql: str, dtypes) -> tuple[int, int]:
        k = self.key(sql, dtypes)
        if k in self.data:
            self.hits += 1
            n, s = self.data[k]
            return int(n), int(s)
        self.misses += 1
        d = sweep().duck_digest(con, sql, dtypes)
        self.data[k] = [d[0], str(d[1])]
        return d

    def save(self) -> None:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(json.dumps(self.data))
        tmp.replace(self.path)


def duck(tables: Path, names=None):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(tables.glob("*.parquet")):
        if names is None or f.stem in names:
            src = f"{f}/*.parquet" if f.is_dir() else str(f)
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{src}'")
    return con
