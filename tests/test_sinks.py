"""File sinks: atomic export of query results (dqe_spark/sinks.py)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_write_result_roundtrip_formats(spark, tmp_path):
    from dqe_spark import sinks
    from dqe_spark.sources.metric_store import load_metrics

    m = (
        load_metrics(spark, SF_SMOKE)
        .groupBy("metric")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_v"))
    )
    want = sorted(map(tuple, m.collect()))
    for fmt in ("parquet", "csv", "json"):
        p = sinks.write_result(m, str(tmp_path / f"out_{fmt}"), format=fmt)
        back = (
            spark.read.format(fmt)
            .option("header", "true")
            .option("inferSchema", "true")
            .load(p)
        )
        got = sorted(
            (r["metric"], int(r["n"]), float(r["avg_v"])) for r in back.collect()
        )
        assert got == [(a, int(b), float(c)) for a, b, c in want], fmt


def test_write_result_partitioned_and_sorted(spark, tmp_path):
    from dqe_spark import sinks
    from dqe_spark.sources.metric_store import load_metrics

    m = load_metrics(spark, SF_SMOKE).select("metric", "host", "ts_ms", "value")
    p = sinks.write_result(
        m, str(tmp_path / "part"), partition_by=["host"], sort_by=["ts_ms"]
    )
    dirs = {d.name for d in Path(p).iterdir() if d.is_dir()}
    assert {"host=h0", "host=h1", "host=h2"} <= dirs
    # partition column prunes at the directory level
    plan = (
        spark.read.parquet(p)
        .where(F.col("host") == "h1")
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "PartitionFilters" in plan and "host" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_write_result_atomic_replace(spark, tmp_path):
    from dqe_spark import sinks

    df1 = spark.range(10).withColumnRenamed("id", "x")
    df2 = spark.range(5).withColumnRenamed("id", "x")
    p = sinks.write_result(df1, str(tmp_path / "r"))
    assert spark.read.parquet(p).count() == 10
    sinks.write_result(df2, str(tmp_path / "r"))
    assert spark.read.parquet(p).count() == 5
    assert not (tmp_path / "_tmp_r").exists()


def test_export_named_results(spark, tmp_path):
    from dqe_spark import engine, sinks

    JAN1, FEB1 = 1704067200000, 1706745600000
    res = engine.plan(
        spark,
        "SELECT avg('events'.'click' BUCKET 'events', 1h) AS clicks "
        f"BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    paths = sinks.export_named_results(res, str(tmp_path / "exp"))
    assert len(paths) == 1
    (name, p), = paths.items()
    back = spark.read.parquet(p)
    assert back.count() == res[0].df.count() > 0


def test_write_result_rejects_unknown_format(spark, tmp_path):
    import pytest

    from dqe_spark import sinks

    with pytest.raises(ValueError, match="unknown sink format"):
        sinks.write_result(spark.range(1), str(tmp_path / "x"), format="avro")
