"""dqe_spark — a PySpark-native time-series analytics engine.

A from-scratch reimplementation of the query and data-processing
capabilities of the DalmatinerDB Query Engine (dqe), re-expressed on
Spark DataFrames / Spark SQL so Catalyst + Tungsten do the physical
planning. See SURVEY.md for the blueprint and the reference citations.

Public surface:
  - ``dqe_spark.session.get_spark()``          — tuned SparkSession
  - ``dqe_spark.sources.metric_store``         — the F1 metric-point store
  - ``dqe_spark.engine.plan(spark, dql, ...)`` — plan a DQL query string
  - ``dqe_spark.operators.*``                  — direct DataFrame operators
"""

__version__ = "0.1.0"
