"""Partitioned JDBC source (SURVEY §2a R1/R3).

The reference's read path is one prepared statement per chunk interval
via Beam's ``JdbcIO.readAll`` (HanaToDBRow.java:79-112).  Spark's
equivalent is ``spark.read.jdbc(predicates=[...])`` — each predicate
string becomes one input partition executing
``SELECT ... FROM t WHERE <predicate>`` on an executor, which is the
exact same physical shape (N concurrent range queries) with Catalyst
additionally pushing column pruning and extra filters into the
generated SQL for free (SURVEY §4).

Schema discovery: Spark reads ``ResultSetMetaData`` automatically; the
reference's explicit catalog query (HanaToBQ.java:56,104-143) survives
as :mod:`..sources.catalog` for HANA-type-name-level control.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hana_bq_beam_connector_spark.config import PipelineConfig
from hana_bq_beam_connector_spark.plans.chunking import (
    Interval,
    intervals_to_jdbc_predicates,
)


def jdbc_scan(
    spark: SparkSession,
    config: PipelineConfig,
    intervals: list[Interval] | None = None,
    *,
    ts_dtype: str | None = None,
) -> DataFrame:
    """Read ``config.table_name`` over JDBC.

    Without ``intervals`` this is one unpartitioned read (the schema
    probe the planner runs on).  With them, one Spark partition per
    planned equi-depth ``[lo, hi)`` chunk — reference parity, and
    robust to skewed timestamp distributions where Spark's stock
    uniform-stride partitioning is not.

    ``ts_dtype`` is the timestamp column's Spark dtype, used to render
    interval predicates as typed literals (timestamp columns get JDBC
    escape literals ``{ts '...'}`` — the one form every driver
    translates; Derby rejects ANSI ``TIMESTAMP '...'`` — and date
    columns get ``{d '...'}``; see plans/chunking.Interval).  When
    omitted it is resolved with a driver-side metadata read
    (``ResultSetMetaData``, no row transfer).
    """
    if config.connection_string is None:
        raise ValueError("connection_string is required for jdbc_scan")
    if intervals is None:
        return spark.read.jdbc(
            url=config.connection_string,
            table=config.table_name,
            properties=config.jdbc_properties,
        )
    if ts_dtype is None:
        from hana_bq_beam_connector_spark.colutil import resolve_column

        probe = jdbc_scan(spark, config)
        _, ts_dtype = resolve_column(probe, config.timestamp_column)
    return spark.read.jdbc(
        url=config.connection_string,
        table=config.table_name,
        predicates=intervals_to_jdbc_predicates(
            intervals, config.timestamp_column, ts_dtype
        ),
        properties=config.jdbc_properties,
    )
