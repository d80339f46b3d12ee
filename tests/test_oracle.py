"""Every registry query hash-matches its DuckDB oracle (SURVEY §5.2 #1).

This mirrors the driver's correctness gate locally: one parametrized
test per declared query, strict value equality (the registry's
determinism conventions make both engines bit-identical).
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from hana_bq_beam_connector_spark.operators._common import (
    release_session_pins,
)
from hana_bq_beam_connector_spark.oracle import compare_query, duckdb_connection
from hana_bq_beam_connector_spark.queries import registry

_SPECS = registry()
_ORACLE_SPECS = [s for s in _SPECS.values() if s.oracle is not None]
_ROWS_ONLY_SPECS = [s for s in _SPECS.values() if s.oracle is None]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@contextmanager
def _releases_every_pin(spark):
    """Run a query from an empty cache; once it is materialized,
    release_session_pins() alone must empty the cache again — every
    frame a query pins goes through persist_reused, so a long session
    that only releases between queries never accumulates caches."""
    spark.catalog.clearCache()
    yield
    release_session_pins()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty(), "frames left cached after release_session_pins"


@pytest.mark.parametrize(
    "spec", _ORACLE_SPECS, ids=[s.name for s in _ORACLE_SPECS]
)
def test_oracle_match(spark, con, sf_dir, spec):
    with _releases_every_pin(spark):
        result = compare_query(
            spark, con, spec.name, spec.fn, spec.oracle, sf_dir
        )
    assert result.ok, str(result)


@pytest.mark.parametrize(
    "spec", _ROWS_ONLY_SPECS, ids=[s.name for s in _ROWS_ONLY_SPECS]
)
def test_rows_only_queries_run(spark, sf_dir, spec):
    with _releases_every_pin(spark):
        df = spec.fn(spark, sf_dir)
        assert df.count() >= 0
    assert len(df.schema.fields) > 0


# DuckDB types Spark has no equivalent for: if an oracle binds to one of
# these, the driver's type-sensitive hasher will mismatch even when values
# agree (round-3 ts_sessionize_gap: windowed SUM widened to HUGEINT).
# Pure-metadata sweep — binding only, no Spark and no query execution.
_UNREPRESENTABLE = (
    "HUGEINT",
    "UHUGEINT",
    "UBIGINT",
    "UINTEGER",
    "USMALLINT",
    "UTINYINT",
    "INTERVAL",
    "TIME",
    "BIT",
    "UUID",
)


def test_no_oracle_binds_unrepresentable_types(con):
    offenders: list[str] = []
    for spec in _ORACLE_SPECS:
        rel = con.sql(spec.oracle)
        for col, typ in zip(rel.columns, rel.types):
            base = str(typ).split("(")[0].rstrip("[] ")
            if base in _UNREPRESENTABLE:
                offenders.append(f"{spec.name}.{col}: {typ}")
    assert not offenders, (
        "oracle columns with no Spark-representable type "
        f"(cast them in the oracle SQL): {offenders}"
    )
