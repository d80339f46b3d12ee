"""HANA catalog schema discovery (SURVEY §2a R3, §3.2).

The reference runs ``SELECT COLUMN_NAME, DATA_TYPE_NAME FROM
TABLE_COLUMNS WHERE TABLE_NAME = '%s' ORDER BY POSITION ASC``
driver-side over raw JDBC (HanaToBQ.java:56,104-143) and folds the
result through the type map into a BigQuery TableSchema.  Here the
same fold produces a Spark ``StructType``, and the query also selects
LENGTH/SCALE so fixed-point DECIMAL columns keep their catalog
precision; the catalog rows can come
from a real JDBC round-trip or from any DataFrame shaped like
TABLE_COLUMNS (which is how tests exercise it without a HANA).

Fixed vs reference: a failed catalog query raises instead of returning
null and NPE-ing later (HanaToBQ.java:142 → :232, quirk #7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from hana_bq_beam_connector_spark.typemap import CatalogColumn, catalog_to_schema

SCHEMA_QUERY_TEMPLATE = (
    "SELECT COLUMN_NAME, DATA_TYPE_NAME, POSITION, LENGTH, SCALE "
    "FROM TABLE_COLUMNS WHERE TABLE_NAME = '{table}' ORDER BY POSITION ASC"
)


def schema_from_catalog_df(
    catalog_df: DataFrame, table_name: str, *, decimal_as_double: bool = False
) -> StructType:
    """Fold TABLE_COLUMNS-shaped rows for ``table_name`` into a
    StructType.  A fixed-point ``DECIMAL`` row (non-null SCALE) keeps
    its catalog LENGTH/SCALE as precision/scale; every other row,
    including HANA's floating DECIMAL (null SCALE), keeps the type
    map's fallback.  Raises ``UnknownHanaTypeError`` on unmapped types
    (reference aborts identically, HanaToBQ.java:129-132)."""
    rows = (
        catalog_df.where(catalog_df["TABLE_NAME"] == table_name)
        .select("COLUMN_NAME", "DATA_TYPE_NAME", "POSITION", "LENGTH", "SCALE")
        .collect()
    )
    if not rows:
        raise ValueError(f"table {table_name!r} not found in catalog")
    columns = []
    for r in rows:
        exact = r["DATA_TYPE_NAME"].upper() == "DECIMAL" and r["SCALE"] is not None
        columns.append(
            CatalogColumn(
                r["COLUMN_NAME"],
                r["DATA_TYPE_NAME"],
                r["POSITION"],
                precision=r["LENGTH"] if exact else None,
                scale=r["SCALE"] if exact else None,
            )
        )
    return catalog_to_schema(columns, decimal_as_double=decimal_as_double)
