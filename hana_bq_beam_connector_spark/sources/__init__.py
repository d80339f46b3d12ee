from hana_bq_beam_connector_spark.sources.files import (
    load_table,
    read_csv,
    read_json,
    read_orc,
    read_parquet,
)
from hana_bq_beam_connector_spark.sources.jdbc import jdbc_scan

__all__ = [
    "jdbc_scan",
    "load_table",
    "read_csv",
    "read_json",
    "read_orc",
    "read_parquet",
]
