from financial_data_lakehouse_pipeline__spark.sources.readers import (
    TABLES,
    footer_schema,
    normalize_event_ts,
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    read_table,
    scan_parallelism_floor,
)
from financial_data_lakehouse_pipeline__spark.sources.writers import (
    write_csv,
    write_orc,
    write_parquet,
    write_partitioned_parquet,
)
from financial_data_lakehouse_pipeline__spark.sources.catalog import register_views
from financial_data_lakehouse_pipeline__spark.sources import acid

__all__ = [
    "acid",
    "TABLES",
    "footer_schema",
    "normalize_event_ts",
    "read_csv",
    "read_json",
    "read_orc",
    "read_parquet",
    "read_table",
    "scan_parallelism_floor",
    "write_csv",
    "write_orc",
    "write_parquet",
    "write_partitioned_parquet",
    "register_views",
]
