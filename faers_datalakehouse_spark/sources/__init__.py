from .catalog import (
    ensure_schemas,
    read_latest_partition,
    table_exists,
    write_append_partitioned,
    write_overwrite,
)
from .ingest import add_ingestion_metadata, read_csv_enforced
from .tables import TPCH_TABLES, load_tables, read_table, register_views

__all__ = [
    "TPCH_TABLES",
    "add_ingestion_metadata",
    "ensure_schemas",
    "load_tables",
    "read_csv_enforced",
    "read_latest_partition",
    "read_table",
    "register_views",
    "table_exists",
    "write_append_partitioned",
    "write_overwrite",
]
