from .catalog import ensure_schemas, read_latest_partition
from .ingest import add_ingestion_metadata, read_csv_enforced
from .tables import TPCH_TABLES, read_table

__all__ = [
    "TPCH_TABLES",
    "add_ingestion_metadata",
    "ensure_schemas",
    "read_csv_enforced",
    "read_latest_partition",
    "read_table",
]
