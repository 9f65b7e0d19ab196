from python_etl_sample_spark.sources.tables import (
    TABLE_NAMES,
    events_ts,
    load_tables,
    raw_schema,
    register_views,
    table,
)

__all__ = [
    "TABLE_NAMES",
    "events_ts",
    "load_tables",
    "raw_schema",
    "register_views",
    "table",
]
