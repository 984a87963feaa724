from multi_threaded_mapreduce_framework_spark.sources.fixtures import (
    TABLES,
    file_stamp,
    fresh_layout_dir,
    layout_tag,
    load_table,
    read_parquet,
    register_views,
    session_memo,
    spread_small_scan,
    table_path,
)
from multi_threaded_mapreduce_framework_spark.sources.pydatasource import (
    DocGenDataSource,
    JsonlDataSource,
    register_python_sources,
)

__all__ = [
    "TABLES",
    "file_stamp",
    "fresh_layout_dir",
    "layout_tag",
    "load_table",
    "read_parquet",
    "register_views",
    "session_memo",
    "spread_small_scan",
    "table_path",
    "DocGenDataSource",
    "JsonlDataSource",
    "register_python_sources",
]
