from pandas_rust_algos_spark.sources.formats import (
    convert_to_parquet,
    land_with_quarantine,
    read_source,
    stream_land_with_quarantine,
    write_sink,
)
from pandas_rust_algos_spark.sources.layout import (
    write_zordered,
    zorder_column,
)
from pandas_rust_algos_spark.sources.merge import (
    merge_into_partitioned,
    write_stream_upsert,
)
from pandas_rust_algos_spark.sources.parquet import (
    TABLES,
    file_schema,
    load_table,
    load_tables,
    register_views,
    spread,
    sql,
)
from pandas_rust_algos_spark.sources.sinks import (
    read_partitioned,
    write_partitioned,
)
from pandas_rust_algos_spark.sources.table_format import (
    CommitConflict,
    VersionedTable,
)

__all__ = [
    "TABLES",
    "file_schema",
    "load_table",
    "load_tables",
    "register_views",
    "sql",
    "spread",
    "read_partitioned",
    "write_partitioned",
    "merge_into_partitioned",
    "write_stream_upsert",
    "read_source",
    "write_sink",
    "convert_to_parquet",
    "land_with_quarantine",
    "stream_land_with_quarantine",
    "zorder_column",
    "write_zordered",
    "VersionedTable",
    "CommitConflict",
]
