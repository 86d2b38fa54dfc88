from clickhouse_clickhouse_spark.sources.write import (
    insert_partitioned, optimize_compact,
)
from clickhouse_clickhouse_spark.sources.formats import read_any, write_any

__all__ = [
    "insert_partitioned", "optimize_compact",
    "read_any", "write_any",
]
