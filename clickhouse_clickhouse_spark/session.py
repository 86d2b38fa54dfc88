"""SparkSession factory with the engine's physical defaults.

Mirrors the reference engine's execution posture (SURVEY.md §4.2):

- AQE on (runtime re-plan, skew-join handling, partition coalescing) — the
  Spark analog of the reference's two-level parallel aggregation merge and
  adaptive merge scheduling.
- ANSI off — the reference is permissive (div-by-zero yields inf/NULL, not
  an error).
- Session timezone pinned to UTC — fixture timestamps are tz-naive and the
  DuckDB oracle compares naive timestamps.
- Arrow on — all Pandas-UDF paths (the slow-path operators) batch via Arrow.

Shuffle partitions default to the local core count; on a real cluster this
would be sized to data volume (~128 MB per post-shuffle partition at
100 TB scale — AQE's ``advisoryPartitionSizeInBytes`` handles the coalesce
side automatically).
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(app_name: str = "clickhouse_clickhouse_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None,
              cores: int | None = None) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    Parameters are overridable for tests/bench; on a real cluster the same
    configs apply, with ``master`` supplied by the cluster manager.
    ``cores`` caps local-mode parallelism — the test suite passes a small
    value because tiny-fixture stages pay per-task scheduling overhead at
    local[32] (~20% suite wall, measured round 9).
    """
    cores = cores or _default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cores
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS); read as long then convert
        # (Spark has no ns timestamps — µs truncation documented in FIXTURES.md)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # read un-adjusted parquet timestamps as LTZ (session tz = UTC, so
        # value-identical) — keeps epoch arithmetic legal on fixture columns
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cores}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[Any],
                schema: StructType | str) -> DataFrame:
    """A DataFrame of driver-local ``rows``, built as an Arrow-backed
    ``LocalRelation``. Every driver-side ``rows → DataFrame`` in the
    package goes through here.

    Why not ``spark.createDataFrame(rows, schema)``: with a list it builds
    a Python RDD, so every collect of the result launches a Spark job
    whose tasks start Python workers (~0.4 s for a one-row status frame).
    An Arrow table of the same rows reaches the JVM as a ``LocalRelation``
    and collects with no job at all.

    Rows are converted exactly as ``createDataFrame(list, schema)`` does
    (its type verifier, then ``StructType.toInternal``), so the values read
    back the same: naive datetimes are process-local time, dicts and
    ``Row``s map by field name. ``schema`` is a DDL string or a
    ``StructType``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _create_converter, _make_type_verifier

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    internal = []
    for r in rows:
        verify(r)
        internal.append(schema.toInternal(convert(r)))
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*internal) if internal else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
