"""Write path — the MergeTree ingest/merge/mutation analogs
(SURVEY.md §2.1, §3.2).

Reference mapping:
- ``INSERT`` part writing (split by PARTITION BY → sort by ORDER BY →
  write column files → commit by rename; upstream
  ``MergeTreeDataWriter::writeTempPart``), two writers:
  - a driver-local block (its optimized plan is a ``LocalRelation``: an
    ``INSERT … VALUES`` or ``FORMAT`` payload, parsed on the driver) is
    written by ``write_local_parts`` in the driver process, as upstream
    writes a block where it was received: no Spark job;
  - any other block (``INSERT … SELECT``, a DataFrame) goes through
    ``insert_partitioned``:
    ``partitionBy().sortWithinPartitions(partition, order).parquet()``.
  The in-file sort is what gives Parquet row-group min/max stats their
  pruning power (the sparse-PK-index analog).
- Background merge / ``OPTIMIZE`` (``MergeTask.cpp``) → compaction job:
  read → repartition to target file count → re-sort → atomic overwrite.
- ``ALTER TABLE UPDATE/DELETE`` mutations (``MutationsInterpreter.cpp``) →
  read → transform → overwrite (rewrite-the-parts semantics, same as the
  reference; a lakehouse format would do this transactionally).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StructType


def insert_partitioned(df: DataFrame, path: str,
                       partition_by: Sequence[str] = (),
                       sort_by: Sequence[str] = (),
                       mode: str = "overwrite",
                       bloom_filter_cols: Sequence[str] = ()) -> None:
    """INSERT: partition layout + in-file sort order (PARTITION BY +
    ORDER BY of a MergeTree table).

    ``bloom_filter_cols`` writes Parquet bloom filters for the named
    columns — the analog of the reference's bloom_filter skip index
    (point-lookup pruning on non-sort-key columns); the in-file sort
    already gives min/max row-group pruning on the sort key.

    The sort leads with the partition columns: the partitioned write
    needs its input ordered by them, and Spark adds its own
    ``Sort(partition columns)`` above any other order, which would
    discard the ORDER BY sort inside each file."""
    out = df
    if sort_by:
        if partition_by:
            out = out.repartition(*[F.col(c) for c in partition_by])
        out = out.sortWithinPartitions(*partition_by, *sort_by)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for c in bloom_filter_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.parquet(path)


# Spark's parquet codec names that pyarrow writes, as (pyarrow codec,
# file-name infix Spark gives the codec). Spark's ``lz4`` (Hadoop
# framing), ``lz4_raw``, ``lzo`` and ``brotli`` stay with Spark's writer.
_CODECS = {"none": (None, ""), "uncompressed": (None, ""),
           "snappy": ("snappy", ".snappy"), "gzip": ("gzip", ".gz"),
           "zstd": ("zstd", ".zstd")}
_ATOMIC = (T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
           T.LongType, T.FloatType, T.DoubleType, T.DecimalType,
           T.StringType, T.BinaryType, T.DateType, T.TimestampType,
           T.TimestampNTZType)


def _driver_writable(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        return _driver_writable(dt.elementType)
    if isinstance(dt, T.MapType):
        return _driver_writable(dt.keyType) and \
            _driver_writable(dt.valueType)
    if isinstance(dt, T.StructType):
        return all(_driver_writable(f.dataType) for f in dt.fields)
    return type(dt) in _ATOMIC


def local_part_keys(spark: SparkSession, schema: StructType,
                    partition_by: Sequence[str],
                    sort_by: Sequence[str]) -> list[str] | None:
    """The SQL expressions ``write_local_parts`` needs evaluated per row
    (each partition value ``CAST … AS STRING``, the text Spark's own
    writer names a partition directory by), or None when a block of
    ``schema`` must go through Spark's writer instead: a layout key that
    is not a column or not of an atomic type, a column type outside
    Parquet's plain mapping, or a session codec pyarrow does not
    write."""
    types = {f.name: f.dataType for f in schema.fields}
    if spark.conf.get("spark.sql.parquet.compression.codec",
                      "snappy").lower() not in _CODECS:
        return None
    if not all(_driver_writable(t) for t in types.values()):
        return None
    if not all(type(types.get(c)) in _ATOMIC
               for c in (*partition_by, *sort_by)):
        return None
    return [f"CAST(`{c}` AS STRING)" for c in partition_by]


def write_local_parts(spark: SparkSession, path: str, block, schema:
                      StructType, part_values: Sequence[tuple],
                      partition_by: Sequence[str] = (),
                      sort_by: Sequence[str] = ()) -> None:
    """INSERT of a driver-local block (``session.driver_rows``) in the
    driver process, with no Spark job: the ``insert_partitioned`` layout,
    written the way upstream ``MergeTreeDataWriter`` writes a part.

    ``block`` is a ``pyarrow.Table`` of ``schema``; ``part_values`` holds
    per row the ``local_part_keys`` strings. The rows are grouped by
    partition; each group is sorted by ``sort_by`` in Spark's ascending
    order (NULL first, NaN after every number) and written as one
    Parquet file with the session's codec, under the directory Spark's
    ``ExternalCatalogUtils.getPartitionPathString`` names (NULL and
    ``''`` → ``__HIVE_DEFAULT_PARTITION__``, Spark's escaping). Each file
    is written through the Hadoop FS API under a ``.``-prefixed name,
    which Spark's file listing skips, then renamed into place. The
    footer carries the keys Spark writes, the row schema and the writer
    version, so a read that infers the schema from a footer types the
    columns as Spark's own parts do, and dates and timestamps read as
    proleptic Gregorian under any rebase setting."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    codec, infix = _CODECS[spark.conf.get(
        "spark.sql.parquet.compression.codec", "snappy").lower()]
    groups: dict[tuple, list[int]] = {}
    for i, vals in enumerate(part_values):
        groups.setdefault(vals, []).append(i)
    data_schema = StructType([f for f in schema.fields
                              if f.name not in partition_by])
    meta = {"org.apache.spark.version": spark.version,
            "org.apache.spark.sql.parquet.row.metadata": data_schema.json()}
    hadoop_path = _jvm_class(spark, "org.apache.hadoop.fs.Path")
    dir_name = _jvm_class(
        spark, "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils"
    ).getPartitionPathString
    fs, root = _hadoop_path(spark, path)
    if not groups:
        fs.mkdirs(root)
    job = uuid.uuid4()
    for i, (vals, rows) in enumerate(groups.items()):
        part = block.take(rows)
        if sort_by:
            part = part.take(_sort_indices(part, sort_by))
        part = part.drop_columns(list(partition_by))
        buf = pa.BufferOutputStream()
        # pyarrow writes footer keys only along with its own schema key
        pq.write_table(part.replace_schema_metadata(meta), buf,
                       compression=codec)
        parent = "/".join([path.rstrip("/"), *(
            dir_name(c, v) for c, v in zip(partition_by, vals))])
        name = f"part-{i:05d}-{job}.c000{infix}.parquet"
        hidden = hadoop_path(f"{parent}/.{name}")
        out = fs.create(hidden, False)
        try:
            out.write(buf.getvalue().to_pybytes())
        finally:
            out.close()
        fs.rename(hidden, hadoop_path(f"{parent}/{name}"))


def _sort_indices(table, sort_by: Sequence[str]):
    """Row order of Spark's ascending sort on ``sort_by``: NULL first,
    and NaN, which Arrow would place with the NULLs, after every number
    (an ``is_nan`` key ahead of each floating-point key)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = []
    for c in sort_by:
        col = table.column(c)
        if pa.types.is_floating(col.type):
            nan = f"__nan_{len(keys)}"
            table = table.append_column(nan, pc.is_nan(col))
            keys.append((nan, "ascending"))
        keys.append((c, "ascending"))
    return pc.sort_indices(table, sort_keys=keys, null_placement="at_start")


def read_parts(spark: SparkSession, path: str,
               schema: StructType) -> DataFrame:
    """The parquet parts of a table under ``path``, read with the table's
    current ``schema``: no footer-inference job, columns in the table's
    order (Spark otherwise moves partition columns last), and a column
    an ALTER added after older parts were written reads as NULL there."""
    return spark.read.schema(schema).parquet(path) \
        .select(*schema.fieldNames())


def optimize_compact(spark: SparkSession, path: str,
                     sort_by: Sequence[str] = (),
                     target_files: int = 1,
                     partition_by: Sequence[str] = (),
                     schema: StructType | None = None) -> None:
    """OPTIMIZE / background merge: rewrite the layout with fewer, sorted
    files. Stages through a temp dir then swaps (the poor-man's atomic
    rename the reference does per part). ``partition_by`` preserves the
    table's partition-directory layout across the rewrite. A table's
    ``schema`` reads the parts through ``read_parts``; without one the
    schema is inferred from the files."""
    df = (spark.read.parquet(path) if schema is None
          else read_parts(spark, path, schema))
    compacted = df.coalesce(target_files)
    if sort_by:
        # partition columns first, as in insert_partitioned
        compacted = compacted.sortWithinPartitions(*partition_by, *sort_by)
    _rewrite(spark, compacted, path, partition_by)


def mutate_update(spark: SparkSession, path: str,
                  assignments: dict[str, Column], where: Column,
                  partition_by: Sequence[str] = ()) -> None:
    """ALTER TABLE ... UPDATE col = expr WHERE cond (mutation rewrite).
    Pass the table's ``partition_by`` to keep its directory layout."""
    df = spark.read.parquet(path)
    out = df
    for col, expr in assignments.items():
        out = out.withColumn(col, F.when(where, expr).otherwise(F.col(col)))
    _rewrite(spark, out, path, partition_by)


def mutate_delete(spark: SparkSession, path: str, where: Column,
                  partition_by: Sequence[str] = ()) -> None:
    """ALTER TABLE ... DELETE WHERE cond (anti-filter rewrite)."""
    df = spark.read.parquet(path)
    out = df.filter(~where | where.isNull())
    _rewrite(spark, out, path, partition_by)


def _rewrite(spark: SparkSession, df: DataFrame, path: str,
             partition_by: Sequence[str],
             sort_by: Sequence[str] = ()) -> None:
    tmp = path.rstrip("/") + "__rewriting"
    if sort_by:
        # partition columns first, as in insert_partitioned
        df = df.sortWithinPartitions(*partition_by, *sort_by)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    _swap_dirs(spark, tmp, path)


def _swap_dirs(spark: SparkSession, tmp: str, path: str) -> None:
    """Replace ``path`` with ``tmp`` via the JVM Hadoop FS API (works on
    any Hadoop-compatible FS, not just local disk). Rename-aside order
    (round-14 review): the old delete-then-rename lost the whole table
    when the process died between the two; now the live directory is
    moved aside first, so a crash leaves either the old or the new
    table in place (plus a recoverable ``__old`` directory)."""
    fs, live = _hadoop_path(spark, path)
    _, old_p = _hadoop_path(spark, path + "__old")
    _, tmp_p = _hadoop_path(spark, tmp)
    fs.delete(old_p, True)
    if fs.exists(live):
        fs.rename(live, old_p)
    fs.rename(tmp_p, live)
    fs.delete(old_p, True)


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` through the JVM Hadoop FS API."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = _jvm_class(spark, "org.apache.hadoop.fs.Path")(path)
    return p.getFileSystem(conf), p


def _jvm_class(spark: SparkSession, name: str):
    """The JVM class ``name``. Resolving it through ``sc._jvm`` costs a
    py4j round trip per dotted segment; naming it costs none."""
    from py4j.java_gateway import JavaClass

    return JavaClass(name, spark.sparkContext._gateway._gateway_client)


def truncate_parts(spark: SparkSession, path: str) -> None:
    """``TRUNCATE`` of a file-backed table: delete every part under
    ``path``; the table directory stays."""
    fs, p = _hadoop_path(spark, path)
    if fs.exists(p):
        for status in fs.listStatus(p):
            fs.delete(status.getPath(), True)


def drop_parts(spark: SparkSession, path: str) -> None:
    """``DROP TABLE`` of a file-backed table: remove its directory."""
    fs, p = _hadoop_path(spark, path)
    fs.delete(p, True)


def detach_partition(path: str, partition_col: str, value) -> str:
    """``ALTER TABLE ... DETACH PARTITION`` (reference
    MergeTreeData::movePartitionToDetached): moves the partition's
    directory under ``<table>/_detached/`` (underscore prefix: Spark's
    file index skips it, like the reference's detached/ being outside the
    active part set) — a metadata move, no data rewrite. Returns the
    detached dir."""
    import os
    import shutil

    src = os.path.join(path, f"{partition_col}={value}")
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no partition dir {src}")
    detached = os.path.join(path, "_detached")
    os.makedirs(detached, exist_ok=True)
    dst = os.path.join(detached, f"{partition_col}={value}")
    shutil.move(src, dst)
    return dst


def attach_partition(path: str, partition_col: str, value) -> str:
    """``ALTER TABLE ... ATTACH PARTITION`` — moves a previously detached
    partition directory back into the table layout."""
    import os
    import shutil

    src = os.path.join(path, "_detached", f"{partition_col}={value}")
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no detached partition {src}")
    dst = os.path.join(path, f"{partition_col}={value}")
    shutil.move(src, dst)
    return dst


def drop_partition(path: str, partition_col: str, value) -> None:
    """``ALTER TABLE ... DROP PARTITION`` — removes the directory; an
    O(partition) metadata operation, never a table rewrite."""
    import shutil
    import os

    src = os.path.join(path, f"{partition_col}={value}")
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no partition dir {src}")
    shutil.rmtree(src)


def apply_column_ttl(spark: SparkSession, path: str, ts_col: str,
                     cutoff: Column, ttl_cols: "Sequence[str]",
                     partition_by: "Sequence[str]" = ()) -> None:
    """Column-level TTL (reference ``TTL ... TO COLUMN`` semantics inside
    MergeTask): expired rows keep their keys but the TTL'd columns reset
    to NULL — a rewrite of only the affected rows' columns, here a full
    overwrite like the row-TTL analog ``apply_ttl``."""
    df = spark.read.parquet(path)
    expired = F.col(ts_col) < cutoff
    for c in ttl_cols:
        df = df.withColumn(c, F.when(expired, F.lit(None)).otherwise(F.col(c)))
    _rewrite(spark, df, path, partition_by)


def optimize_deduplicate(spark: SparkSession, path: str,
                         by: Sequence[str] | None = None,
                         order_by: Sequence[str] = (),
                         partition_by: Sequence[str] = ()) -> None:
    """``OPTIMIZE TABLE ... [DEDUPLICATE [BY cols]]`` — drop duplicate
    rows in place (reference MergeTree dedup merge). ``by=None`` dedups
    on ALL columns (the reference default); with ``by`` + ``order_by``
    the FIRST row per key in that order survives (deterministic, unlike
    a bare dropDuplicates under shuffle)."""
    df = spark.read.parquet(path)
    if by is None:
        out = df.dropDuplicates()
    else:
        from pyspark.sql import Window
        keys = list(by)
        order = [F.col(c) for c in order_by] or [F.col(c) for c in keys]
        w = Window.partitionBy(*keys).orderBy(*order)
        out = (df.withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") == 1).drop("__rn"))
    _rewrite(spark, out, path, partition_by)


def modify_column_type(spark: SparkSession, path: str, column: str,
                       new_type: str,
                       partition_by: Sequence[str] = ()) -> None:
    """``ALTER TABLE ... MODIFY COLUMN c Type`` — schema-evolution
    mutation: cast-rewrite the files (the reference also rewrites parts;
    ``new_type`` accepts reference type names via types_map)."""
    from clickhouse_clickhouse_spark.types_map import parse_ch_type
    try:
        spark_type, _nullable = parse_ch_type(new_type)
    except Exception:
        spark_type = new_type  # already a Spark type string
    df = spark.read.parquet(path)
    _rewrite(spark, df.withColumn(column, F.col(column).cast(spark_type)),
             path, partition_by)
