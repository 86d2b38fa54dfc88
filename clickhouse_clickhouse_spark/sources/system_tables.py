"""``system.*`` introspection tables (reference ``src/Storages/System/*``:
``StorageSystemTables``, ``StorageSystemColumns``, ``StorageSystemParts``,
``StorageSystemNumbers``, ``StorageSystemOne``, ``StorageSystemSettings``)
— re-expressed over the Spark catalog and the parquet storage layout.

Each function returns an ordinary DataFrame, so the introspection surface
composes with the full query engine exactly as in the reference
(``SELECT ... FROM system.parts WHERE ...``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.session import engine_state, local_frame


def system_one(spark: SparkSession) -> DataFrame:
    """``system.one`` — a single row, single ``dummy`` column (the FROM
    clause of a table-less SELECT)."""
    return spark.range(1).select(F.lit(0).cast("int").alias("dummy"))


def system_numbers(spark: SparkSession, limit: int) -> DataFrame:
    """``system.numbers`` (bounded) — monotonic ``number`` column."""
    return spark.range(limit).select(F.col("id").alias("number"))


def system_tables(spark: SparkSession) -> DataFrame:
    """``system.tables`` over the Spark catalog."""
    schema = ("database string, name string, engine string, "
              "is_temporary boolean")
    rows = [((t.namespace[0] if t.namespace else ""),
             t.name, t.tableType, t.isTemporary)
            for t in spark.catalog.listTables()]
    return local_frame(spark, rows, schema)


def system_columns(spark: SparkSession, table: str) -> DataFrame:
    """``system.columns`` for one catalog table."""
    rows = [(table, c.name, c.dataType, c.nullable)
            for c in spark.catalog.listColumns(table)]
    return local_frame(
        spark, rows,
        "table string, name string, type string, nullable boolean")


def system_columns_all(spark: SparkSession) -> DataFrame:
    """``system.columns`` over EVERY catalog-visible table ([U]
    src/Storages/System/StorageSystemColumns.cpp) — the dialect's
    ``FROM system.columns`` view (computed on read like the other
    system views; reference type names via types_map)."""
    from clickhouse_clickhouse_spark.types_map import spark_type_to_ch

    rows = []
    for t in spark.catalog.listTables():
        if t.name.startswith("__"):
            continue            # engine-internal scratch views
        try:
            for f in spark.table(t.name).schema.fields:
                rows.append((
                    t.namespace[0] if t.namespace else "default",
                    t.name, f.name,
                    spark_type_to_ch(f.dataType, f.nullable)))
        except Exception:       # noqa: BLE001 — dropped mid-iteration
            continue
    schema = "database string, table string, name string, type string"
    return local_frame(spark, rows, schema)


def system_databases(spark: SparkSession) -> DataFrame:
    """``system.databases`` over the Spark catalog."""
    rows = [(d.name,) for d in spark.catalog.listDatabases()]
    return local_frame(spark, rows or [("default",)], "name string")


def system_parts(spark: SparkSession, path: str,
                 table: str = "") -> DataFrame:
    """``system.parts`` for a parquet table path: one row per data file
    (the reference's "part"), with partition value, bytes on disk, and
    row count from the parquet footer — the inputs OPTIMIZE decisions
    read. Footer row counts come via a parquet metadata scan, not a data
    scan."""
    files = []
    base = path.rstrip("/")
    for root, _dirs, names in os.walk(base):
        part_val = os.path.relpath(root, base)
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                files.append((table or os.path.basename(base),
                              "" if part_val == "." else part_val,
                              n, os.path.getsize(p), p))
    df = local_frame(
        spark, files or [("", "", "", 0, "")],
        "table string, partition string, name string, bytes_on_disk long, "
        "path string")
    if not files:
        return df.filter(F.col("name") != "")
    # rows per file from footers (metadata-only read); join on the FULL
    # path — partition dirs share task-generated basenames
    counts = (spark.read.parquet(base)
              .groupBy(F.regexp_replace(F.input_file_name(),
                                        "^file:/+", "/").alias("fpath"))
              .count())
    return (df.join(counts, F.col("fpath") == F.col("path"), "left")
            .select("table", "partition", "name", "bytes_on_disk",
                    F.coalesce(F.col("count"), F.lit(0)).alias("rows")))


def system_settings(spark: SparkSession) -> DataFrame:
    """``system.settings`` — the session's effective Spark SQL confs.
    One row per name: the RUNTIME conf value wins over the context-conf
    value captured at session build (a later ``SET`` — or a second
    ``getOrCreate`` with different builder configs — changes only the
    runtime side, and "effective" means what the next query sees)."""
    effective = dict(spark.sparkContext.getConf().getAll())
    for k in list(effective) + [
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.session.timeZone", "spark.sql.ansi.enabled"]:
        try:
            effective[k] = spark.conf.get(k)
        except Exception:
            pass
    return local_frame(spark, sorted(effective.items()),
                              "name string, value string")


# CH setting -> (spark conf, value translator). Only settings with a real
# runtime-settable Spark equivalent are mapped; everything else raises so
# a porting user gets an explicit answer instead of silence.
_SETTINGS_MAP = {
    "max_threads": ("spark.sql.shuffle.partitions", str),
    "max_block_size": ("spark.sql.files.maxPartitionBytes",
                       lambda v: str(int(v) * 128)),   # rows -> ~bytes
    "join_algorithm": ("spark.sql.join.preferSortMergeJoin",
                       lambda v: "true" if "merge" in str(v) else "false"),
    "max_bytes_in_join_to_broadcast":
        ("spark.sql.autoBroadcastJoinThreshold", str),
    "session_timezone": ("spark.sql.session.timeZone", str),
    # engine-level setting (no Spark conf): stored under a private conf
    # key and read by the INSERT path (ch_sql.append_to_view)
    "insert_deduplicate":
        ("spark.clickhouse_clickhouse_spark.insertDeduplicate",
         lambda v: "true" if str(v) in ("1", "true", "True") else "false"),
}


def apply_ch_settings(spark: SparkSession, settings: dict) -> dict:
    """``SET name = value`` translation: applies each reference setting's
    Spark equivalent on the live session and returns {ch_name:
    (spark_conf, value)}. Unknown settings raise KeyError with the
    supported list."""
    applied = {}
    for name, value in settings.items():
        if name not in _SETTINGS_MAP:
            raise KeyError(
                f"no Spark mapping for setting {name!r}; supported: "
                f"{sorted(_SETTINGS_MAP)}")
        conf, conv = _SETTINGS_MAP[name]
        sval = conv(value)
        spark.conf.set(conf, sval)
        applied[name] = (conf, sval)
    return applied


def system_formats(spark: SparkSession) -> DataFrame:
    """``system.formats`` (reference StorageSystemFormats) — every format
    the engine can serialize/parse, with capability flags."""
    from clickhouse_clickhouse_spark.sources.render import LINE_FORMATS

    rows = [(f, True, f in ("JSONEachRow", "JSONCompactEachRow", "CSV",
                            "CSVWithNames", "TSV", "TSVWithNames",
                            "TabSeparated", "Values"))
            for f in LINE_FORMATS]
    rows += [("RowBinary", True, True), ("Native", True, True),
             ("Avro", True, True), ("Arrow", True, True),
             ("Protobuf", True, True), ("ProtobufSingle", True, True),
             ("Regexp", False, True),
             ("Template", True, False), ("LineAsString", False, True),
             ("Pretty", True, False), ("Vertical", True, False),
             ("Parquet", True, True), ("ORC", True, True),
             ("JSON", True, True), ("Text", True, True), ("XML", True, True)]
    return local_frame(
        spark, rows, "name string, is_output boolean, is_input boolean")


# ------------------------------------------------------------ query_log
#
# ``system.query_log`` (reference StorageSystemQueryLog /
# src/Interpreters/QueryLog.cpp): one row per dialect statement the
# session has executed. Kept in the session's ``EngineState`` — the
# reference buffers log rows in memory and flushes to a MergeTree table;
# here the session IS the scope, and rows are materialized as a DataFrame
# on read (computed-on-read like every system table in this module).


def log_query(spark: SparkSession, query: str, kind: str,
              translated: str = "") -> None:
    """Append one entry. ``event_time`` is wall-clock at submit;
    ``normalized_query`` replaces literals with ? (the reference's
    normalizeQuery) so repeated parameterized calls group together."""
    import datetime
    import re

    q = " ".join(query.split())
    norm = re.sub(r"'([^'\\]|\\.)*'", "?", q)
    norm = re.sub(r"\b\d+(\.\d+)?\b", "?", norm)
    engine_state(spark).query_log.append(
        (datetime.datetime.now(), kind, q, norm, translated))


def system_query_log(spark: SparkSession) -> DataFrame:
    rows = engine_state(spark).query_log
    schema = ("event_time timestamp, query_kind string, query string, "
              "normalized_query string, translated_query string")
    return local_frame(spark, rows, schema)


def system_projections(spark: SparkSession) -> DataFrame:
    """``system.projections`` (upstream StorageSystemProjections): one row
    per registered aggregate projection — table, name, group keys, and
    the measure list as ``alias=op(src)`` strings."""
    rows = []
    for table, projs in list(engine_state(spark).projections.items()):
        for name, s in projs.items():
            rows.append((table, name, ",".join(s.keys),
                         ",".join(f"{a}={op}({src})"
                                  for a, (src, op) in s.measures.items()),
                         s.path))
    schema = ("table string, name string, keys string, measures string, "
              "path string")
    return local_frame(spark, rows, schema)


def system_view_refreshes(spark: SparkSession) -> DataFrame:
    """``system.view_refreshes`` (upstream StorageSystemViewRefreshes):
    one row per refreshable materialized view — schedule, last/next
    refresh times (epoch seconds), run count, last snapshot row count."""
    rows = [(r["name"], r["target"], int(r["interval_s"]),
             float(r["last_refresh"]), float(r["next_refresh"]),
             int(r["refresh_count"]), int(r["last_rows"]))
            for r in list(engine_state(spark).refreshables.values())]
    schema = ("view string, target string, interval_s long, "
              "last_refresh_time double, next_refresh_time double, "
              "refresh_count long, last_rows long")
    return local_frame(spark, rows, schema)


def system_functions(spark: SparkSession) -> DataFrame:
    """``system.functions`` (upstream StorageSystemFunctions): one row
    per resolvable function name — the scalar/aggregate template
    registry, the parametric double-call registry, and CREATE FUNCTION
    SQL-lambda UDFs (origin 'SQLUserDefined', as upstream reports
    them). Names that refuse at translate time still LIST here, like
    upstream lists functions that then reject bad arguments."""
    from clickhouse_clickhouse_spark import ch_sql as C

    from clickhouse_clickhouse_spark.functions import kernels

    rows = {}
    # the Arrow kernel table, reference spellings (the Spark catalog
    # lowercases names); "__" kernels are template-internal
    for n in kernels.names():
        if not n.startswith("__"):
            rows[n] = (n, "System", False)
    for n in C._FUNCS:
        rows[n] = (n, "System", False)
    for n in C._PARAMETRIC:
        rows[n] = (n, "System", True)
    for n in C._SQL_UDFS:
        rows[n] = (n, "SQLUserDefined", False)
    return local_frame(
        spark, sorted(rows.values()),
        "name string, origin string, is_parametric boolean")
