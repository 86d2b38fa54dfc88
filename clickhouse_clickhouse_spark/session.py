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
import threading
from collections.abc import Iterable, Sequence
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


def arrow_rows(rows: Iterable[Any], schema: StructType):
    """``rows`` as a ``pyarrow.Table`` of ``schema``'s Arrow types,
    converted exactly as ``createDataFrame`` converts a list of them
    (its type verifier, then ``StructType.toInternal``): naive datetimes
    are process-local time, dicts and ``Row``s map by field name, tuples
    by position."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _create_converter, _make_type_verifier

    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    internal = []
    for r in rows:
        verify(r)
        internal.append(schema.toInternal(convert(r)))
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*internal) if internal else [()] * len(arrow_schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema)


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

    ``rows`` go through ``arrow_rows``, so the values read back as
    ``createDataFrame`` would give them; a ``pyarrow.Table`` that
    ``arrow_rows`` already built is taken as it is. ``schema`` is a DDL
    string or a ``StructType``."""
    import pyarrow as pa

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        rows = arrow_rows(rows, schema)
    return spark.createDataFrame(rows, schema)


def driver_rows(df: DataFrame, extra: Sequence[str] = ()):
    """The rows of a driver-local ``df`` as a ``pyarrow.Table``, None for
    any other ``df``.

    Driver-local means that ``df``'s optimized plan is a
    ``LocalRelation``: Spark folded the whole plan on the driver (a
    ``VALUES`` list, a ``from_json`` parse of ``local_frame`` lines), so
    collecting it runs no job. The table holds ``df``'s columns, then the
    values of the ``extra`` SQL expressions, evaluated in the same local
    projection, all as ``arrow_rows`` converts them."""
    proj = df.selectExpr("*", *extra) if extra else df
    plan = proj._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    # tuples convert by position, ~6x faster than Rows by name
    return arrow_rows([tuple(r) for r in proj.collect()], proj.schema)


class EngineState:
    """What the engine knows about one SparkSession's tables: the analog
    of a table's storage metadata in the reference (``IStorage``: its DDL,
    projections, materialized-view triggers, insert-dedup block ids) plus
    the session's ``system.query_log``. A table here is a session temp
    view, so its metadata lives and dies with the session. Table-keyed
    dicts use lower-cased names. Reached only through ``engine_state``."""

    def __init__(self) -> None:
        self.specs: dict[str, Any] = {}          # name -> ch_sql.TableSpec
        # table -> projection name -> plans.summary.SummaryTable
        self.projections: dict[str, dict[str, Any]] = {}
        # source table -> [(mv name, target view, translated SQL)]
        self.matviews: dict[str, list[tuple[str, str, str]]] = {}
        self.refreshables: dict[str, dict] = {}  # refreshable MV state
        # recent inserted-block checksums, newest last
        self.block_hashes: dict[str, list[int]] = {}
        self.query_log: list[tuple] = []
        # (sf_dir, fixture table) -> analyzed relation (tables.load_table)
        self.relations: dict[tuple[str, str], DataFrame] = {}
        self.shipped = False             # package zip sent to executors
        self.kernels_registered = False  # Arrow kernel table registered

    def spec(self, table: str):
        return self.specs.get(table.lower())

    def remember(self, spec) -> None:
        self.specs[spec.name.lower()] = spec

    def projections_for(self, table: str) -> dict[str, Any]:
        """The table's projections by name; a throwaway empty dict when
        it has none."""
        return self.projections.get(table.lower(), {})

    def forget_blocks(self, *tables: str) -> None:
        """Drop the tables' insert-dedup windows. The reference clears
        block ids with the parts holding them; keeping them would
        silently skip re-inserting identical data after TRUNCATE, DROP
        or OPTIMIZE DEDUPLICATE."""
        for t in tables:
            self.block_hashes.pop(t.lower(), None)

    def drop(self, table: str):
        """DROP TABLE/VIEW: forget everything recorded for ``table``,
        including the triggers of a materialized view of that name.
        Returns the dropped ``TableSpec`` (or None)."""
        t = table.lower()
        self.forget_blocks(t)
        self.refreshables.pop(t, None)
        self.projections.pop(t, None)
        for source, mvs in list(self.matviews.items()):
            kept = [mv for mv in mvs if mv[0].lower() != t]
            if kept:
                self.matviews[source] = kept
            else:
                del self.matviews[source]
        return self.specs.pop(t, None)

    def rename(self, old: str, new: str) -> None:
        """RENAME TABLE: the DDL and projections follow the unchanged
        data; ``new``'s own projections and both dedup windows go."""
        a, b = old.lower(), new.lower()
        self.forget_blocks(a, b)
        self.projections.pop(b, None)
        if a in self.projections:
            self.projections[b] = self.projections.pop(a)
        spec = self.specs.pop(a, None)
        if spec is not None:
            spec.name = new
            self.specs[b] = spec

    def exchange(self, a: str, b: str) -> None:
        """EXCHANGE TABLES: DDL and projections swap with the data; both
        dedup windows go."""
        ka, kb = a.lower(), b.lower()
        self.forget_blocks(ka, kb)
        for d in (self.projections, self.specs):
            va, vb = d.pop(ka, None), d.pop(kb, None)
            if va is not None:
                d[kb] = va
            if vb is not None:
                d[ka] = vb
        for name, k in ((a, ka), (b, kb)):
            if k in self.specs:
                self.specs[k].name = name


_STATE_ATTR = "_ch_engine_state"
_STATE_LOCK = threading.Lock()


def engine_state(spark: SparkSession) -> EngineState:
    """The session's ``EngineState``, created on first use. It is an
    attribute of the session object, so it is freed with the session and
    a new session never inherits another's state: a key on the session's
    ``id()`` can be reused after it is collected, and a weak-keyed dict
    would keep the session alive through its own cached DataFrames,
    which reference it."""
    st = getattr(spark, _STATE_ATTR, None)
    if st is None:
        with _STATE_LOCK:
            st = getattr(spark, _STATE_ATTR, None)
            if st is None:
                st = EngineState()
                setattr(spark, _STATE_ATTR, st)
    return st


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
