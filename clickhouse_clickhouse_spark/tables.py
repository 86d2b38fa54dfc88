"""Fixture-table access — the engine's scan layer over Parquet.

The reference's MergeTree read path (part pruning → sparse-PK mark pruning →
column reads; upstream ``src/Storages/MergeTree/MergeTreeDataSelectExecutor.cpp``)
maps to Spark's Parquet source: directory partition pruning + row-group
min/max stats + predicate pushdown + column pruning (SURVEY.md §2.1). At
100 TB the same call reads a partitioned/bucketed Parquet layout; nothing
here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from clickhouse_clickhouse_spark.session import engine_state

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "customer", "part"})


def _ship_package(spark: SparkSession) -> None:
    """Make ``clickhouse_clickhouse_spark`` importable on EXECUTOR
    python workers (round 13). The driver contract hands us a plain
    SparkSession whose workers inherit only the environment PYTHONPATH
    — if that session was created outside the repo, every pandas UDF
    that references this package by module (the hash/codec compat
    kernels) failed to unpickle worker-side. Two idempotent moves:

    - PYTHONPATH env: local-mode python daemons are forked from the
      driver process, so appending the repo dir covers workers that
      have not started yet;
    - ``sc.addPyFile`` of a package zip: the cluster-grade path —
      shipped to every executor and appended to worker sys.path, which
      also covers daemons that are already running."""
    st = engine_state(spark)
    if st.shipped:
        return
    st.shipped = True
    import os
    import tempfile
    import threading
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(pkg_dir)
    pp = os.environ.get("PYTHONPATH", "")
    if repo not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = \
            repo + (os.pathsep + pp if pp else "")
    try:
        zpath = os.path.join(tempfile.gettempdir(),
                             f"__ch_spark_pkg_{os.getpid()}.zip")
        if not os.path.exists(zpath):
            # written aside and renamed into place: a session shipping
            # from another thread must never add a half-written zip
            tmp = f"{zpath}.{threading.get_ident()}"
            with zipfile.ZipFile(tmp, "w") as z:
                for root, _dirs, files in os.walk(pkg_dir):
                    for f in files:
                        if not f.endswith(".py"):
                            continue
                        full = os.path.join(root, f)
                        z.write(full, os.path.join(
                            os.path.basename(pkg_dir),
                            os.path.relpath(full, pkg_dir)))
            os.replace(tmp, zpath)
        spark.sparkContext.addPyFile(zpath)
    except AttributeError:
        pass  # Connect sessions have no sparkContext; env path stands
    except Exception as e:  # noqa: BLE001 — ship failure must not kill
        # the query, but silence would strand executors without the
        # package (round-14 ADVICE fix: was a bare swallow)
        import warnings
        warnings.warn(f"could not ship package zip to executors "
                      f"({e!r}); relying on PYTHONPATH", RuntimeWarning,
                      stacklevel=2)


def ensure_engine_confs(spark: SparkSession) -> None:
    """Set the engine's semantics-critical runtime confs on an externally
    created session (the driver hands us its own SparkSession — it won't
    have our session.py defaults):

    - ns-precision parquet timestamps read as long (else the scan throws
      PARQUET_TYPE_ILLEGAL on events.parquet);
    - UTC session timezone (fixtures are tz-naive; oracle compares naive);
    - ANSI off (reference-permissive arithmetic, SURVEY.md §4.2).
    """
    _ship_package(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # Normalize ALL parquet read paths (not just load_table) to LTZ
    # timestamps: Spark 4 otherwise infers TIMESTAMP_NTZ for un-adjusted
    # parquet timestamps, which rejects the numeric casts (epoch
    # arithmetic) the engine uses. Value-identical with the session pinned
    # to UTC above. The per-column cast in load_table stays as a fallback
    # for sessions that read fixtures before this conf is applied.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # externally created sessions default to 200 shuffle partitions — far
    # too many for the fixture scales; AQE coalesces, but a right-sized
    # default avoids scheduling overhead entirely. Round 14: derive it
    # from the SESSION's parallelism (local[N] → N), not the box's
    # physical cpu count — the round driver deliberately re-runs the
    # bench at a lower core count to measure scaling, and a
    # box-cpu-count default would hand the 8-core session 32 partitions
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        try:
            cores = spark.sparkContext.defaultParallelism
        except Exception:  # Connect sessions have no sparkContext
            import os
            cores = os.cpu_count() or 8
        spark.conf.set("spark.sql.shuffle.partitions", str(cores))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Plain ``spark.read.parquet`` so Catalyst
    keeps full pushdown/pruning freedom.

    Fixture tables are immutable, so the relation is cached in the
    session's state: re-listing the files and re-reading parquet footers
    on every query build is pure overhead. A fresh session rebuilds
    cleanly. The cache holds unresolved plans only; no data is pinned."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_engine_confs(spark)
    relations = engine_state(spark).relations
    cached = relations.get((sf_dir, name))
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns-precision column surfaced as long via nanosAsLong: truncate to µs
        # (same behavior as DuckDB's read of the ns column).
        from pyspark.sql import functions as F
        # integer division: double math would lose precision at 1e18 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        # Fixture timestamps are tz-naive; Spark 4 surfaces un-adjusted
        # parquet timestamps as TIMESTAMP_NTZ, which rejects numeric casts
        # (epoch arithmetic) the engine uses. With the session pinned to
        # UTC, NTZ -> LTZ is value-identical, so normalize at the scan.
        from pyspark.sql import functions as F
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols})
    relations[(sf_dir, name)] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register fixture tables as temp views for the SQL API."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
