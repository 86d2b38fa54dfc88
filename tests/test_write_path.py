"""The dialect write path on file-backed MergeTree and Memory tables:
column order and parts on disk across INSERT/TRUNCATE/DROP/ALTER, and
the number of Spark jobs each statement kind may launch."""

import contextlib
import datetime as dt
import decimal
import json
import math
import os

import pytest

from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

DATA_DIR = "spark.clickhouse_clickhouse_spark.dataDir"
MT_DDL = ("CREATE TABLE {} (id Int64, bucket Int32, v Int64) "
          "ENGINE = MergeTree PARTITION BY bucket ORDER BY id")


@pytest.fixture
def data_dir(spark, tmp_path):
    """Tables created while this fixture is active are file-backed."""
    spark.conf.set(DATA_DIR, str(tmp_path))
    try:
        yield tmp_path
    finally:
        spark.conf.set(DATA_DIR, "")


@contextlib.contextmanager
def job_group(spark, name):
    """Run the block under its own job group; yields a list that holds
    the ids of the jobs the block launched once it exits."""
    sc = spark.sparkContext
    jobs = []
    sc.setJobGroup(name, name)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(name))


def _rows(spark, table):
    return sorted(tuple(r) for r in ch_sql(
        spark, f"SELECT id, bucket, v FROM {table}").collect())


def _count(spark, table):
    return ch_sql(spark, f"SELECT count() FROM {table}").collect()[0][0]


def test_positional_insert_keeps_ddl_column_order(spark, data_dir):
    # Spark lists partition columns last when it reads the parts back;
    # the view must keep the DDL order or the second positional INSERT
    # stores v in bucket.
    ch_statement(spark, MT_DDL.format("wp_order"))
    ch_statement(spark, "INSERT INTO wp_order VALUES (1, 0, 10)")
    ch_statement(spark, "INSERT INTO wp_order VALUES (2, 1, 20)")
    assert _rows(spark, "wp_order") == [(1, 0, 10), (2, 1, 20)]
    described = [r.name for r in
                 ch_statement(spark, "DESCRIBE wp_order").collect()]
    assert described == ["id", "bucket", "v"]


def test_truncate_deletes_parts(spark, data_dir):
    ch_statement(spark, MT_DDL.format("wp_trunc"))
    ch_statement(spark, "INSERT INTO wp_trunc VALUES (1, 0, 1), (2, 1, 2)")
    ch_statement(spark, "TRUNCATE TABLE wp_trunc")
    assert _count(spark, "wp_trunc") == 0
    assert os.listdir(data_dir / "wp_trunc") == []
    ch_statement(spark, "INSERT INTO wp_trunc VALUES (3, 0, 3)")
    assert _rows(spark, "wp_trunc") == [(3, 0, 3)]


def test_drop_removes_table_directory(spark, data_dir):
    ch_statement(spark, MT_DDL.format("wp_drop"))
    ch_statement(spark, "INSERT INTO wp_drop VALUES (1, 0, 1), (2, 1, 2)")
    ch_statement(spark, "DROP TABLE wp_drop")
    assert not (data_dir / "wp_drop").exists()
    ch_statement(spark, MT_DDL.format("wp_drop"))
    ch_statement(spark, "INSERT INTO wp_drop VALUES (3, 0, 3)")
    assert _rows(spark, "wp_drop") == [(3, 0, 3)]


def test_added_column_survives_insert_and_optimize(spark, data_dir):
    # parts written before the ALTER have no `extra`; it reads as NULL
    ch_statement(spark, MT_DDL.format("wp_alter"))
    ch_statement(spark, "INSERT INTO wp_alter VALUES (1, 0, 1)")
    ch_statement(spark, "ALTER TABLE wp_alter ADD COLUMN extra Int32")
    ch_statement(spark, "INSERT INTO wp_alter VALUES (2, 1, 2, 7)")
    for stmt in (None, "OPTIMIZE TABLE wp_alter FINAL",
                 "OPTIMIZE TABLE wp_alter DEDUPLICATE"):
        if stmt:
            ch_statement(spark, stmt)
        assert spark.table("wp_alter").columns == [
            "id", "bucket", "v", "extra"]
        got = sorted(tuple(r) for r in ch_sql(
            spark, "SELECT id, extra FROM wp_alter").collect())
        assert got == [(1, None), (2, 7)]


def test_write_statement_job_budget(spark, data_dir):
    """Status rows are Arrow LocalRelations (no job to collect), a Memory
    TRUNCATE is metadata only, re-registering a file-backed view reads no
    parquet footers, and a driver-local INSERT block is counted and
    written on the driver: no job for an INSERT FORMAT into MergeTree
    or an INSERT VALUES into Memory."""
    ch_statement(spark, MT_DDL.format("wp_jobs_mt"))
    ch_statement(spark, "CREATE TABLE wp_jobs_mem (id Int64, v Int64) "
                        "ENGINE = Memory")
    statements = [
        "INSERT INTO wp_jobs_mem VALUES (1, 2), (3, 4)",
        "EXISTS TABLE wp_jobs_mem",
        "DESCRIBE wp_jobs_mem",
        "SHOW CREATE TABLE wp_jobs_mt",
        "SET insert_deduplicate = 0",
        "CREATE FUNCTION wp_jobs_fn AS (x) -> x + 1",
        "DROP FUNCTION wp_jobs_fn",
        "ALTER TABLE wp_jobs_mem ADD COLUMN w Int32",
        "OPTIMIZE TABLE wp_jobs_mem",
        "RENAME TABLE wp_jobs_mem TO wp_jobs_mem2",
        "TRUNCATE TABLE wp_jobs_mem2",
        "DROP TABLE wp_jobs_mem2",
    ]
    status_jobs = {}
    for i, stmt in enumerate(statements):
        status = ch_statement(spark, stmt)
        with job_group(spark, f"wp_status_{i}") as jobs:
            status.collect()
        status_jobs[stmt] = len(jobs)
    assert status_jobs == dict.fromkeys(statements, 0)

    ch_statement(spark, "CREATE TABLE wp_jobs_mem (id Int64, v Int64) "
                        "ENGINE = Memory")
    with job_group(spark, "wp_values") as values_jobs:
        ch_statement(spark, "INSERT INTO wp_jobs_mem VALUES (1, 2)") \
            .collect()
    assert len(values_jobs) == 0
    with job_group(spark, "wp_truncate") as truncate_jobs:
        ch_statement(spark, "TRUNCATE TABLE wp_jobs_mem").collect()
    assert len(truncate_jobs) == 0

    lines = [json.dumps({"id": i, "bucket": i % 4, "v": i})
             for i in range(64)]
    with job_group(spark, "wp_insert") as insert_jobs:
        ch_statement(spark, "INSERT INTO wp_jobs_mt FORMAT JSONEachRow",
                     data=lines).collect()
    assert len(insert_jobs) == 0
    with job_group(spark, "wp_optimize") as optimize_jobs:
        ch_statement(spark, "OPTIMIZE TABLE wp_jobs_mt FINAL").collect()
    assert len(optimize_jobs) <= 1
    assert _count(spark, "wp_jobs_mt") == 64


def test_insert_into_table_is_the_sink_for_every_insert(spark, data_dir,
                                                         monkeypatch):
    # perfbench's tracing wraps these three module attributes by setattr
    # and reads the table path as the fourth positional argument of
    # insert_into_table: its translate_* and write.* metrics read 0 if a
    # statement stops calling through them
    import clickhouse_clickhouse_spark.ch_sql as ch_sql_module

    seen = []

    def wrap(name):
        fn = getattr(ch_sql_module, name)

        def wrapped(*args, **kwargs):
            seen.append((name, args))
            return fn(*args, **kwargs)
        monkeypatch.setattr(ch_sql_module, name, wrapped)

    for name in ("translate", "ch_insert", "insert_into_table"):
        wrap(name)
    ch_statement(spark, MT_DDL.format("wp_sink"))
    ch_statement(spark, "CREATE TABLE wp_sink_mem (id Int64) ENGINE = Memory")
    ch_statement(spark, "INSERT INTO wp_sink FORMAT JSONEachRow",
                 data=['{"id": 1, "bucket": 0, "v": 2}'])
    ch_statement(spark, "INSERT INTO wp_sink_mem VALUES (5)")
    assert ch_sql(spark, "SELECT sum(v) FROM wp_sink").collect()[0][0] == 2
    inserts = [args for name, args in seen if name == "insert_into_table"]
    assert [(a[1].name, a[3]) for a in inserts] == [
        ("wp_sink", str(data_dir / "wp_sink")), ("wp_sink_mem", None)]
    assert [n for n, _ in seen].count("ch_insert") == 2
    assert any(n == "translate" and "wp_sink" in a[0] for n, a in seen)


def _record_writers(monkeypatch):
    """Count the calls of the two part writers."""
    from clickhouse_clickhouse_spark.sources import write

    calls = []
    for name in ("insert_partitioned", "write_local_parts"):
        fn = getattr(write, name)

        def wrapped(*args, _fn=fn, _name=name, **kwargs):
            calls.append(_name)
            return _fn(*args, **kwargs)
        monkeypatch.setattr(write, name, wrapped)
    return calls


@pytest.mark.parametrize("aqe, write_jobs", [("false", 1), ("true", 2)])
def test_insert_select_counts_during_its_one_write(spark, data_dir,
                                                   monkeypatch, aqe,
                                                   write_jobs):
    # a block that is not driver-local keeps Spark's writer; the status
    # row's count comes from an Observation of the write, so the SELECT
    # runs once: one write job, after AQE's shuffle-map job when on
    calls = _record_writers(monkeypatch)
    before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    table = f"wp_sel_{aqe}"
    try:
        ch_statement(spark, MT_DDL.format(table))
        spark.range(100).createOrReplaceTempView("wp_sel_src")
        with job_group(spark, f"wp_insert_select_{aqe}") as jobs:
            status = ch_statement(
                spark, f"INSERT INTO {table} SELECT id, id % 4, id * 2 "
                       "FROM wp_sel_src").collect()
        assert status[0].written == 100
        assert len(jobs) == write_jobs
        assert calls == ["insert_partitioned"]
        ch_statement(spark, f"INSERT INTO {table} VALUES (100, 0, 1)")
        assert calls == ["insert_partitioned", "write_local_parts"]
        assert _count(spark, table) == 101
        # an input found empty at run time: AQE prunes the observed plan
        empty = ch_statement(spark, f"INSERT INTO {table} SELECT id, 0, 0 "
                                    "FROM wp_sel_src WHERE id < 0").collect()
        assert empty[0].written == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)


def _spark_order(f, i):
    """Spark's ascending order on (f, i): NULL first, NaN after every
    number."""
    if f is None:
        return (0, 0.0, i)
    return (2, 0.0, i) if math.isnan(f) else (1, f, i)


def _parts(path):
    return sorted(os.path.join(root, n) for root, _d, names in os.walk(path)
                  for n in names if n.endswith(".parquet"))


def test_parts_are_sorted_by_order_key_within_partitions(spark, tmp_path):
    # Spark's partitioned write sorts its input by the partition columns;
    # a sort on the ORDER BY key alone below it was lost
    import random

    import pyarrow.parquet as pq

    from clickhouse_clickhouse_spark.session import local_frame
    from clickhouse_clickhouse_spark.sources.write import (
        insert_partitioned, optimize_compact, read_parts,
    )

    rows = [(i, i % 4, i * 3) for i in range(2000)]
    random.Random(7).shuffle(rows)
    df = local_frame(spark, rows, "id long, bucket int, v long")
    path = str(tmp_path / "inserted")
    insert_partitioned(df, path, partition_by=["bucket"], sort_by=["id"],
                       mode="append")
    # OPTIMIZE over parts written in no particular order
    merged = str(tmp_path / "merged")
    df.write.partitionBy("bucket").parquet(merged)
    optimize_compact(spark, merged, sort_by=["id"], partition_by=["bucket"],
                     schema=df.schema)
    for p in (path, merged):
        parts = _parts(p)
        assert len(parts) >= 4 and all("bucket=" in f for f in parts)
        for f in parts:
            ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
            assert ids == sorted(ids), f
        assert read_parts(spark, p, df.schema).count() == 2000


def test_optimize_deduplicate_parts_are_sorted(spark, data_dir):
    import random

    import pyarrow.parquet as pq

    ch_statement(spark, MT_DDL.format("wp_dedup_sorted"))
    ids = list(range(2000))
    random.Random(3).shuffle(ids)
    for i in range(0, 2000, 500):
        ch_statement(spark, "INSERT INTO wp_dedup_sorted VALUES " + ", ".join(
            f"({j}, {j % 4}, {j})" for j in ids[i:i + 500]))
    ch_statement(spark, "OPTIMIZE TABLE wp_dedup_sorted DEDUPLICATE")
    parts = _parts(data_dir / "wp_dedup_sorted")
    assert parts
    for f in parts:
        got = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        assert got == sorted(got), f
    assert _count(spark, "wp_dedup_sorted") == 2000


def test_mergetree_insert_maintains_projection(spark, data_dir):
    ch_statement(spark, MT_DDL.format("wp_proj"))
    ch_statement(spark, "INSERT INTO wp_proj VALUES (1, 1, 10), (2, 1, 10), "
                        "(3, 2, 5)")
    ch_statement(spark, "ALTER TABLE wp_proj ADD PROJECTION p_b "
                        "(SELECT bucket, sum(v) AS sum_v GROUP BY bucket)")
    ch_statement(spark, "INSERT INTO wp_proj VALUES (9, 1, 100)")
    routed = ch_sql(spark, "SELECT bucket, sum(v) AS sum_v FROM wp_proj "
                           "GROUP BY bucket")
    assert any("ch_proj" in f for f in routed.inputFiles())
    assert {r.bucket: r.sum_v for r in routed.collect()} == {1: 120, 2: 5}


def test_mergetree_insert_fires_materialized_view(spark, data_dir):
    # the MV's target is file-backed too: its block (an aggregate, not
    # driver-local) is written by Spark
    ch_statement(spark, MT_DDL.format("wp_mv_src"))
    ch_statement(spark, "CREATE TABLE wp_mv_dst (bucket Int32, n Int64) "
                        "ENGINE = MergeTree ORDER BY bucket")
    ch_statement(spark, "CREATE MATERIALIZED VIEW wp_mv TO wp_mv_dst AS "
                        "SELECT bucket, count() AS n FROM wp_mv_src "
                        "GROUP BY bucket")
    ch_statement(spark, "INSERT INTO wp_mv_src VALUES (1, 0, 1), (2, 0, 2), "
                        "(3, 1, 3)")
    ch_statement(spark, "INSERT INTO wp_mv_src VALUES (4, 1, 4)")
    got = sorted(tuple(r) for r in
                 ch_sql(spark, "SELECT bucket, n FROM wp_mv").collect())
    assert got == [(0, 2), (1, 1), (1, 1)]
    assert _parts(data_dir / "wp_mv_dst")


def test_mergetree_insert_deduplicates_blocks(spark, data_dir):
    ch_statement(spark, MT_DDL.format("wp_dedup"))
    block = "INSERT INTO wp_dedup VALUES (1, 0, 1), (2, 1, 2)"
    try:
        ch_statement(spark, "SET insert_deduplicate = 1")
        assert ch_statement(spark, block).collect()[0].written == 2
        assert ch_statement(spark, block).collect()[0].written == 0
        assert _count(spark, "wp_dedup") == 2
        assert len(_parts(data_dir / "wp_dedup")) == 2
    finally:
        ch_statement(spark, "SET insert_deduplicate = 0")
    ch_statement(spark, block)
    assert _count(spark, "wp_dedup") == 4


def test_mutations_keep_rows_whose_predicate_is_null(spark):
    # upstream negates a mutation predicate with isZeroOrNull: a row
    # whose condition is NULL is not deleted
    ch_statement(spark, "CREATE TABLE wp_mut (id Int64, v Nullable(Int64)) "
                        "ENGINE = Memory")
    ch_statement(spark, "INSERT INTO wp_mut VALUES (1, 1), (2, 10), "
                        "(3, NULL)")
    ch_statement(spark, "ALTER TABLE wp_mut DELETE WHERE v > 5")
    ids = [r.id for r in ch_sql(spark, "SELECT id FROM wp_mut ORDER BY id")
           .collect()]
    assert ids == [1, 3]
    ch_statement(spark, "DELETE FROM wp_mut WHERE v < 5")
    ids = [r.id for r in ch_sql(spark, "SELECT id FROM wp_mut ORDER BY id")
           .collect()]
    assert ids == [3]
    ch_statement(spark, "DROP TABLE wp_mut")


# Driver-written parts against Spark-written ones: per partition-key
# type, values that need escaping or map to the default partition; value
# columns of nested, decimal, binary and timestamp_ntz type; NULL and NaN
# in the ORDER BY key.
PARTITION_KEYS = {
    "string": [None, "", "/", "a=b", "100%", "é✓ x"],
    "date": [None, dt.date(2024, 2, 29), dt.date(1969, 12, 31)],
    "timestamp": [None, dt.datetime(2024, 1, 2, 3, 4, 5, 600000),
                  dt.datetime(1999, 12, 31, 23, 59, 59)],
    "decimal(10,2)": [None, decimal.Decimal("1.50"),
                      decimal.Decimal("-2.00")],
    "boolean": [None, True, False],
}
FLOATS = [None, float("nan"), -1.5, 0.0, 2.5, float("inf")]


def _parity_rows(keys, n=36):
    return [(i, keys[i % len(keys)], FLOATS[i % len(FLOATS)],
             [i, None], {"k": i / 2}, (i, f"s{i}"),
             decimal.Decimal(i) / 8, bytes([i, 0]),
             dt.datetime(2020, 1, 1) + dt.timedelta(hours=i))
            for i in range(n)]


def _parity_norm(rows):
    return sorted((tuple("NaN" if isinstance(v, float) and math.isnan(v)
                         else v for v in r) for r in rows),
                  key=lambda r: r[0])


@pytest.mark.parametrize("key_type", sorted(PARTITION_KEYS))
def test_driver_parts_read_back_as_spark_parts(spark, tmp_path, key_type):
    from pyspark.sql.types import StructType

    from clickhouse_clickhouse_spark.ch_sql import (
        TableSpec, insert_into_table,
    )
    from clickhouse_clickhouse_spark.session import local_frame
    from clickhouse_clickhouse_spark.sources.write import (
        insert_partitioned, read_parts,
    )

    schema = StructType.fromDDL(
        f"id bigint, p {key_type}, f double, a array<bigint>, "
        "m map<string,double>, s struct<x:int,y:string>, d decimal(20,4), "
        "b binary, t timestamp_ntz")
    rows = _parity_rows(PARTITION_KEYS[key_type])
    name = f"wp_parity_{key_type.split('(')[0]}"
    local_frame(spark, [], schema).createOrReplaceTempView(name)
    driver, spark_dir = str(tmp_path / "driver"), str(tmp_path / "spark")
    spec = TableSpec(name, schema, "MergeTree", ["p"], ["f", "id"], driver)
    with job_group(spark, f"wp_parity_{key_type}") as jobs:
        assert insert_into_table(spark, spec, local_frame(spark, rows, schema),
                                 driver) == len(rows)
    assert jobs == []
    insert_partitioned(local_frame(spark, rows, schema), spark_dir,
                       partition_by=["p"], sort_by=["f", "id"],
                       mode="append")

    def dirs(root):
        return sorted(os.path.relpath(os.path.dirname(p), root)
                      for p in _parts(root))
    assert sorted(set(dirs(driver))) == sorted(set(dirs(spark_dir)))
    assert not [n for _r, _d, names in os.walk(driver) for n in names
                if n.startswith(".") and n.endswith(".parquet")]
    got = read_parts(spark, driver, schema).collect()
    assert _parity_norm(got) == _parity_norm(
        read_parts(spark, spark_dir, schema).collect())
    # '' shares NULL's default partition and reads back as NULL
    assert _parity_norm(got) == _parity_norm(
        (r[0], None if r[1] == "" else r[1], *r[2:]) for r in rows)
    data_schema = StructType([f for f in schema.fields if f.name != "p"])
    for part in _parts(driver):
        order = [(r.f, r.id) for r in
                 spark.read.schema(data_schema).parquet(part).collect()]
        assert order == sorted(order, key=lambda k: _spark_order(*k)), part


def test_driver_parts_after_add_column_match_spark_parts(spark, data_dir):
    # the same statements into two tables, one written on the driver
    # (VALUES blocks) and one by Spark (the same blocks, not driver-local)
    from clickhouse_clickhouse_spark.ch_sql import ch_insert, insert_into_table
    from clickhouse_clickhouse_spark.session import engine_state

    blocks = ["INSERT INTO {} VALUES (1, 0, 1), (2, 1, NULL)",
              "ALTER TABLE {} ADD COLUMN extra Nullable(Int32)",
              "INSERT INTO {} VALUES (3, 1, 3, 7), (4, NULL, 4, NULL)"]
    for t in ("wp_add_driver", "wp_add_spark"):
        ch_statement(spark, MT_DDL.format(t).replace("v Int64",
                                                     "v Nullable(Int64)"))
    for stmt in blocks:
        ch_statement(spark, stmt.format("wp_add_driver"))
        if stmt.startswith("INSERT"):
            spec = engine_state(spark).spec("wp_add_spark")
            rows = ch_insert(spark, stmt.format("wp_add_spark"))
            insert_into_table(spark, spec, rows.repartition(1), spec.path)
        else:
            ch_statement(spark, stmt.format("wp_add_spark"))
    got = {t: sorted(tuple(r) for r in ch_sql(
        spark, f"SELECT id, bucket, v, extra FROM {t}").collect())
        for t in ("wp_add_driver", "wp_add_spark")}
    assert got["wp_add_driver"] == got["wp_add_spark"] == [
        (1, 0, 1, None), (2, 1, None, None), (3, 1, 3, 7),
        (4, None, 4, None)]
