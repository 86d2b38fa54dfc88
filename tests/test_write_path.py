"""The dialect write path on file-backed MergeTree and Memory tables:
column order and parts on disk across INSERT/TRUNCATE/DROP/ALTER, and
the number of Spark jobs each statement kind may launch."""

import contextlib
import json
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
    TRUNCATE is metadata only, and re-registering a file-backed view
    reads no parquet footers."""
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
    ch_statement(spark, "INSERT INTO wp_jobs_mem VALUES (1, 2)")
    with job_group(spark, "wp_truncate") as truncate_jobs:
        ch_statement(spark, "TRUNCATE TABLE wp_jobs_mem").collect()
    assert len(truncate_jobs) == 0

    lines = [json.dumps({"id": i, "bucket": i % 4, "v": i})
             for i in range(64)]
    with job_group(spark, "wp_insert") as insert_jobs:
        ch_statement(spark, "INSERT INTO wp_jobs_mt FORMAT JSONEachRow",
                     data=lines).collect()
    assert 1 <= len(insert_jobs) <= 4
    with job_group(spark, "wp_optimize") as optimize_jobs:
        ch_statement(spark, "OPTIMIZE TABLE wp_jobs_mt FINAL").collect()
    assert len(optimize_jobs) <= 1
    assert _count(spark, "wp_jobs_mt") == 64
