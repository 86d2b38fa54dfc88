"""Refreshable materialized views (upstream 23.12 RefreshTask /
REFRESH EVERY): full-query re-run on a schedule, snapshot swap — NOT an
insert trigger. The snapshot is a parquet write, so reads between
refreshes are point-in-time consistent.
"""

import pytest

from clickhouse_clickhouse_spark.ch_sql import (
    ch_sql,
    ch_statement,
    refresh_tick,
)
from clickhouse_clickhouse_spark.session import engine_state


@pytest.fixture()
def src(spark):
    spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double") \
        .createOrReplaceTempView("rmv_src")
    yield "rmv_src"
    ch_statement(spark, "DROP TABLE IF EXISTS rmv_tot")
    spark.catalog.dropTempView("rmv_src")
    engine_state(spark).refreshables.pop("rmv_tot", None)


def test_refreshable_snapshot_and_manual_refresh(spark, src):
    out = ch_statement(spark, """
        CREATE MATERIALIZED VIEW rmv_tot REFRESH EVERY 1 HOUR AS
        SELECT count() AS n, sum(v) AS sv FROM rmv_src""").collect()[0]
    assert out.rows == 1 and out.interval_s == 3600
    first = spark.table("rmv_tot").collect()[0]
    assert first.n == 2 and first.sv == 30.0
    # source changes do NOT show through (snapshot, not a live view;
    # and unlike the incremental MV, INSERT does not trigger it)
    ch_statement(spark, "INSERT INTO rmv_src VALUES (3, 5.0)")
    stale = spark.table("rmv_tot").collect()[0]
    assert stale.n == 2 and stale.sv == 30.0
    # forced refresh picks up the new row
    r = ch_statement(spark, "SYSTEM REFRESH VIEW rmv_tot").collect()[0]
    assert r.refreshed == "rmv_tot"
    fresh = spark.table("rmv_tot").collect()[0]
    assert fresh.n == 3 and fresh.sv == 35.0


def test_refresh_tick_only_when_due(spark, src):
    ch_statement(spark, """
        CREATE MATERIALIZED VIEW rmv_tot REFRESH EVERY 1 HOUR AS
        SELECT count() AS n FROM rmv_src""")
    state = engine_state(spark).refreshables["rmv_tot"]
    assert state["refresh_count"] == 1
    # not due yet
    assert refresh_tick(spark) == []
    assert state["refresh_count"] == 1
    # pretend an hour passed
    assert refresh_tick(spark, now=state["next_refresh"] + 1) == \
        ["rmv_tot"]
    assert state["refresh_count"] == 2


def test_refreshable_to_target_and_system_table(spark, src):
    spark.createDataFrame([], "n bigint").createOrReplaceTempView(
        "rmv_tgt")
    ch_statement(spark, """
        CREATE MATERIALIZED VIEW rmv_tot REFRESH EVERY 30 SECOND
        TO rmv_tgt AS SELECT count() AS n FROM rmv_src""")
    assert spark.table("rmv_tgt").collect()[0].n == 2
    # the MV name reads the same snapshot
    assert spark.table("rmv_tot").collect()[0].n == 2
    row = ch_sql(spark, """
        SELECT view, target, interval_s, refresh_count, last_rows
        FROM system.view_refreshes WHERE view = 'rmv_tot'""").collect()[0]
    assert (row.target, row.interval_s, row.refresh_count,
            row.last_rows) == ("rmv_tgt", 30, 1, 1)
    spark.catalog.dropTempView("rmv_tgt")


def test_drop_unregisters_refreshable(spark, src):
    ch_statement(spark, """
        CREATE MATERIALIZED VIEW rmv_tot REFRESH EVERY 1 MINUTE AS
        SELECT count() AS n FROM rmv_src""")
    refreshables = engine_state(spark).refreshables
    assert "rmv_tot" in refreshables
    ch_statement(spark, "DROP TABLE rmv_tot")
    assert "rmv_tot" not in refreshables
    with pytest.raises(ValueError, match="refreshable"):
        ch_statement(spark, "SYSTEM REFRESH VIEW rmv_tot")


def test_bad_refresh_unit_raises(spark, src):
    with pytest.raises(ValueError, match="unit"):
        ch_statement(spark, """
            CREATE MATERIALIZED VIEW rmv_tot REFRESH EVERY 3 FORTNIGHT
            AS SELECT count() AS n FROM rmv_src""")
