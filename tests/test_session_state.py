"""Per-session engine state (``session.EngineState``): table metadata,
projections, materialized-view triggers and ``system.query_log`` belong
to one SparkSession, are freed with it, and never leak into another."""

import ast
import gc
import pathlib
import weakref
from concurrent.futures import ThreadPoolExecutor

import pytest

import clickhouse_clickhouse_spark
from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement
from clickhouse_clickhouse_spark.sources.system_tables import system_query_log
from clickhouse_clickhouse_spark.tables import load_table

PACKAGE = pathlib.Path(clickhouse_clickhouse_spark.__file__).parent


def _mv_setup(s, engine: str = "Memory") -> None:
    ch_statement(s, f"CREATE TABLE ss_src (k Int32) ENGINE = {engine}")
    ch_statement(s, f"CREATE TABLE ss_dst (k Int32) ENGINE = {engine}")


def test_matview_does_not_fire_across_sessions(spark):
    a, b = spark.newSession(), spark.newSession()
    _mv_setup(a)
    _mv_setup(b)
    ch_statement(a, "CREATE MATERIALIZED VIEW ss_mv TO ss_dst "
                    "AS SELECT k FROM ss_src")
    ch_statement(b, "INSERT INTO ss_src VALUES (1)")
    assert b.table("ss_dst").count() == 0
    ch_statement(a, "INSERT INTO ss_src VALUES (1)")
    assert a.table("ss_dst").count() == 1


def test_reused_session_id_inherits_nothing(spark):
    """A new session whose id() reuses a collected session's starts with
    an empty query log and no recorded DDL."""
    seen: set[int] = set()
    for _ in range(400):
        s = spark.newSession()
        if id(s) in seen:
            assert system_query_log(s).count() == 0
            with pytest.raises(ValueError, match="no DDL recorded"):
                ch_statement(s, "SHOW CREATE TABLE ss_reuse")
            return
        seen.add(id(s))
        ch_statement(s, "CREATE TABLE ss_reuse (k Int32) ENGINE = Memory")
        del s
        gc.collect()
    pytest.fail("no session id was reused in 400 sessions")


def test_session_is_collectable_after_load_table(spark, sf_dir):
    s = spark.newSession()
    load_table(s, sf_dir, "nation")
    assert load_table(s, sf_dir, "nation") is load_table(s, sf_dir, "nation")
    ref = weakref.ref(s)
    del s
    # PySpark's RDD.toDF patch holds the newest session; displace it
    spark.newSession()
    gc.collect()
    assert ref() is None


def test_engine_state_is_created_once_under_contention():
    """16 threads ask for the state of the same fresh session at once
    and all get one object. The session is a stand-in (the accessor only
    sets an attribute) so that 300 rounds stay cheap."""
    import sys
    import threading

    from clickhouse_clickhouse_spark.session import engine_state

    class Session:
        pass

    split = 0
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as ex:
            for _ in range(300):
                s, barrier = Session(), threading.Barrier(16)

                def get(_):
                    barrier.wait(timeout=30)
                    return engine_state(s)

                states = list(ex.map(get, range(16), timeout=60))
                split += not all(x is states[0] for x in states)
    finally:
        sys.setswitchinterval(old)
    assert split == 0


def test_two_sessions_two_threads_no_cross_talk(spark):
    """Two sessions, two driver threads each, the same table names in
    both: DDL, INSERT through a materialized view and query_log reads
    run concurrently and each session sees only its own."""
    sessions = {"a": spark.newSession(), "b": spark.newSession()}
    engines = {"a": "Memory", "b": "Log"}
    inserts = {"a": 2, "b": 3}

    def work(item):
        tag, t = item
        s = sessions[tag]
        ch_statement(s, f"CREATE TABLE cc_src{t} (k Int32, who String) "
                        f"ENGINE = {engines[tag]}")
        ch_statement(s, f"CREATE TABLE cc_dst{t} (k Int32, who String) "
                        f"ENGINE = {engines[tag]}")
        ch_statement(s, f"CREATE MATERIALIZED VIEW cc_mv{t} TO cc_dst{t} "
                        f"AS SELECT k, who FROM cc_src{t}")
        for i in range(inserts[tag]):
            ch_statement(s, f"INSERT INTO cc_src{t} VALUES ({i}, '{tag}')")
            ch_sql(s, "SELECT count() AS n FROM system.query_log").collect()

    items = [(tag, t) for tag in sessions for t in (0, 1)]
    with ThreadPoolExecutor(len(items)) as ex:
        list(ex.map(work, items))

    for tag, s in sessions.items():
        for t in (0, 1):
            rows = s.table(f"cc_dst{t}").collect()
            assert sorted(r.k for r in rows) == list(range(inserts[tag]))
            assert {r.who for r in rows} == {tag}
            stmt = ch_statement(
                s, f"SHOW CREATE TABLE cc_src{t}").collect()[0].statement
            assert f"ENGINE = {engines[tag]}" in stmt
        log = system_query_log(s).collect()
        ins = [r.query for r in log if r.query_kind == "Insert"]
        assert len(ins) == 2 * inserts[tag]
        assert all(f"'{tag}')" in q for q in ins)
        assert sum(r.query_kind == "Create" for r in log) == 6


def test_rename_exchange_drop_keep_ddl_and_projections(spark):
    from clickhouse_clickhouse_spark.session import engine_state

    st = engine_state(spark)
    for t in ("ss_t1", "ss_t2"):
        ch_statement(spark, f"DROP TABLE IF EXISTS {t}")
    ch_statement(spark, "CREATE TABLE ss_t1 (g String, v Int64) "
                        "ENGINE = Memory")
    ch_statement(spark, "CREATE TABLE ss_t2 (x Int32) ENGINE = Log")
    ch_statement(spark, "INSERT INTO ss_t1 VALUES ('a', 1)")
    ch_statement(spark, "ALTER TABLE ss_t1 ADD PROJECTION p "
                        "(SELECT g, sum(v) AS sv GROUP BY g)")
    ch_statement(spark, "RENAME TABLE ss_t1 TO ss_t3")
    assert st.spec("ss_t1") is None and st.spec("ss_t3").name == "ss_t3"
    assert st.projections_for("ss_t1") == {}
    assert list(st.projections_for("ss_t3")) == ["p"]

    ch_statement(spark, "EXCHANGE TABLES ss_t3 AND ss_t2")
    assert (st.spec("ss_t2").name, st.spec("ss_t2").engine) == \
        ("ss_t2", "Memory")
    assert (st.spec("ss_t3").name, st.spec("ss_t3").engine) == \
        ("ss_t3", "Log")
    assert list(st.projections_for("ss_t2")) == ["p"]
    assert st.projections_for("ss_t3") == {}

    for t in ("ss_t2", "ss_t3"):
        ch_statement(spark, f"DROP TABLE {t}")
        assert st.spec(t) is None and st.projections_for(t) == {}


def test_recreated_function_uses_new_body(spark):
    """CREATE/DROP FUNCTION invalidate the translate memo."""
    ch_statement(spark, "DROP FUNCTION IF EXISTS plus_k")
    ch_statement(spark, "CREATE FUNCTION plus_k AS (x) -> x + 1")
    try:
        assert ch_sql(spark, "SELECT plus_k(10) AS v").collect()[0].v == 11
        ch_statement(spark, "DROP FUNCTION plus_k")
        ch_statement(spark, "CREATE FUNCTION plus_k AS (x) -> x + 100")
        assert ch_sql(spark, "SELECT plus_k(10) AS v").collect()[0].v == 110
    finally:
        ch_statement(spark, "DROP FUNCTION IF EXISTS plus_k")


def test_no_session_id_keys_or_module_level_weak_containers():
    """Per-session facts live on the session (``engine_state``): nothing
    keys on the session's id(), and no module holds sessions in a weak
    container."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        for no, line in enumerate(text.splitlines(), 1):
            if "id(spark)" in line:
                offenders.append(f"{path.relative_to(PACKAGE)}:{no}")
        for node in ast.parse(text).body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and any(
                    w in ast.unparse(node)
                    for w in ("WeakSet", "WeakKeyDictionary")):
                offenders.append(f"{path.relative_to(PACKAGE)}:"
                                 f"{node.lineno}")
    assert offenders == []
