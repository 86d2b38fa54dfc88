"""Round-14 ADVICE + self-review fix pins.

ADVICE r13 fixes live where their batteries are (NULL-skip stats →
test_grouped_window_stats, gmax aliases → test_gmax_chaos); this file
pins the registry/tables fixes and the round-14 self-review findings
on the new maxIntersections / IPv6 / categorical-IV code."""

import math

import pytest
from pyspark.sql import functions as F


def test_registry_stable_order_optout(monkeypatch):
    from clickhouse_clickhouse_spark import registry

    monkeypatch.setenv("CH_SPARK_REGISTRY_ORDER", "stable")
    stable = list(registry.all_queries())
    monkeypatch.delenv("CH_SPARK_REGISTRY_ORDER")
    explicit = list(registry.all_queries(order="stable"))
    assert stable == explicit
    # salt caches per process and never throws on a readable repo
    assert registry._round_salt() == registry._round_salt()


def test_ship_package_once_per_session(spark, monkeypatch):
    """The package ships once per session: a new session is shipped
    (nothing carries over from another session), a second call is not."""
    from clickhouse_clickhouse_spark.session import engine_state
    from clickhouse_clickhouse_spark.tables import ensure_engine_confs

    shipped = []
    monkeypatch.setattr(spark.sparkContext, "addPyFile", shipped.append)
    s = spark.newSession()
    assert not engine_state(s).shipped
    ensure_engine_confs(s)
    ensure_engine_confs(s)
    assert engine_state(s).shipped and len(shipped) == 1


@pytest.fixture(scope="module")
def r14_views(spark):
    spark.sql("""SELECT * FROM VALUES
        (1, 1.0, 5.0), (1, 2.0, 3.0),
        (3, CAST(NULL AS DOUBLE), 1.0), (3, 2.0, CAST(NULL AS DOUBLE))
        AS t(g, s, e)""").createOrReplaceTempView("r14_iv")
    return None


def test_mxi_all_null_group_survives(spark, r14_views):
    """Review finding 1: a group whose every interval has a NULL
    endpoint emits no twin row — the LEFT join + COALESCE must keep
    the group with mi=0 (upstream's empty-fold seed) and every other
    select column intact."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    out = {r.g: (r.mi, r.mip, r.c) for r in ch_sql(spark, """
        SELECT g, maxIntersections(s, e) AS mi,
               maxIntersectionsPosition(s, e) AS mip, COUNT(*) AS c
        FROM r14_iv GROUP BY g""").collect()}
    assert out[3] == (0, None, 2)
    assert out[1] == (2, 2.0, 2)


def test_mxi_rollup_and_fromless_fallback(spark, r14_views):
    """Review finding 5: grouping forms with no single partition
    (ROLLUP/positional) and FROM-less constants fall back to the
    bounded collect fold instead of refusing (round-13 behavior)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    rows = {(-1 if r.g is None else r.g): r.mi for r in ch_sql(
        spark, "SELECT g, maxIntersections(s, e) AS mi FROM r14_iv "
               "GROUP BY ROLLUP(g)").collect()}
    assert rows == {-1: 2, 1: 2, 3: 0}
    one = ch_sql(spark, "SELECT maxIntersections(x, y) AS mi "
                        "FROM (SELECT 1.0D x, 2.0D y)").collect()
    assert one[0].mi == 1


def test_mxi_lateral_source_and_join_guard(spark, r14_views):
    """Review finding 6: LATERAL VIEW sources wrap (a JOIN can't
    follow LATERAL VIEW in Spark's grammar, and the lateral alias must
    not be adopted as the twin alias); JOIN sources with qualified
    refs refuse with guidance instead of a raw AnalysisException."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.sql("SELECT 1 g, array(1.0D, 2.0D) arr, 1.0D s, 3.0D e "
              "UNION ALL SELECT 2, array(3.0D), 0.0D, 1.0D"
              ).createOrReplaceTempView("r14_lat")
    out = {r.g: r.mi for r in ch_sql(spark, """
        SELECT g, maxIntersections(s, e) AS mi
        FROM r14_lat LATERAL VIEW EXPLODE(arr) ex AS x
        GROUP BY g""").collect()}
    assert out == {1: 2, 2: 1}

    spark.sql("SELECT 1 AS g, 'a' AS nm").createOrReplaceTempView(
        "r14_dim")
    with pytest.raises(ValueError, match="de-qualify"):
        ch_sql(spark, """
            SELECT nm, maxIntersections(r14_iv.s, r14_iv.e) AS mi
            FROM r14_iv JOIN r14_dim ON r14_iv.g = r14_dim.g
            GROUP BY nm""")


def test_ip_in_range_family_semantics(spark):
    """Review findings 2+7: mixed address families return FALSE like
    upstream (not NULL), genuine NULLs stay NULL, and a v4 string-
    LITERAL cidr compiles to a pure-JVM plan (no python UDF eval
    forced onto every row)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """SELECT
        isIPAddressInRange('10.0.0.1', '2001:db8::/32') AS m1,
        isIPAddressInRange('2001:db8::1', '10.0.0.0/8') AS m2,
        isIPAddressInRange(CAST(NULL AS STRING), '10.0.0.0/8') AS n1,
        isIPAddressInRange('10.1.2.3', '10.0.0.0/8') AS v4t,
        isIPAddressInRange('11.1.2.3', '10.0.0.0/8') AS v4f,
        isIPAddressInRange('2001:db8::1', '2001:db8::/32') AS v6t
        """).collect()[0]
    assert (r.m1, r.m2, r.n1, r.v4t, r.v4f, r.v6t) == \
        (False, False, None, True, False, True)

    # column cidr: per-row family dispatch
    spark.sql("""SELECT * FROM VALUES
        ('10.1.2.3', '10.0.0.0/8'), ('2001:db8::1', '2001:db8::/32'),
        ('10.1.2.3', '2001:db8::/32')
        AS t(a, c)""").createOrReplaceTempView("r14_ip")
    got = {r.a + "|" + r.c: r.r for r in ch_sql(
        spark, "SELECT a, c, isIPAddressInRange(a, c) AS r "
               "FROM r14_ip").collect()}
    assert got == {"10.1.2.3|10.0.0.0/8": True,
                   "2001:db8::1|2001:db8::/32": True,
                   "10.1.2.3|2001:db8::/32": False}

    df = ch_sql(spark, "SELECT isIPAddressInRange(a, '10.0.0.0/8') "
                       "AS r FROM r14_ip")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_categorical_iv_zero_side_category(spark):
    """Review finding 3: a category with zero tag-0 or tag-1 events
    must yield +inf (upstream's unsmoothed formula — perfect
    separation), not a silently finite IV (ANSI-off LN(0) is NULL and
    would drop the term)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.sql("""SELECT * FROM VALUES
        (0, 'a', 1), (0, 'a', 0), (0, 'b', 1), (0, 'b', 1), (0, 'c', 0)
        AS t(g, c, tag)""").createOrReplaceTempView("r14_civ")
    iv = ch_sql(spark, "SELECT categoricalInformationValue(c, tag) "
                       "AS iv FROM r14_civ").collect()[0].iv[0]
    assert math.isinf(iv) and iv > 0


def test_mxi_fold_fallback_skips_null_intervals(spark):
    """Second-review finding: the ROLLUP/positional fold fallback must
    skip NULL-endpoint intervals exactly like the distributed default
    (an ungated NULL start event sorted first and stayed open for the
    whole sweep)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.sql("""SELECT * FROM VALUES
        (1, CAST(NULL AS DOUBLE), 5.0), (1, 1.0, 10.0)
        AS t(g, s, e)""").createOrReplaceTempView("r14_nulliv")
    grouped = {r.g: r.mi for r in ch_sql(
        spark, "SELECT g, maxIntersections(s, e) AS mi "
               "FROM r14_nulliv GROUP BY g").collect()}
    rolled = {(-1 if r.g is None else r.g): r.mi for r in ch_sql(
        spark, "SELECT g, maxIntersections(s, e) AS mi "
               "FROM r14_nulliv GROUP BY ROLLUP(g)").collect()}
    assert grouped == {1: 1}
    assert rolled == {-1: 1, 1: 1}


def test_ip_v6_literal_cidr_with_v4_rows(spark):
    """Second-review finding: the v6-literal branch must null-gate the
    UDF input — Spark batch-extracts the python UDF out of the CASE,
    so ungated v4 rows crashed inet_pton."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.sql("SELECT * FROM VALUES ('10.1.2.3'), ('2001:db8::1') "
              "AS t(a)").createOrReplaceTempView("r14_mixed_ip")
    got = {r.a: r.r for r in ch_sql(
        spark, "SELECT a, isIPAddressInRange(a, '2001:db8::/32') AS r "
               "FROM r14_mixed_ip").collect()}
    assert got == {"10.1.2.3": False, "2001:db8::1": True}


def test_categorical_iv_zero_total_is_nan(spark):
    """Second-review finding: Spark's ANSI-off x/0 is NULL (not IEEE
    NaN), so an all-one-tag group silently returned NULL IV — the
    template must produce NaN like upstream's unsmoothed formula."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.sql("SELECT * FROM VALUES ('a', 1), ('a', 1), ('b', 1) "
              "AS t(c, tag)").createOrReplaceTempView("r14_civ_zero")
    iv = ch_sql(spark, "SELECT categoricalInformationValue(c, tag) "
                       "AS iv FROM r14_civ_zero").collect()[0].iv[0]
    assert iv is not None and math.isnan(iv)


def test_cb_json_fixture_contract(spark, sf_dir):
    """Second-review finding (latent): the typed from_json extraction
    equals get_json_object ONLY while the fixture encodes k as a bare
    JSON number — pin that contract so a fixture change can't silently
    diverge the three cb queries from their oracles."""
    from pyspark.sql import functions as F

    from clickhouse_clickhouse_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    diff = ev.filter(
        ~F.from_json("props", "k int")["k"].eqNullSafe(
            F.get_json_object("props", "$.k").cast("int"))).count()
    assert diff == 0
