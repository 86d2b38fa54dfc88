"""Sketch-measure projection routing + HAVING (round-5 advice item 3).

Routed uniq/quantile read mergeable sketch states (plans/summary.py);
approximate by contract, so the gates here are tolerance and
differential, not hash equality. Upstream: AggregateFunctionUniq.h /
QuantileTDigest.h -State/-Merge algebra.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement
from clickhouse_clickhouse_spark.session import engine_state
from clickhouse_clickhouse_spark.tables import load_table


@pytest.fixture(scope="module")
def sketch_proj(spark, sf_dir):
    view = f"ev_sk_{uuid.uuid4().hex[:8]}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    ch_statement(spark, f"""
        ALTER TABLE {view} ADD PROJECTION p_sk
        (SELECT event_type, user_id, count() AS n, sum(value) AS sv,
                uniq(user_id) AS uu, quantile(0.5)(value) AS qv
         GROUP BY event_type, user_id)""")
    yield spark, view
    ch_statement(spark, f"ALTER TABLE {view} DROP PROJECTION p_sk")
    spark.catalog.dropTempView(view)


def test_routed_uniq_within_tolerance(sketch_proj):
    spark, view = sketch_proj
    routed = ch_sql(spark, f"""
        SELECT event_type, uniq(user_id) AS u
        FROM {view} GROUP BY event_type""")
    assert any("ch_proj" in f for f in routed.inputFiles())
    exact = {r.event_type: r.u for r in
             spark.table(view).groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("u")).collect()}
    for r in routed.collect():
        assert abs(r.u - exact[r.event_type]) <= \
            max(2, 0.05 * exact[r.event_type]), \
            f"{r.event_type}: routed {r.u} vs exact {exact[r.event_type]}"


def test_routed_quantile_readtime_p(sketch_proj):
    # projection stored quantile(0.5); querying 0.9 must still route and
    # land within rank tolerance of the exact p90
    spark, view = sketch_proj
    routed = ch_sql(spark, f"""
        SELECT event_type, quantile(0.9)(value) AS p90
        FROM {view} GROUP BY event_type""")
    assert any("ch_proj" in f for f in routed.inputFiles())
    lohi = {r.event_type: (r.lo, r.hi) for r in
            spark.table(view).groupBy("event_type").agg(
                F.percentile("value", F.lit(0.86)).alias("lo"),
                F.percentile("value", F.lit(0.94)).alias("hi")).collect()}
    for r in routed.collect():
        lo, hi = lohi[r.event_type]
        assert lo <= r.p90 <= hi, \
            f"{r.event_type}: p90 {r.p90} outside rank band [{lo}, {hi}]"


def test_having_routed_equals_direct(sketch_proj):
    spark, view = sketch_proj
    sql = (f"SELECT event_type, count() AS n, sum(value) AS sv "
           f"FROM {view} GROUP BY event_type HAVING n > 1000 AND sv > 0")
    routed = ch_sql(spark, sql)
    assert any("ch_proj" in f for f in routed.inputFiles())
    projections = engine_state(spark).projections
    saved = projections.pop(view.lower())
    try:
        direct = ch_sql(spark, sql)
        assert not any("ch_proj" in f for f in direct.inputFiles())
        a = sorted((r.event_type, r.n, round(r.sv, 6))
                   for r in routed.collect())
        b = sorted((r.event_type, r.n, round(r.sv, 6))
                   for r in direct.collect())
        assert a == b
    finally:
        projections[view.lower()] = saved


def test_having_on_nonalias_falls_back(sketch_proj):
    # HAVING referencing something that is not a select-list alias must
    # NOT route (the translated path handles it)
    spark, view = sketch_proj
    out = ch_sql(spark, f"""
        SELECT event_type, count() AS n FROM {view}
        GROUP BY event_type HAVING min(value) > 0""")
    assert not any("ch_proj" in f for f in out.inputFiles())
    assert out.count() > 0


def test_having_with_orderby_limit_routes(sketch_proj):
    spark, view = sketch_proj
    out = ch_sql(spark, f"""
        SELECT event_type, count() AS n FROM {view}
        GROUP BY event_type HAVING n > 10 ORDER BY n DESC LIMIT 3""")
    assert any("ch_proj" in f for f in out.inputFiles())
    ns = [r.n for r in out.collect()]
    assert ns == sorted(ns, reverse=True) and len(ns) <= 3


def test_routed_uniq_equals_unrouted(sketch_proj):
    """Round-6 advice: registering a projection must not CHANGE results.
    Translated uniq() and the routed HLL path now use the same
    Datasketches sketch over the same string-cast input, and the HLL
    union is lossless at fixed lgConfigK — so the estimates are EQUAL,
    not merely close."""
    spark, view = sketch_proj
    q = f"SELECT event_type, uniq(user_id) AS u FROM {view} " \
        "GROUP BY event_type"
    routed = ch_sql(spark, q)
    assert any("ch_proj" in f for f in routed.inputFiles())
    unrouted = ch_sql(spark, q.replace(view, f"(SELECT * FROM {view}) s"))
    assert not any("ch_proj" in f for f in unrouted.inputFiles())
    assert {(r.event_type, r.u) for r in routed.collect()} == \
        {(r.event_type, r.u) for r in unrouted.collect()}


def test_nonliteral_quantile_param_falls_through(sketch_proj):
    # quantile(1/2)(x) has a non-literal p: unroutable, but must fall
    # through to the translated path, not raise (round-6 advice)
    spark, view = sketch_proj
    df = ch_sql(spark, f"""
        SELECT event_type, quantile(1/2)(value) AS m
        FROM {view} GROUP BY event_type""")
    assert not any("ch_proj" in f for f in df.inputFiles())
    assert df.count() > 0
