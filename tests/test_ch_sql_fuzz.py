"""Dialect fuzz harness — the analog of the reference's query fuzzer
([U] src/Client/QueryFuzzer.cpp), round-5 verdict item 4.

Hypothesis generates dialect queries from a typed expression grammar
that renders BOTH the ClickHouse-dialect text and the ANSI equivalent
from the same tree. Properties:

1. ``translate`` accepts every generated query;
2. ``translate`` is idempotent on its own output;
3. Spark's ANALYZER accepts the translation (schema resolution only —
   no job, so the clause-form sweep can run hundreds of cases);
4. for the differential subset, executing the translation on the
   ``nation`` fixture equals DuckDB executing the paired ANSI text —
   independent ground truth, value-exact after int/round-6 coercion.

Value ranges are deliberately small (nation has 25 rows, keys ≤ 24,
literals ≤ 9, depth ≤ 3) so int32 overflow can't diverge the engines.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from clickhouse_clickhouse_spark.ch_sql import translate
from clickhouse_clickhouse_spark.tables import load_table

from conftest import SF_DIR, run_parallel

# ---------------------------------------------------------------- grammar
# node = (ch_text, ansi_text); both renderings come from one tree.

_NUM_BASE = st.sampled_from([
    ("n_nationkey", "n_nationkey"),
    ("n_regionkey", "n_regionkey"),
    ("3", "3"), ("7", "7"), ("0", "0"), ("9", "9"),
])

_STR_BASE = st.sampled_from([
    ("n_name", "n_name"),
    ("'abc'", "'abc'"),
])


def _num_ops(children):
    two = st.tuples(children, children)
    return st.one_of(
        two.map(lambda p: (f"plus({p[0][0]}, {p[1][0]})",
                           f"({p[0][1]} + {p[1][1]})")),
        two.map(lambda p: (f"minus({p[0][0]}, {p[1][0]})",
                           f"({p[0][1]} - {p[1][1]})")),
        two.map(lambda p: (f"multiply({p[0][0]}, {p[1][0]})",
                           f"({p[0][1]} * {p[1][1]})")),
        # divisor is a non-zero literal: truncating div/mod agree on
        # non-negative operands
        children.map(lambda a: (f"intDiv({a[0]}, 4)", f"({a[1]} // 4)")),
        children.map(lambda a: (f"modulo({a[0]}, 5)", f"({a[1]} % 5)")),
        two.map(lambda p: (f"abs(minus({p[0][0]}, {p[1][0]}))",
                           f"abs({p[0][1]} - {p[1][1]})")),
        two.map(lambda p: (f"greatest({p[0][0]}, {p[1][0]})",
                           f"greatest({p[0][1]}, {p[1][1]})")),
        two.map(lambda p: (f"least({p[0][0]}, {p[1][0]})",
                           f"least({p[0][1]}, {p[1][1]})")),
        # round-6 names: max2/min2 and the OrZero division guards
        two.map(lambda p: (f"max2({p[0][0]}, {p[1][0]})",
                           f"greatest({p[0][1]}, {p[1][1]})")),
        two.map(lambda p: (f"min2({p[0][0]}, {p[1][0]})",
                           f"least({p[0][1]}, {p[1][1]})")),
        children.map(lambda a: (f"moduloOrZero({a[0]}, 5)",
                                f"({a[1]} % 5)")),
        children.map(lambda a: (f"moduloOrZero({a[0]}, 0)", "0")),
        children.map(lambda a: (f"intDivOrZero({a[0]}, 4)",
                                f"({a[1]} // 4)")),
        children.map(lambda a: (f"intDivOrZero({a[0]}, 0)", "0")),
    )


_NUM = st.recursive(_NUM_BASE, _num_ops, max_leaves=6)


def _bool_expr(num):
    two = st.tuples(num, num)
    op = st.sampled_from([("<", "<"), ("<=", "<="), (">", ">"),
                          ("=", "="), ("!=", "<>")])
    cmp_ = st.tuples(two, op).map(
        lambda t: (f"({t[0][0][0]} {t[1][0]} {t[0][1][0]})",
                   f"({t[0][0][1]} {t[1][1]} {t[0][1][1]})"))
    return st.one_of(
        cmp_,
        st.tuples(cmp_, cmp_).map(
            lambda p: (f"({p[0][0]} AND {p[1][0]})",
                       f"({p[0][1]} AND {p[1][1]})")),
        st.tuples(cmp_, cmp_).map(
            lambda p: (f"({p[0][0]} OR {p[1][0]})",
                       f"({p[0][1]} OR {p[1][1]})")),
        cmp_.map(lambda c: (f"(NOT {c[0]})", f"(NOT {c[1]})")),
        # round-5 late-batch predicates with exact DuckDB twins
        st.just((
            "notLike(n_name, 'A%')", "(NOT (n_name LIKE 'A%'))")),
        st.just((
            "isIPv4String(concat('10.0.0.', toString(n_nationkey)))",
            "regexp_matches('10.0.0.' || CAST(n_nationkey AS VARCHAR), "
            "'^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}"
            "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$')")),
    )


_BOOL = _bool_expr(_NUM)

_STR = st.one_of(
    _STR_BASE,
    _STR_BASE.map(lambda s: (f"lower({s[0]})", f"lower({s[1]})")),
    _STR_BASE.map(lambda s: (f"upper({s[0]})", f"upper({s[1]})")),
    st.tuples(_STR_BASE, _STR_BASE).map(
        lambda p: (f"concat({p[0][0]}, {p[1][0]})",
                   f"concat({p[0][1]}, {p[1][1]})")),
    _STR_BASE.map(lambda s: (f"substring({s[0]}, 1, 3)",
                             f"substring({s[1]}, 1, 3)")),
    # round-5 late-batch names with exact DuckDB twins
    st.tuples(_STR_BASE, _STR_BASE).map(
        lambda p: (f"concatWithSeparator('-', {p[0][0]}, {p[1][0]})",
                   f"concat_ws('-', {p[0][1]}, {p[1][1]})")),
    _STR_BASE.map(lambda s: (
        f"encodeXMLComponent({s[0]})",
        f"replace(replace(replace(replace(replace({s[1]}, '&', '&amp;'),"
        f" '<', '&lt;'), '>', '&gt;'), '\"', '&quot;'),"
        f" '''', '&apos;')")),
    _STR_BASE.map(lambda s: (f"reverseUTF8({s[0]})", f"reverse({s[1]})")),
    _STR_BASE.map(lambda s: (f"leftUTF8({s[0]}, 2)",
                             f"substr({s[1]}, 1, 2)")),
    _STR_BASE.map(lambda s: (f"appendTrailingCharIfAbsent({s[0]}, '!')",
                             f"CASE WHEN {s[1]} LIKE '%!' THEN {s[1]} "
                             f"ELSE {s[1]} || '!' END")),
)

# conditionals mix bool + num through the CH-only spellings
_COND = st.one_of(
    st.tuples(_BOOL, _NUM, _NUM).map(
        lambda t: (f"if({t[0][0]}, {t[1][0]}, {t[2][0]})",
                   f"(CASE WHEN {t[0][1]} THEN {t[1][1]} "
                   f"ELSE {t[2][1]} END)")),
    st.tuples(_BOOL, _NUM, _BOOL, _NUM, _NUM).map(
        lambda t: (f"multiIf({t[0][0]}, {t[1][0]}, {t[2][0]}, {t[3][0]}, "
                   f"{t[4][0]})",
                   f"(CASE WHEN {t[0][1]} THEN {t[1][1]} "
                   f"WHEN {t[2][1]} THEN {t[3][1]} "
                   f"ELSE {t[4][1]} END)")),
)

_SCALAR = st.one_of(_NUM, _COND, _STR)


# ------------------------------------------------------------- fixtures

@pytest.fixture(scope="module")
def fuzz_env(spark):
    load_table(spark, SF_DIR, "nation").createOrReplaceTempView("nation")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/nation.parquet')")
    yield spark, con
    con.close()


def _normalize(rows):
    out = []
    for row in rows:
        vals = []
        for v in row:
            if v is None:
                vals.append(None)
            elif isinstance(v, bool):
                vals.append(int(v))
            elif isinstance(v, float):
                vals.append(None if math.isnan(v) else round(v, 6))
            elif isinstance(v, int):
                vals.append(int(v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


# ------------------------------------------------------------ properties

@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(exprs=st.lists(_SCALAR, min_size=1, max_size=4),
       pred=_BOOL,
       tail=st.sampled_from(["", " SETTINGS max_threads = 4",
                             " FORMAT JSONEachRow", " LIMIT 99"]),
       eq_form=st.booleans())
def test_fuzz_translate_idempotent_and_analyzable(fuzz_env, exprs, pred,
                                                  tail, eq_form):
    """Clause-form sweep: every generated query translates, translates
    idempotently, and ANALYZES in Spark (no execution)."""
    spark, _ = fuzz_env
    sel = ", ".join(f"{ch} AS c{i}" for i, (ch, _) in enumerate(exprs))
    where = pred[0].replace("=", "==", 1) if eq_form else pred[0]
    q = f"SELECT {sel} FROM nation WHERE {where}{tail}"
    once = translate(q)
    assert translate(once) == once, q
    spark.sql(once).schema  # analyzer acceptance, driver-only


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(exprs=st.lists(_SCALAR, min_size=1, max_size=3), pred=_BOOL)
def test_fuzz_projection_differential_vs_duckdb(fuzz_env, exprs, pred):
    """Differential execution: the translated projection over nation
    equals DuckDB running the paired ANSI rendering."""
    spark, con = fuzz_env
    ch_sel = ", ".join(f"{ch} AS c{i}" for i, (ch, _) in enumerate(exprs))
    an_sel = ", ".join(f"{an} AS c{i}" for i, (_, an) in enumerate(exprs))
    got = _normalize(spark.sql(translate(
        f"SELECT {ch_sel} FROM nation PREWHERE {pred[0]}")).collect())
    exp = _normalize(con.execute(
        f"SELECT {an_sel} FROM nation WHERE {pred[1]}").fetchall())
    assert got == exp


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(num=_NUM, pred=_BOOL, having=st.booleans())
def test_fuzz_aggregate_differential_vs_duckdb(fuzz_env, num, pred,
                                               having):
    """Differential aggregation: count()/countIf/sum/min/max per region
    agree with DuckDB on the paired ANSI text."""
    spark, con = fuzz_env
    hv_ch = " HAVING count() > 1" if having else ""
    hv_an = " HAVING count(*) > 1" if having else ""
    got = _normalize(spark.sql(translate(f"""
        SELECT n_regionkey AS g, count() AS c,
               countIf({pred[0]}) AS ci,
               sum({num[0]}) AS s, min({num[0]}) AS lo,
               max({num[0]}) AS hi
        FROM nation GROUP BY g{hv_ch}""")).collect())
    exp = _normalize(con.execute(f"""
        SELECT n_regionkey AS g, CAST(count(*) AS BIGINT) AS c,
               CAST(count(*) FILTER (WHERE {pred[1]}) AS BIGINT) AS ci,
               CAST(sum({num[1]}) AS BIGINT) AS s,
               CAST(min({num[1]}) AS BIGINT) AS lo,
               CAST(max({num[1]}) AS BIGINT) AS hi
        FROM nation GROUP BY g{hv_an}""").fetchall())
    assert got == exp


# ------------------------------------------- round-5 dialect constructs
#
# LIMIT n WITH TIES and ORDER BY ... WITH FILL are ch_sql()-level
# translations (DataFrame operators applied around the translated text),
# so they get their own differential properties: ties against a DuckDB
# RANK() oracle under every direction/null-placement combination, fill
# against a generate_series spine.

@pytest.fixture(scope="module")
def ties_env(spark):
    rows = [("a", 1, 3), ("b", 2, None), ("c", 2, 1), ("d", None, 2),
            ("e", 3, 2), ("f", 2, 1), ("g", None, None), ("h", 1, 3)]
    spark.createDataFrame(rows, "s string, k1 int, k2 int") \
        .createOrReplaceTempView("tiesfz")
    con = duckdb.connect()
    vals = ", ".join(
        "({}, {}, {})".format(
            f"'{s}'", "NULL" if a is None else a, "NULL" if b is None else b)
        for s, a, b in rows)
    con.execute(f"CREATE VIEW tiesfz AS SELECT * FROM (VALUES {vals}) "
                f"v(s, k1, k2)")
    yield spark, con
    con.close()


def test_fuzz_limit_with_ties_differential(ties_env):
    """Direction x null-placement x key-order x n sweep: the dialect
    LIMIT WITH TIES equals DuckDB's RANK() <= n with the reference's
    NULL-greatest defaults made explicit. Round 9 restructure: the
    single-key (dir, nulls) grid is EXHAUSTIVE (9 combos, n cycling)
    plus 12 seeded two-key combos — structurally the same coverage the
    old 60 random draws sampled — and all arms union into ONE Spark
    action and one DuckDB query (each arm plans its own broadcast
    boundary job, so arm count — not row count — is the wall-time
    driver; was 120 parallel actions, ~40 s of suite wall)."""
    import random
    from functools import reduce

    from pyspark.sql import functions as F

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark, con = ties_env
    rnd = random.Random(704)
    dirs_pool = ["", " ASC", " DESC"]
    nulls_pool = ["", " NULLS FIRST", " NULLS LAST"]
    cases = []
    n_cycle = 0
    for d in dirs_pool:                    # exhaustive single-key grid
        for nf in nulls_pool:
            n_cycle += 1
            cases.append((("k1", "k2"), 1, (d, ""), (nf, ""),
                          1 + n_cycle % 8))
    for _ in range(12):                    # seeded two-key sample
        keys = rnd.sample(["k1", "k2"], 2)
        cases.append((tuple(keys), 2,
                      (rnd.choice(dirs_pool), rnd.choice(dirs_pool)),
                      (rnd.choice(nulls_pool), rnd.choice(nulls_pool)),
                      rnd.randint(1, 8)))

    arms, dk_arms = [], []
    for cid, (keys, nkeys, dirs, nulls, n) in enumerate(cases):
        items_ch, items_dk = [], []
        for k, d, nf in list(zip(keys, dirs, nulls))[:nkeys]:
            items_ch.append(f"{k}{d}{nf}")
            if not nf:  # reference default: NULL sorts greatest
                nf = " NULLS FIRST" if d == " DESC" else " NULLS LAST"
            items_dk.append(f"{k}{d}{nf}")
        arm = ch_sql(
            spark, f"SELECT s, k1, k2 FROM tiesfz ORDER BY "
                   f"{', '.join(items_ch)} LIMIT {n} WITH TIES")
        arms.append(arm.select(F.lit(cid).alias("cid"),
                               "s", "k1", "k2"))
        dk_arms.append(
            f"SELECT {cid} AS cid, s, k1, k2 FROM (SELECT *, rank() "
            f"OVER (ORDER BY {', '.join(items_dk)}) AS rk FROM tiesfz)"
            f" t WHERE rk <= {n}")
    got, exp = {}, {}
    for r in reduce(lambda a, b: a.unionAll(b), arms).collect():
        got.setdefault(r.cid, []).append(tuple(r)[1:])
    for r in con.execute(" UNION ALL ".join(dk_arms)).fetchall():
        exp.setdefault(r[0], []).append(tuple(r)[1:])
    key = lambda t: tuple((v is None, v) for v in t)
    for cid, case in enumerate(cases):
        g = sorted(_normalize(got.get(cid, [])), key=key)
        e = sorted(_normalize(exp.get(cid, [])), key=key)
        assert g == e, (cid, case, g, e)


def test_fuzz_with_fill_differential(ties_env):
    """ORDER BY k WITH FILL FROM/TO/STEP through ch_sql equals the
    data-rows-plus-missing-spine-rows oracle for every bound/step mix
    (exhaustive 6x11x3 grid sampled to 30 seeded cases). Round 9: all
    30 arms union into ONE Spark action and one DuckDB query."""
    import random
    from functools import reduce

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    from pyspark.sql import functions as F

    spark, con = ties_env
    rnd = random.Random(705)
    cases = [(rnd.randint(0, 5), rnd.randint(6, 16), rnd.randint(1, 3))
             for _ in range(30)]

    arms, dk_arms = [], []
    for cid, (frm, to, step) in enumerate(cases):
        arm = ch_sql(spark, f"""
            SELECT k, c FROM (SELECT k1 AS k, count() AS c FROM tiesfz
                              WHERE k1 IS NOT NULL GROUP BY k)
            ORDER BY k WITH FILL FROM {frm} TO {to} STEP {step}""")
        arms.append(arm.select(F.lit(cid).alias("cid"), "k", "c"))
        dk_arms.append(f"""
            SELECT {cid} AS cid, k, c FROM (
              WITH d AS (SELECT k1 AS k, CAST(count(*) AS BIGINT) AS c
                         FROM tiesfz WHERE k1 IS NOT NULL GROUP BY k1)
              SELECT k, c FROM d
              UNION ALL
              SELECT g, NULL
              FROM (SELECT unnest(range({frm}, {to}, {step})) AS g)
              WHERE g NOT IN (SELECT k FROM d))""")
    got, exp = {}, {}
    for r in reduce(lambda a, b: a.unionAll(b), arms).collect():
        got.setdefault(r.cid, []).append(tuple(r)[1:])
    for r in con.execute(" UNION ALL ".join(dk_arms)).fetchall():
        exp.setdefault(r[0], []).append(tuple(r)[1:])
    key = lambda t: tuple((v is None, v) for v in t)
    for cid, case in enumerate(cases):
        g = sorted(_normalize(got.get(cid, [])), key=key)
        e = sorted(_normalize(exp.get(cid, [])), key=key)
        assert g == e, (cid, case, g, e)


# -------------------------------------------------- projection routing

@pytest.fixture(scope="module")
def proj_env(spark):
    """events view with a two-key projection registered for the whole
    module; torn down after."""
    from clickhouse_clickhouse_spark.ch_sql import ch_statement

    load_table(spark, SF_DIR, "events") \
        .createOrReplaceTempView("events_fz")
    ch_statement(spark, """
        ALTER TABLE events_fz ADD PROJECTION p_fz
        (SELECT event_type, user_id, count() AS n, sum(value) AS sv,
                min(value) AS mn, max(value) AS mx
         GROUP BY event_type, user_id)""")
    yield spark
    ch_statement(spark, "ALTER TABLE events_fz DROP PROJECTION p_fz")
    spark.catalog.dropTempView("events_fz")


_PROJ_AGGS = st.lists(
    st.sampled_from([("count() AS n", "n"),
                     ("sum(value) AS sv", "sv"),
                     ("min(value) AS mn", "mn"),
                     ("max(value) AS mx", "mx")]),
    min_size=1, max_size=4, unique=True)

_PROJ_KEYS = st.sampled_from([["event_type"], ["user_id"],
                              ["event_type", "user_id"]])

_PROJ_WHERE = st.sampled_from([
    None,
    "event_type = 'click'",
    "event_type IN ('view', 'purchase')",
    "user_id IN (1, 2, 3) AND event_type != 'error'",
])

# HAVING templates over the FIRST selected agg alias (always present) —
# round-6: HAVING over routed aggregates routes too
_PROJ_HAVING = st.sampled_from([
    None, "{a} > 0", "{a} >= 1 AND {a} < 1000000000", "{a} IS NOT NULL"])


def test_fuzz_projection_route_equals_direct(proj_env):
    """Every routable aggregation answered from the projection equals
    the same query with routing disabled (base-table plan). Round 11
    restructure (same sweep, two pooled phases): the 45-combo grid of
    (agg subset x key set) with WHERE/HAVING templates cycling covers
    MORE than the old 40 hypothesis draws; all routed DataFrames are
    built and collected with the projection registered, then the
    registration is popped ONCE and the direct twins run — the
    per-example register/pop toggle was the serializer."""
    import itertools

    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.session import engine_state

    spark = proj_env
    agg_pool = [("count() AS n", "n"), ("sum(value) AS sv", "sv"),
                ("min(value) AS mn", "mn"), ("max(value) AS mx", "mx")]
    agg_subsets = [list(c) for r in range(1, 5)
                   for c in itertools.combinations(agg_pool, r)]
    key_pool = [["event_type"], ["user_id"], ["event_type", "user_id"]]
    where_pool = [None, "event_type = 'click'",
                  "event_type IN ('view', 'purchase')",
                  "user_id IN (1, 2, 3) AND event_type != 'error'"]
    having_pool = [None, "{a} > 0",
                   "{a} >= 1 AND {a} < 1000000000", "{a} IS NOT NULL"]
    sqls = []
    for i, (aggs, keys) in enumerate(
            itertools.product(agg_subsets, key_pool)):
        cond, having = where_pool[i % 4], having_pool[(i // 4) % 4]
        sqls.append(
            "SELECT {keys}, {aggs} FROM events_fz{w} GROUP BY {keys}{h}"
            .format(keys=", ".join(keys),
                    aggs=", ".join(a for a, _ in aggs),
                    w=f" WHERE {cond}" if cond else "",
                    h=f" HAVING {having.format(a=aggs[0][1])}"
                      if having else ""))

    routed = {}
    for sql in sqls:                      # projection registered
        df = ch_sql(spark, sql)
        assert any("ch_proj" in f for f in df.inputFiles()), sql
        routed[sql] = df
    got = {}
    run_parallel(sqls, lambda s: got.__setitem__(
        s, _normalize([tuple(r) for r in routed[s].collect()])))

    projections = engine_state(spark).projections
    saved = projections.pop("events_fz")
    try:
        direct = {}
        for sql in sqls:
            df = ch_sql(spark, sql)
            assert not any("ch_proj" in f for f in df.inputFiles()), sql
            direct[sql] = df
        want = {}
        run_parallel(sqls, lambda s: want.__setitem__(
            s, _normalize([tuple(r) for r in direct[s].collect()])))
    finally:
        projections["events_fz"] = saved
    for sql in sqls:
        assert got[sql] == want[sql], sql


def test_fuzz_subscripts_vs_duckdb(spark):
    """Differential fuzz for the round-10 1-based subscript rewrite:
    DuckDB's list indexing is ALSO 1-based with NULL out-of-range, so
    random (array literal, index) pairs form an independent oracle.
    Seeded cases, ONE Spark action + one DuckDB query."""
    import random

    import duckdb

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    rnd = random.Random(1042)
    cases = []
    for cid in range(60):
        n = rnd.randint(1, 5)
        vals = [rnd.randint(-99, 99) for _ in range(n)]
        arr = "[" + ", ".join(map(str, vals)) + "]"
        kind = rnd.choice(["lit", "neg", "expr", "oob", "chain"])
        if kind == "lit":
            idx = str(rnd.randint(1, n))
        elif kind == "neg":
            idx = str(-rnd.randint(1, n))
        elif kind == "expr":
            k = rnd.randint(1, n)
            idx = f"({k - 1} + 1)"
        elif kind == "oob":
            idx = str(rnd.choice([n + 1, n + 7, -(n + 3)]))
        else:
            inner = "[" + arr + ", " + arr + "]"
            idx = f"{rnd.randint(1, 2)}][{rnd.randint(1, n)}"
            arr = inner
        cases.append(f"{arr}[{idx}]")
    sel_ch = ", ".join(f"{c} AS c{i}" for i, c in enumerate(cases))
    got = ch_sql(spark, f"SELECT {sel_ch}").collect()[0]
    want = duckdb.connect().execute(f"SELECT {sel_ch}").fetchone()
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, (cases[i], g, w)
