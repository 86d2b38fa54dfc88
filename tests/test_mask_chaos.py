"""Masking-layer chaos battery (round-13 verdict item 7).

The dialect translator's clause rewrites (QUALIFY, LIMIT n BY,
DISTINCT ON, ARRAY JOIN, set-op branch splitting, SQL-UDF expansion,
__CH_GMAX__ resolution) all navigate the query via string-masked regex
scans. Two incidents lived in that span machinery (the round-12
clobbered-def and the UDF macro-capture) — this battery round-trips
translation over queries whose STRING LITERALS spell every clause
keyword the scanners look for, and asserts both that the literals
survive byte-identical and that row selection is computed from the
REAL clauses, not the decoys.
"""

import pytest

# literals that spell the exact keywords the masked scanners search for
DECOYS = [
    "ORDER BY v DESC",
    "LIMIT 3 BY k",
    "LIMIT 1 OFFSET 2 BY k",
    "SELECT DISTINCT ON (k) v",
    "QUALIFY rn = 1",
    "ARRAY JOIN arr AS x",
    "LEFT ARRAY JOIN a, b",
    "UNION ALL SELECT 1",
    "INTERSECT DISTINCT",
    "EXCEPT (SELECT k)",
    "* EXCEPT(v)",
    "GROUP BY ROLLUP(k)",
    "x -> x + 1",
    "(x, y) -> concat(x, y)",
    "__CH_GMAX__(t)",
    "FROM t FINAL SAMPLE 0.5",
    "WITH FILL INTERPOLATE (v AS 1)",
    "WHERE (((",
    ")) HAVING ((",
    "O''Reilly ORDER BY",          # embedded escaped quote
    "back\\\\slash LIMIT 2 BY",
    "it\\'s ORDER BY",              # backslash-escaped quote
    "x\\' LIMIT 3 BY k",
]


@pytest.fixture(scope="module")
def chaos_view(spark):
    spark.sql(
        "SELECT * FROM VALUES "
        "(1, 'a', ARRAY(10, 11)), (1, 'b', ARRAY(20)), "
        "(2, 'c', ARRAY(30, 31, 32)), (2, 'd', ARRAY()), "
        "(3, 'e', ARRAY(40)) AS t(k, v, arr)"
    ).createOrReplaceTempView("chaos_t")
    return "chaos_t"


def _lit(s: str) -> str:
    return "'" + s + "'"


def _value(s: str) -> str:
    """The string a decoy literal evaluates to."""
    return s.replace("''", "'").replace("\\\\", "\\").replace("\\'", "'")


def test_decoy_literals_survive_translation():
    """translate() must leave every decoy literal byte-identical and
    stay idempotent over it."""
    from clickhouse_clickhouse_spark.ch_sql import translate

    for d in DECOYS:
        q = f"SELECT {_lit(d)} AS a, k FROM t ORDER BY k"
        out = translate(q)
        assert _lit(d) in out, f"literal mangled: {d!r}\n{out}"
        assert translate(out) == out, f"not idempotent: {d!r}"


def test_decoys_with_real_limit_by(spark, chaos_view):
    """A real LIMIT 1 BY k next to decoy literals: the wrap must key on
    the REAL clause; the decoy column comes through verbatim."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    for d in DECOYS:
        rows = ch_sql(spark, f"""
            SELECT k, v, {_lit(d)} AS decoy FROM {chaos_view}
            ORDER BY v LIMIT 1 BY k""").collect()
        assert sorted((r.k, r.v) for r in rows) == \
            [(1, "a"), (2, "c"), (3, "e")], d
        assert all(r.decoy == _value(d) for r in rows), d


def test_decoys_with_real_qualify(spark, chaos_view):
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    for d in DECOYS[:12]:
        rows = ch_sql(spark, f"""
            SELECT k, v, {_lit(d)} AS decoy,
                   row_number() OVER (PARTITION BY k ORDER BY v) rn
            FROM {chaos_view} QUALIFY rn = 1""").collect()
        assert sorted((r.k, r.v) for r in rows) == \
            [(1, "a"), (2, "c"), (3, "e")], d


def test_decoys_with_real_array_join(spark, chaos_view):
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    for d in DECOYS[:12]:
        rows = ch_sql(spark, f"""
            SELECT k, {_lit(d)} AS decoy, x
            FROM {chaos_view} ARRAY JOIN arr AS x
            WHERE k <= 2""").collect()
        assert sorted(r.x for r in rows) == [10, 11, 20, 30, 31, 32], d


def test_decoys_with_real_union_branches(spark, chaos_view):
    """Decoy literal in branch 1, real LIMIT BY in branch 2 — the
    branch-boundary scan must not anchor on the literal."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    for d in DECOYS[:12]:
        rows = ch_sql(spark, f"""
            SELECT k, {_lit(d)} AS a FROM {chaos_view} WHERE k = 3
            UNION ALL
            SELECT k, v AS a FROM {chaos_view}
            WHERE k < 3 ORDER BY a LIMIT 1 BY k""").collect()
        ks = sorted(r.k for r in rows)
        assert ks == [1, 2, 3], (d, ks)


def test_decoys_inside_sql_udf_arguments(spark, chaos_view):
    """CREATE FUNCTION expansion: a decoy-literal ARGUMENT must splice
    verbatim (no regex-template interpretation, no param capture)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    ch_statement(spark, "DROP FUNCTION IF EXISTS chaos_tag13")
    ch_statement(spark, "CREATE FUNCTION chaos_tag13 AS "
                        "(x, y) -> CONCAT(x, '|', y)")
    try:
        for d in DECOYS:
            row = ch_sql(spark, f"""
                SELECT chaos_tag13({_lit(d)}, v) AS tagged
                FROM {chaos_view} WHERE k = 3""").collect()[0]
            assert row.tagged == _value(d) + "|e", d
    finally:
        ch_statement(spark, "DROP FUNCTION chaos_tag13")


def test_decoy_as_ema_adjacent_literal(spark, chaos_view):
    """__CH_GMAX__ inside a string literal must NOT be resolved as a
    marker; a real EMA next to it still anchors correctly."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    rows = ch_sql(spark, """
        SELECT k, '__CH_GMAX__(t)' AS decoy,
               exponentialMovingAverage(30)(CAST(x AS Float64),
                                            CAST(x AS Float64)) AS ema
        FROM chaos_t ARRAY JOIN arr AS x
        GROUP BY k ORDER BY k""").collect()
    assert [r.decoy for r in rows] == ["__CH_GMAX__(t)"] * 3
    assert rows[2].ema == 40.0  # single-point group: ema == value


# Tokens that hide a quote character: each must stay opaque, or the
# quote inside reads as the start of a literal and every clause after
# it goes untranslated.
OPAQUE_LEADS = [
    "'it\\'s' AS s, ",
    "-- don't\n",
    "/* it's */ ",
    "\"it's\" AS s, ",
    "v AS `it's`, ",
]


@pytest.mark.parametrize("lead", OPAQUE_LEADS)
@pytest.mark.parametrize("tail,want", [
    ("arr[1] AS r FROM chaos_t WHERE v = 'c'", [30]),
    ("lengthUTF8(v) + arr[1] AS r FROM chaos_t WHERE k = 3", [41]),
    ("toStartOfMonth(DATE '2024-05-17') AS r FROM chaos_t WHERE k = 3 "
     "LIMIT 0, 5", ["2024-05-01 00:00:00"]),
    ("k AS r FROM chaos_t ORDER BY k LIMIT 0, 1", [1]),
    ("k AS r FROM chaos_t ORDER BY v LIMIT 1 BY k", [1, 2, 3]),
    ("k AS r FROM chaos_t PREWHERE k = 2 WHERE v = 'c'", [2]),
    ("k AS r FROM chaos_t WHERE k = 3 SETTINGS max_threads = 1", [3]),
])
def test_rewrites_after_opaque_token(spark, chaos_view, lead, tail, want):
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    rows = ch_sql(spark, f"SELECT {lead}{tail}").collect()
    assert sorted(str(r.r) for r in rows) == [str(w) for w in want]


def test_string_param_with_quote_keeps_subscripts(spark, chaos_view):
    """substitute_params renders it's as 'it\\'s'; the rest of the
    query must still translate."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    row = ch_sql(spark, f"""
        SELECT {{v:String}} AS v, arr[1] AS e
        FROM {chaos_view} WHERE v = 'c'""", params={"v": "it's"}).collect()[0]
    assert (row.v, row.e) == ("it's", 30)


def test_literal_next_to_escaped_quote_is_untouched():
    from clickhouse_clickhouse_spark.ch_sql import translate

    out = translate("SELECT 'a\\'b' AS s, 'version 1.5' AS v, 1.5 AS f")
    assert "'a\\'b'" in out and "'version 1.5'" in out, out
    assert "1.5D AS f" in out, out
