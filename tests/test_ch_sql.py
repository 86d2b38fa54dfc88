"""ClickHouse-dialect SQL front end (ch_sql.py): each supported construct
translated and executed, results checked against the equivalent Spark
SQL / DataFrame computation on the same fixture views."""

import pytest
from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate
from clickhouse_clickhouse_spark.tables import load_table


@pytest.fixture
def views(spark, sf_dir):
    for t in ("orders", "lineitem", "events", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark


def test_function_name_rewrites(views):
    out = ch_sql(views, """
        SELECT toStartOfMonth(o_orderdate) AS m,
               uniqExact(o_custkey) AS u,
               countIf(o_totalprice > 1000) AS big,
               argMax(o_orderkey, o_totalprice) AS top_order,
               median(o_totalprice) AS med
        FROM orders GROUP BY m ORDER BY m LIMIT 3""").collect()
    want = views.sql("""
        SELECT DATE_TRUNC('month', o_orderdate) AS m,
               COUNT(DISTINCT o_custkey) AS u,
               COUNT_IF(o_totalprice > 1000) AS big,
               MAX_BY(o_orderkey, o_totalprice) AS top_order,
               PERCENTILE(o_totalprice, 0.5) AS med
        FROM orders GROUP BY m ORDER BY m LIMIT 3""").collect()
    assert out == want


def test_nested_calls_and_multiif(views):
    out = ch_sql(views, """
        SELECT multiIf(toYear(o_orderdate) = 1995, 'a',
                       toYear(o_orderdate) = 1996, 'b', 'z') AS tag,
               count() AS n
        FROM orders GROUP BY tag ORDER BY tag""").collect()
    want = views.sql("""
        SELECT CASE WHEN YEAR(o_orderdate) = 1995 THEN 'a'
                    WHEN YEAR(o_orderdate) = 1996 THEN 'b'
                    ELSE 'z' END AS tag, COUNT(*) AS n
        FROM orders GROUP BY tag ORDER BY tag""").collect()
    assert out == want


def test_prewhere_merges_into_where(views):
    out = ch_sql(views, """
        SELECT count() AS n FROM lineitem
        PREWHERE l_quantity > 10 WHERE l_discount < 0.05""").collect()
    want = views.sql("""
        SELECT COUNT(*) AS n FROM lineitem
        WHERE l_quantity > 10 AND l_discount < 0.05""").collect()
    assert out == want


def test_parametric_quantile(views):
    out = ch_sql(views, "SELECT quantileExact(0.9)(o_totalprice) AS p90 "
                        "FROM orders").collect()
    want = views.sql("SELECT PERCENTILE(o_totalprice, 0.9) AS p90 "
                     "FROM orders").collect()
    assert out == want


def test_limit_by(views):
    out = ch_sql(views, """
        SELECT o_orderstatus, o_orderkey FROM orders
        ORDER BY o_orderstatus, o_orderkey
        LIMIT 2 BY o_orderstatus""").collect()
    want = views.sql("""
        SELECT o_orderstatus, o_orderkey FROM (
          SELECT o_orderstatus, o_orderkey,
                 ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                    ORDER BY o_orderstatus, o_orderkey) rn
          FROM orders) WHERE rn <= 2""").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, want))


def test_final_dedup_on_read(views, spark):
    spark.createDataFrame(
        [(1, 1, "old"), (1, 2, "new"), (2, 1, "only")],
        "k int, ver int, v string").createOrReplaceTempView("versions")
    out = {r.k: r.v for r in ch_sql(
        spark, "SELECT k, v FROM versions FINAL ORDER BY k",
        final_keys={"versions": (["k"], "ver")}).collect()}
    assert out == {1: "new", 2: "only"}
    with pytest.raises(ValueError):
        translate("SELECT * FROM versions FINAL")


def test_settings_format_global_stripped(views):
    out = ch_sql(views, """
        SELECT n_name FROM nation
        WHERE n_nationkey GLOBAL IN (SELECT 1)
        ORDER BY n_name
        SETTINGS max_threads = 8""").collect()
    assert [r.n_name for r in out] == ["NATION_1"]


def test_registered_parity_hashes(views):
    from clickhouse_clickhouse_spark.functions.hashing import (
        cityhash64_py, siphash64_py,
    )

    r = ch_sql(views, "SELECT sipHash64(n_name) AS s, cityHash64(n_name) "
                      "AS c FROM nation WHERE n_nationkey = 0").collect()[0]

    def sgn(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    assert r.s == sgn(siphash64_py(b"NATION_0"))
    assert r.c == sgn(cityhash64_py(b"NATION_0"))


def test_sample_translates(views):
    n_all = views.sql("SELECT COUNT(*) n FROM lineitem").collect()[0].n
    out = ch_sql(views, "SELECT count() AS n FROM lineitem SAMPLE 0.1") \
        .collect()[0].n
    assert 0 < out < n_all


def test_arrayjoin_explode(views):
    out = ch_sql(views, "SELECT arrayJoin(splitByChar('_', n_name)) AS t "
                        "FROM nation WHERE n_nationkey = 3").collect()
    assert [r.t for r in out] == ["NATION", "3"]


def test_strictness_joins_refused_with_pointer(views):
    with pytest.raises(ValueError, match="asof_join"):
        translate("SELECT * FROM a ASOF LEFT JOIN b ON a.k = b.k")
    with pytest.raises(ValueError, match="any_join"):
        translate("SELECT * FROM a ANY JOIN b USING k")


def test_array_join_clause(views):
    out = ch_sql(views, """
        SELECT n, x
        FROM (SELECT n_nationkey AS n,
                     arrayMap(v -> v * 10, array(n_nationkey, n_nationkey + 1))
                       AS xs
              FROM nation WHERE n_nationkey < 2)
        ARRAY JOIN xs AS x ORDER BY n, x""").collect()
    assert [(r.n, r.x) for r in out] == [(0, 0), (0, 10), (1, 10), (1, 20)]

    # LEFT ARRAY JOIN keeps empty-array rows (null element)
    out = ch_sql(views, """
        SELECT n, x
        FROM (SELECT n_nationkey AS n,
                     arrayFilter(v -> v > 100, array(n_nationkey)) AS xs
              FROM nation WHERE n_nationkey < 2)
        LEFT ARRAY JOIN xs AS x ORDER BY n""").collect()
    assert [(r.n, r.x) for r in out] == [(0, None), (1, None)]


def test_array_join_zip_and_bare_forms(views):
    """Round-5: the multi-array zip form and the bare-name form TRANSLATE
    (positional zip via arrays_zip + named_struct; bare names substituted
    with the element) instead of refusing."""
    out = ch_sql(views, """
        SELECT n, x, y
        FROM (SELECT n_nationkey AS n, array(1, 2) AS xs,
                     array(10, 20) AS ys
              FROM nation WHERE n_nationkey < 2)
        ARRAY JOIN xs AS x, ys AS y ORDER BY n, x""").collect()
    assert [(r.n, r.x, r.y) for r in out] == \
        [(0, 1, 10), (0, 2, 20), (1, 1, 10), (1, 2, 20)]
    # bare name: the array name refers to its elements, output column
    # keeps the name
    out = ch_sql(views, """
        SELECT n, xs
        FROM (SELECT n_nationkey AS n, array(8, 7) AS xs
              FROM nation WHERE n_nationkey < 1)
        ARRAY JOIN xs ORDER BY xs""").collect()
    assert [(r.n, r.xs) for r in out] == [(0, 7), (0, 8)]
    # complex expressions in the multi form still refuse loudly
    with pytest.raises(ValueError, match="plain column names"):
        translate("SELECT a, b FROM t "
                  "ARRAY JOIN arrayMap(v -> v, xs) AS a, ys AS b")
    # translate() alone still refuses WITH FILL (ch_sql handles it)
    with pytest.raises(ValueError, match="with_fill_bounds"):
        translate("SELECT d FROM t ORDER BY d WITH FILL")


def test_with_fill_dialect(views):
    """Round-5: ORDER BY ... WITH FILL runs through ch_sql — spine rows
    appear with NULLs, data rows off the grid are kept, TO is
    exclusive."""
    out = ch_sql(views, """
        SELECT n_nationkey AS k, count() AS c FROM nation
        WHERE n_nationkey IN (1, 4) GROUP BY k
        ORDER BY k WITH FILL FROM 0 TO 6 STEP 2""").collect()
    assert [(r.k, r.c) for r in out] == \
        [(0, None), (1, 1), (2, None), (4, 1)]


def test_week_and_bucket_functions(views):
    # 1995-06-15 was a Thursday -> Sunday start = 1995-06-11
    r = ch_sql(views, """
        SELECT toStartOfWeek(DATE '1995-06-15') AS w0,
               toStartOfFifteenMinutes(TIMESTAMP '1995-06-15 13:47:21') AS q,
               toDayOfYear(DATE '1995-06-15') AS doy
        FROM nation WHERE n_nationkey = 0""").collect()[0]
    assert str(r.w0) == "1995-06-11"
    assert str(r.q) == "1995-06-15 13:45:00"
    assert r.doy == 166


def test_limit_offset_comma_form(views):
    out = ch_sql(views, """
        SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 2, 3""")
    assert [r.n_nationkey for r in out.collect()] == [2, 3, 4]


def test_sample_rows_form(views):
    out = ch_sql(views, "SELECT count() AS n FROM lineitem SAMPLE 37") \
        .collect()[0].n
    assert out == 37


def test_scalar_with_constants(views):
    # CH scalar WITH (expression first), mixed with a real CTE
    out = ch_sql(views, """
        WITH 2 AS two,
             big AS (SELECT n_nationkey FROM nation WHERE n_nationkey >= two)
        SELECT count() AS n, min(n_nationkey) + two AS lo_plus
        FROM big""").collect()[0]
    assert out.lo_plus == 4          # min is 2, + two
    # the name must NOT be replaced inside string literals
    r = ch_sql(views, "WITH 9 AS k SELECT 'k' AS s, k AS v FROM nation "
                      "WHERE n_nationkey = 0").collect()[0]
    assert r.s == "k" and r.v == 9


def test_round2c_sql_renames(views):
    r = ch_sql(views, """
        SELECT splitByString('__', 'a__b__c') AS parts,
               arrayReverse(range(3)) AS rev,
               arrayPopBack(range(3)) AS popped,
               range(0) AS empty,
               toString(toLastDayOfMonth(DATE '1995-06-15')) AS eom,
               monthName(DATE '1995-06-15') AS mn,
               toString(addHours(TIMESTAMP '1995-06-15 10:00:00', 3)) AS t3,
               initcap('hello world') AS ic,
               countMatches('banana', 'an') AS cm,
               isFinite(1.0) AS fin
        FROM nation WHERE n_nationkey = 0""").collect()[0]
    assert r.parts == ["a", "b", "c"]
    assert r.rev == [2, 1, 0] and r.popped == [0, 1] and r.empty == []
    assert r.eom == "1995-06-30" and r.mn == "June"
    assert r.t3 == "1995-06-15 13:00:00"
    assert r.ic == "Hello World" and r.cm == 2 and r.fin is True


def test_parametric_uniq_precision(views):
    n = views.sql("SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem") \
        .collect()[0].n
    est = ch_sql(views, "SELECT uniqCombined(14)(l_orderkey) AS u "
                        "FROM lineitem").collect()[0].u
    assert abs(est - n) / n < 0.05


def test_explain_passthrough(views):
    plan = ch_sql(views, "EXPLAIN SELECT count() FROM lineitem "
                         "PREWHERE l_quantity < 10").collect()[0][0]
    assert "HashAggregate" in plan


def test_translate_leaves_plain_ansi_unchanged():
    """The translator must be a no-op on text with no dialect constructs
    — guards every clause regex against overreach."""
    samples = [
        "SELECT a, sum(b) AS s FROM t WHERE c > 1 GROUP BY a HAVING "
        "sum(b) > 2 ORDER BY s DESC LIMIT 10",
        "SELECT * FROM t1 JOIN t2 ON t1.k = t2.k LEFT JOIN t3 USING (k)",
        "WITH cte AS (SELECT 1 AS x) SELECT x FROM cte",
        "SELECT CASE WHEN a = 'WITH FILL text' THEN 1 ELSE 2 END FROM t",
        "SELECT a FROM t WHERE s = 'SAMPLE 0.5' OR s = 'LIMIT 1, 2'",
    ]
    # the call scanner re-emits `name (` as `name(` — cosmetic only
    import re as _re

    def norm(x):
        return _re.sub(r"\s+\(", "(", x)
    for q in samples:
        assert norm(translate(q)) == norm(q), q


def test_group_array_sorted_parametric(views):
    r = ch_sql(views, "SELECT groupArraySorted(3)(n_nationkey) AS a, "
                      "medianExact(n_nationkey) AS m FROM nation") \
        .collect()[0]
    exp_m = views.sql(
        "SELECT percentile(n_nationkey, 0.5) AS m FROM nation").first().m
    assert r.a == [0, 1, 2] and r.m == exp_m


def test_uniq_up_to_parametric(views):
    r = ch_sql(views, "SELECT uniqUpTo(3)(n_nationkey) AS capped, "
                      "uniqUpTo(100)(n_regionkey) AS exact FROM nation") \
        .collect()[0]
    assert r.capped == 4          # > 3 distinct -> N+1
    assert r.exact == 5           # 5 regions, under the cap


def test_vector_distance_sql_names(views):
    r = ch_sql(views, """
        SELECT dotProduct(array(1.0, 2.0), array(3.0, 4.0)) AS dp,
               L2Distance(array(0.0, 0.0), array(3.0, 4.0)) AS l2,
               L2Norm(array(3.0, 4.0)) AS nrm,
               round(cosineDistance(array(1.0, 0.0), array(0.0, 1.0)), 6)
                 AS cd,
               visitParamHas('{"k": 1}', 'k') AS h1,
               visitParamHas('{"k": 1}', 'z') AS h0
        FROM nation WHERE n_nationkey = 0""").collect()[0]
    assert r.dp == 11.0 and r.l2 == 5.0 and r.nrm == 5.0
    assert r.cd == 1.0 and r.h1 is True and r.h0 is False


def test_if_combinator_sql_forms(views):
    r = ch_sql(views, """
        SELECT argMaxIf(n_name, n_nationkey, n_nationkey < 3) AS am,
               anyIf(n_name, n_nationkey = 2) AS ai,
               uniqExactIf(n_regionkey, n_nationkey < 10) AS u
        FROM nation""").collect()[0]
    assert r.am == "NATION_2" and r.ai == "NATION_2"
    exp = views.sql("SELECT count(DISTINCT n_regionkey) AS n FROM nation "
                    "WHERE n_nationkey < 10").first().n
    assert r.u == exp


class TestInsert:
    def test_insert_values_inline(self, spark):
        from clickhouse_clickhouse_spark.ch_sql import (
            append_to_view,
            ch_insert,
        )

        spark.createDataFrame([(1, "a", 1.5)], "k int, s string, v double") \
            .createOrReplaceTempView("ins_t")
        rows = ch_insert(
            spark,
            "INSERT INTO ins_t VALUES (2,'b\\'x',2.5), (3,NULL,NULL)")
        got = sorted(map(tuple, rows.collect()))
        assert got == [(2, "b'x", 2.5), (3, None, None)]
        total = append_to_view(spark, "ins_t", rows)
        assert spark.table("ins_t").count() == 3
        assert total.count() == 3

    def test_insert_format_jsoneachrow_with_column_subset(self, spark):
        from clickhouse_clickhouse_spark.ch_sql import (
            append_to_view,
            ch_insert,
        )

        spark.createDataFrame([(1, "a", 1.5)], "k int, s string, v double") \
            .createOrReplaceTempView("ins_t2")
        rows = ch_insert(spark, "INSERT INTO ins_t2 (k, s) FORMAT JSONEachRow",
                         ['{"k":7,"s":"x"}', '{"k":8,"s":null}'])
        assert sorted(map(tuple, rows.collect())) == [(7, "x"), (8, None)]
        appended = append_to_view(spark, "ins_t2", rows)
        # omitted column null-filled
        vs = {r.k: r.v for r in appended.collect()}
        assert vs[7] is None and vs[1] == 1.5

    def test_insert_format_requires_data(self, spark):
        import pytest as _pytest

        from clickhouse_clickhouse_spark.ch_sql import ch_insert

        spark.createDataFrame([(1,)], "k int") \
            .createOrReplaceTempView("ins_t3")
        with _pytest.raises(ValueError):
            ch_insert(spark, "INSERT INTO ins_t3 FORMAT CSV")

    def test_insert_values_with_expressions(self, spark):
        """Reference Values semantics: tuples may contain expressions
        (toDate, arithmetic) — evaluated, not just parsed."""
        from clickhouse_clickhouse_spark.ch_sql import ch_insert

        spark.createDataFrame([(1, None, 0.0)],
                              "k int, d date, v double") \
            .createOrReplaceTempView("ins_t4")
        rows = ch_insert(
            spark,
            "INSERT INTO ins_t4 VALUES "
            "(1 + 1, toDate('2024-03-05'), multiply(2, 3.5))")
        import datetime
        assert rows.collect() == [(2, datetime.date(2024, 3, 5), 7.0)]


class TestCreateTable:
    DDL = """CREATE TABLE hits (
        id UInt64,
        ts DateTime,
        url String,
        score Nullable(Float64),
        tags Array(String)
    ) ENGINE = MergeTree()
    PARTITION BY url
    ORDER BY id"""

    def test_parse_and_register(self, spark):
        from clickhouse_clickhouse_spark.ch_sql import ch_create_table

        spec = ch_create_table(spark, self.DDL)
        assert spec.partition_by == ["url"] and spec.order_by == ["id"]
        t = spark.table("hits")
        assert dict(t.dtypes)["tags"] == "array<string>"
        assert dict(t.dtypes)["score"] == "double"
        assert t.count() == 0

    def test_ddl_insert_select_roundtrip(self, spark, tmp_path):
        """The migration path end-to-end: paste reference DDL, INSERT
        dialect VALUES, SELECT through ch_sql — files land
        partitioned+sorted per the DDL's layout."""
        from clickhouse_clickhouse_spark.ch_sql import (
            ch_create_table,
            ch_insert,
            ch_sql,
            insert_into_table,
        )

        spec = ch_create_table(spark, self.DDL)
        rows = ch_insert(
            spark,
            "INSERT INTO hits (id, ts, url) VALUES "
            "(1, toDateTime('2024-01-02 03:04:05'), 'a'), "
            "(2, toDateTime('2024-01-02 03:04:06'), 'b')")
        full = rows.withColumn("score", F.lit(None).cast("double")) \
                   .withColumn("tags", F.lit(None).cast("array<string>"))
        path = str(tmp_path / "hits_data")
        insert_into_table(spark, spec, full, path)
        got = ch_sql(spark, "SELECT count() AS n, uniqExact(url) AS u "
                            "FROM hits").collect()
        assert got == [(2, 2)]
        import os
        assert any(d.startswith("url=") for d in os.listdir(path))

    def test_layout_key_must_be_column(self, spark):
        import pytest as _pytest

        from clickhouse_clickhouse_spark.ch_sql import ch_create_table

        with _pytest.raises(ValueError):
            ch_create_table(
                spark, "CREATE TABLE t2 (a UInt8) ENGINE = MergeTree "
                       "ORDER BY missing_col")

    def test_aggregating_mergetree_stored_states(self, spark, tmp_path):
        """Round 10: with dataDir configured, a MergeTree-family CREATE
        + dialect INSERT ... SELECT of -State partials writes REAL
        parquet files (binary KLL column included), and a separate
        statement fMerge-reads them back equal to the one-phase answer.
        Memory-engine tables keep the temp-view path (no files)."""
        import os

        from pyspark.sql import functions as F

        from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

        spark.sql("SELECT id % 3 AS g, id % 2 AS g2, "
                  "CAST(id AS DOUBLE) AS v FROM RANGE(300)") \
            .createOrReplaceTempView("amt_src")
        spark.conf.set("spark.clickhouse_clickhouse_spark.dataDir",
                       str(tmp_path))
        try:
            ch_statement(spark, """
                CREATE TABLE amt_states (
                    g Int64,
                    q AggregateFunction(quantileExact, Float64),
                    k AggregateFunction(quantile(0.5), Float64),
                    s AggregateFunction(sum, Float64),
                    a AggregateFunction(avg, Float64)
                ) ENGINE = AggregatingMergeTree ORDER BY g""")
            ch_statement(spark, """
                INSERT INTO amt_states SELECT g * 2 + g2 AS gg,
                    quantileExactState(0.5)(v), quantileState(0.5)(v),
                    sumState(v), avgState(v)
                FROM amt_src GROUP BY gg""")
            ch_statement(spark, "CREATE TABLE amt_mem (x Int64) "
                                "ENGINE = Memory")
            ch_statement(spark, "INSERT INTO amt_mem VALUES (1)")
        finally:
            spark.conf.set(
                "spark.clickhouse_clickhouse_spark.dataDir", "")
        # real files on disk, KLL state stored as BINARY
        files = os.listdir(str(tmp_path / "amt_states"))
        assert any(f.endswith(".parquet") for f in files)
        assert not (tmp_path / "amt_mem").exists()
        stored = spark.table("amt_states")
        assert dict(stored.dtypes)["k"] == "binary"
        assert dict(stored.dtypes)["q"] == "array<double>"
        got = {r.g: r for r in ch_sql(spark, """
            SELECT intDiv(g, 2) AS g,
                   round(quantileExactMerge(0.5)(q), 6) AS qe,
                   quantileMerge(0.5)(k) AS qk,
                   sumMerge(s) AS sv, round(avgMerge(a), 6) AS av
            FROM amt_states GROUP BY intDiv(g, 2)""").collect()}
        exp = {r.g: r for r in spark.sql("""
            SELECT g, percentile(v, 0.5D) AS qe, sum(v) AS sv, avg(v) AS av
            FROM amt_src GROUP BY g""").collect()}
        assert set(got) == {0, 1, 2}
        for g, e in exp.items():
            assert got[g].qe == round(e.qe, 6) and got[g].sv == e.sv
            assert got[g].av == round(e.av, 6)
            # KLL sketch readout: tolerance-gated vs exact
            assert abs(got[g].qk - e.qe) <= 0.05 * max(abs(e.qe), 1.0)


class TestStatements:
    def test_statement_surface(self, spark):
        from clickhouse_clickhouse_spark.ch_sql import ch_statement

        ch_statement(spark, """CREATE TABLE st_t (
            id UInt64, name Nullable(String), v Array(Float32)
        ) ENGINE = Memory""")
        assert spark.catalog.tableExists("st_t")
        out = ch_statement(spark,
                           "INSERT INTO st_t VALUES (1, 'a', [1.0, 2.0])")
        assert out.collect()[0].written == 1
        desc = {r.name: r.type
                for r in ch_statement(spark, "DESCRIBE st_t").collect()}
        assert desc["id"] == "Int64"  # UInt64 maps to Int64 (documented)
        assert desc["name"] == "Nullable(String)"
        assert desc["v"] == "Array(Float32)"
        tables = [r.name for r in
                  ch_statement(spark, "SHOW TABLES").collect()]
        assert "st_t" in tables
        stmt = ch_statement(spark,
                            "SHOW CREATE TABLE st_t").collect()[0].statement
        assert "ENGINE = Memory" in stmt and "Nullable(String)" in stmt
        assert ch_statement(spark,
                            "EXISTS TABLE st_t").collect()[0].result == 1
        ch_statement(spark, "TRUNCATE TABLE st_t")
        assert spark.table("st_t").count() == 0
        ch_statement(spark, "DROP TABLE st_t")
        assert not spark.catalog.tableExists("st_t")

    def test_statement_falls_through_to_select(self, spark, sf_dir):
        from clickhouse_clickhouse_spark.ch_sql import ch_statement

        load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
        got = ch_statement(spark,
                           "SELECT count() AS n FROM nation").collect()
        assert got == [(25,)]

    def test_alter_mutations(self, spark):
        from clickhouse_clickhouse_spark.ch_sql import ch_statement

        spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)],
                              "k int, v double") \
            .createOrReplaceTempView("alt_t")
        ch_statement(spark, "ALTER TABLE alt_t ADD COLUMN note "
                            "Nullable(String)")
        assert "note" in spark.table("alt_t").columns
        ch_statement(spark,
                     "ALTER TABLE alt_t UPDATE v = multiply(v, 2) "
                     "WHERE k >= 2")
        assert {r.k: r.v for r in spark.table("alt_t").collect()} == \
            {1: 10.0, 2: 40.0, 3: 60.0}
        ch_statement(spark, "ALTER TABLE alt_t DELETE WHERE k = 1")
        assert spark.table("alt_t").count() == 2
        ch_statement(spark, "ALTER TABLE alt_t DROP COLUMN note")
        assert "note" not in spark.table("alt_t").columns

    def test_system_tables_in_dialect(self, spark):
        from clickhouse_clickhouse_spark.ch_sql import ch_sql

        n = ch_sql(spark, "SELECT count() AS n FROM system.formats "
                          "WHERE is_input").collect()[0].n
        assert n >= 10
        one = ch_sql(spark, "SELECT dummy FROM system.one").collect()
        assert one == [(0,)]


def test_translate_idempotent_on_dialect_corpus(spark):
    """translate(translate(q)) == translate(q) for every dialect form the
    registered queries use — rewrites must not double-apply (a regression
    risk each time a new rule lands)."""
    from clickhouse_clickhouse_spark.ch_sql import translate

    corpus = [
        "SELECT count() FROM lineitem PREWHERE l_quantity < 10",
        "SELECT l_orderkey, sum(multiply(l_extendedprice, l_discount)) "
        "FROM lineitem GROUP BY l_orderkey ORDER BY 2 DESC LIMIT 5",
        "SELECT countIf(a > 1), sumIf(b, a = 2) FROM t",
        "SELECT [1, 2, 3] AS arr, arr[1] AS first FROM system.one",
        "SELECT quantile(0.9)(x) FROM t SETTINGS max_threads = 4",
        "SELECT * FROM events SAMPLE 0.1 LIMIT 5 BY user_id LIMIT 100",
        "SELECT toDate('2024-01-01'), addDays(toDate('2024-01-01'), 7)",
        "SELECT x FROM t WHERE s == 'FORMAT JSONEachRow' FORMAT TSV",
    ]
    for q in corpus:
        once = translate(q)
        assert translate(once) == once, q


def test_insert_select_through_dialect(spark, sf_dir):
    from clickhouse_clickhouse_spark.ch_sql import ch_statement

    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    ch_statement(spark, "CREATE TABLE top_nations (name String, k Int64) "
                        "ENGINE = Memory")
    out = ch_statement(
        spark,
        "INSERT INTO top_nations SELECT n_name, toInt64(n_nationkey) "
        "FROM nation WHERE n_nationkey < 3")
    assert out.collect()[0].written == 3
    assert spark.table("top_nations").count() == 3
    assert dict(spark.table("top_nations").dtypes) == \
        {"name": "string", "k": "bigint"}


def test_explain_family(spark, sf_dir):
    from clickhouse_clickhouse_spark.ch_sql import ch_statement

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem")
    syn = ch_statement(
        spark, "EXPLAIN SYNTAX SELECT count() FROM lineitem "
               "PREWHERE l_quantity < 5").collect()[0].rewritten_query
    assert "COUNT(*)" in syn and "WHERE" in syn and "PREWHERE" not in syn
    plan = ch_statement(
        spark, "EXPLAIN PIPELINE SELECT count() FROM lineitem") \
        .collect()[0][0]
    assert "Physical Plan" in plan or "Scan" in plan
    cost = ch_statement(
        spark, "EXPLAIN ESTIMATE SELECT count() FROM lineitem") \
        .collect()[0][0]
    assert "sizeInBytes" in cost or "Statistics" in cost


def test_insert_format_inline_payload(spark):
    from clickhouse_clickhouse_spark.ch_sql import ch_insert

    spark.createDataFrame([(1, "a")], "k int, s string") \
        .createOrReplaceTempView("ins_t5")
    rows = ch_insert(spark, 'INSERT INTO ins_t5 FORMAT JSONEachRow\n'
                            '{"k":5,"s":"x"}\n{"k":6,"s":"y"}\n')
    assert sorted(map(tuple, rows.collect())) == [(5, "x"), (6, "y")]


def test_numbers_table_function(spark):
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    assert ch_sql(spark, "SELECT sum(number) AS s FROM numbers(10)") \
        .collect() == [(45,)]
    assert [r.number for r in
            ch_sql(spark, "SELECT number FROM numbers(5, 3)").collect()] \
        == [5, 6, 7]


def test_file_table_function(spark, sf_dir):
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    got = ch_sql(spark, f"SELECT count() AS n, min(n_nationkey) AS mn "
                        f"FROM file('{sf_dir}/nation.parquet')").collect()
    assert got == [(25, 0)]
    got2 = ch_sql(spark,
                  f"SELECT count() AS n FROM "
                  f"file('{sf_dir}/nation.parquet', 'Parquet') "
                  f"WHERE n_regionkey = 0").collect()[0].n
    assert got2 > 0


def test_network_table_functions_gated(spark):
    import pytest as _pytest

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    with _pytest.raises(NotImplementedError):
        ch_sql(spark, "SELECT * FROM url('http://x/y.csv', 'CSV')")


def test_with_totals_dialect(spark, sf_dir):
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    rows = ch_sql(spark, "SELECT event_type, count() AS c FROM events "
                         "GROUP BY event_type WITH TOTALS").collect()
    by_key = {r.event_type: r.c for r in rows}
    assert None in by_key  # the totals row
    assert by_key[None] == sum(v for k, v in by_key.items()
                               if k is not None)


def test_limit_with_ties_refused(spark):
    """translate() alone (no ch_sql interception) still refuses loudly —
    the text layer can't express rank semantics."""
    import pytest as _pytest

    from clickhouse_clickhouse_spark.ch_sql import translate

    with _pytest.raises(ValueError, match="limit_with_ties"):
        translate("SELECT a FROM t ORDER BY a LIMIT 3 WITH TIES")


def test_limit_with_ties_dialect(spark):
    """Trailing ORDER BY ... LIMIT n WITH TIES runs end-to-end through
    ch_sql (round-5: translated instead of refused), including DESC and
    the reference's NULL-greatest default placement."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c"), (3, "d"), (None, "n")],
        "k int, s string").createOrReplaceTempView("__ties_t")
    asc = ch_sql(spark, "SELECT s, k FROM __ties_t "
                        "ORDER BY k LIMIT 2 WITH TIES").collect()
    assert sorted((r.s, r.k) for r in asc) == [("a", 1), ("b", 2),
                                               ("c", 2)]
    # DESC: the reference sorts NULL greatest, so it leads DESC order
    desc = ch_sql(spark, "SELECT s, k FROM __ties_t "
                         "ORDER BY k DESC LIMIT 2 WITH TIES").collect()
    assert sorted([(r.s, r.k) for r in desc], key=str) == \
        sorted([("n", None), ("d", 3)], key=str)
    # expression order keys fall through to the loud refusal
    import pytest as _pytest
    with _pytest.raises(ValueError, match="limit_with_ties"):
        ch_sql(spark, "SELECT s, k FROM __ties_t "
                      "ORDER BY k + 1 LIMIT 2 WITH TIES")


def test_quantile_gk_param_order():
    """quantileGK(accuracy[, level])(expr): accuracy FIRST (upstream
    signature), level defaults to 0.5 — round-5 advice fix."""
    from clickhouse_clickhouse_spark.ch_sql import translate

    assert translate("SELECT quantileGK(100, 0.95)(x) FROM t") == \
        "SELECT PERCENTILE_APPROX(x, 0.95D, 100) FROM t"
    assert translate("SELECT quantileGK(100)(x) FROM t") == \
        "SELECT PERCENTILE_APPROX(x, 0.5D, 100) FROM t"


def test_file_view_gate_masked_string_literals(spark):
    """Table-function substitution and the network gate must not fire on
    string-literal CONTENTS (round-5 advice fix)."""
    from clickhouse_clickhouse_spark.ch_sql import _register_file_views

    # a literal containing url(' is data, not a table function
    sql = "SELECT 'url(''http://x' AS s, 'file(''x'')' AS f"
    assert _register_file_views(spark, sql) == sql
    # a real url() outside literals still gates loudly
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        _register_file_views(spark, "SELECT * FROM url('http://x', 'CSV')")


def test_cli_insert_inline_payload_not_shadowed_by_empty_stdin(
        spark, monkeypatch, capsys):
    """An inline FORMAT payload wins even when stdin is piped-but-empty
    (the old behavior silently inserted 0 rows) — round-5 advice fix."""
    import io

    from clickhouse_clickhouse_spark import run_query

    spark.createDataFrame([(1, "a")], "k long, s string") \
        .createOrReplaceTempView("cli_ins_t")
    monkeypatch.setattr("sys.stdin", io.StringIO(""))  # isatty() False
    rc = run_query.main([
        "--sql",
        'INSERT INTO cli_ins_t FORMAT JSONEachRow\n{"k": 2, "s": "b"}'])
    assert rc == 0
    assert "inserted 1 rows" in capsys.readouterr().out
    assert spark.table("cli_ins_t").count() == 2


def test_cli_insert_format_tty_errors_instead_of_blocking(
        spark, monkeypatch):
    """FORMAT with no payload on a TTY raises loudly (ch_insert's
    missing-data error) rather than blocking on stdin."""
    import io

    import pytest as _pytest

    from clickhouse_clickhouse_spark import run_query

    class _TTY(io.StringIO):
        def isatty(self):
            return True

    spark.createDataFrame([(1,)], "k long") \
        .createOrReplaceTempView("cli_ins_tty")
    monkeypatch.setattr("sys.stdin", _TTY(""))
    with _pytest.raises(ValueError):
        run_query.main(["--sql", "INSERT INTO cli_ins_tty FORMAT CSV"])


def test_create_view_and_lightweight_delete(spark):
    """Round-5 statement surface: CREATE VIEW stores the translated query
    as a temp view; DELETE FROM t WHERE c is the lightweight-delete
    mutation; DROP VIEW removes it; MATERIALIZED VIEW refuses with the
    streaming pointer."""
    import pytest as _pytest

    from clickhouse_clickhouse_spark.ch_sql import ch_statement

    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (12, "d")],
                          "k int, s string") \
        .createOrReplaceTempView("__stmt_t")
    ch_statement(spark, "CREATE VIEW __stmt_v AS SELECT k, upper(s) AS u "
                        "FROM __stmt_t PREWHERE k < 10")
    assert sorted((r.k, r.u) for r in spark.table("__stmt_v").collect()) \
        == [(1, "A"), (2, "B"), (3, "C")]

    ch_statement(spark, "DELETE FROM __stmt_t WHERE modulo(k, 2) = 0")
    assert sorted(r.k for r in spark.table("__stmt_t").collect()) == [1, 3]
    # the view re-executes its stored query over the mutated base
    assert sorted(r.k for r in spark.table("__stmt_v").collect()) == [1, 3]

    ch_statement(spark, "DROP VIEW __stmt_v")
    assert not any(t.name == "__stmt_v"
                   for t in spark.catalog.listTables())
    # batch MATERIALIZED VIEW is implemented (insert-trigger semantics;
    # see test_batch_materialized_view_insert_trigger) — it registers
    # and returns instead of refusing
    mv_row = ch_statement(spark, "CREATE MATERIALIZED VIEW __stmt_mv AS "
                                 "SELECT * FROM __stmt_t").collect()[0]
    assert mv_row.source == "__stmt_t"
    ch_statement(spark, "DROP VIEW __stmt_mv")
    with _pytest.raises(ValueError, match="WHERE is required"):
        ch_statement(spark, "DELETE FROM __stmt_t")


def test_with_fill_datetime_interval_step(views):
    """Round-5: WITH FILL over a DateTime key with STEP INTERVAL 1 HOUR
    (and the numeric-step = seconds convention) through the dialect."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    out = ch_sql(views, """
        SELECT h, n FROM (
          SELECT toStartOfHour(ts) AS h, count() AS n
          FROM events WHERE event_type = 'purchase' GROUP BY h)
        ORDER BY h WITH FILL STEP INTERVAL 1 HOUR""").collect()
    hours = [r.h for r in out]
    assert len(hours) == len(set(hours))
    import datetime as dt
    assert all((b - a) == dt.timedelta(hours=1)
               for a, b in zip(hours, hours[1:]))
    assert any(r.n is None for r in out) or len(out) == len([
        r for r in out if r.n is not None])

    # numeric step on DateTime = seconds (3600 == INTERVAL 1 HOUR)
    out2 = ch_sql(views, """
        SELECT h, n FROM (
          SELECT toStartOfHour(ts) AS h, count() AS n
          FROM events WHERE event_type = 'purchase' GROUP BY h)
        ORDER BY h WITH FILL STEP 3600""").collect()
    assert [(r.h, r.n) for r in out2] == [(r.h, r.n) for r in out]

    # explicit datetime bounds
    lo = hours[0]
    out3 = ch_sql(views, f"""
        SELECT h, n FROM (
          SELECT toStartOfHour(ts) AS h, count() AS n
          FROM events WHERE event_type = 'purchase' GROUP BY h)
        ORDER BY h WITH FILL
          FROM toDateTime('{lo:%Y-%m-%dT%H:%M:%S}')
          TO toDateTime('{lo + __import__("datetime").timedelta(hours=5):%Y-%m-%dT%H:%M:%S}')
          STEP INTERVAL 1 HOUR""").collect()
    in_window = [r for r in out3 if lo <= r.h]
    assert len([r for r in in_window
                if r.h < lo + __import__("datetime").timedelta(hours=5)]) \
        >= 5


def test_round5_datetime_and_array_function_fixes(views):
    """dateDiff/age with the reference's QUOTED unit; toStartOfInterval
    epoch-aligned buckets; arrayEnumerate[Uniq]; arrayReduce literal
    dispatch; runningDifference loud refusal."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    r = ch_sql(views, """
        SELECT dateDiff('day', toDate('1995-01-01'), toDate('1995-03-01'))
                 AS dd,
               age('hour', toDateTime('1995-01-01 00:00:00'),
                   toDateTime('1995-01-01 07:30:00')) AS ag,
               toStartOfInterval(toDateTime('1995-01-01 10:47:33'),
                                 INTERVAL 15 MINUTE) AS b15,
               arrayEnumerate(array('a','b','c')) AS en,
               arrayEnumerateUniq(array('a','b','a','a')) AS eu,
               arrayReduce('sum', array(1, 2, 3)) AS rs,
               arrayReduce('uniqExact', array(1, 2, 2, 3)) AS ru
        """).collect()[0]
    assert r.dd == 59 and r.ag == 7
    assert str(r.b15) == "1995-01-01 10:45:00"
    assert r.en == [1, 2, 3]
    assert r.eu == [1, 1, 2, 3]
    assert r.rs == 6.0 and r.ru == 3

    import pytest as _pytest
    with _pytest.raises(ValueError, match="lag"):
        translate("SELECT runningDifference(x) FROM t")
    # median/quantile(p) became SUPPORTED arrayReduce forms in round 10;
    # genuinely unknown aggregates still refuse with the list
    with _pytest.raises(ValueError, match="supported"):
        translate("SELECT arrayReduce('corr', a) FROM t")
    assert "ARRAY_SORT" in translate("SELECT arrayReduce('median', a) "
                                     "FROM t")
    # idempotence on the new rewrites
    for q in ("SELECT dateDiff('day', a, b) FROM t",
              "SELECT toStartOfInterval(ts, INTERVAL 5 MINUTE) FROM t",
              "SELECT arrayEnumerateUniq(a) FROM t"):
        once = translate(q)
        assert translate(once) == once


def test_script_splitting_and_set_statement(spark):
    """--file script support: top-level semicolon splitting respects
    string literals and -- comments; SET routes through
    apply_ch_settings and reports the mapped confs."""
    from clickhouse_clickhouse_spark.ch_sql import ch_statement
    from clickhouse_clickhouse_spark.run_query import _split_statements

    stmts = _split_statements(
        "-- header comment\n"
        "SELECT 'a;b' AS s;\n"
        "INSERT INTO t VALUES (1, ';');\n"
        "SELECT 1\n;  \nSELECT 2")
    assert stmts == ["SELECT 'a;b' AS s",
                     "INSERT INTO t VALUES (1, ';')",
                     "SELECT 1", "SELECT 2"]

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        out = ch_statement(
            spark, "SET max_bytes_in_join_to_broadcast = 123456").collect()
        assert out[0].spark_conf == "spark.sql.autoBroadcastJoinThreshold"
        assert spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold") == "123456"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_ctas_rename_exchange(spark):
    """CREATE TABLE ... ENGINE ... AS SELECT; RENAME TABLE; EXCHANGE
    TABLES — statement-surface round trip through ch_statement."""
    from clickhouse_clickhouse_spark.ch_sql import ch_statement

    spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)],
                          "k int, v double") \
        .createOrReplaceTempView("__ct_base")
    out = ch_statement(spark, """
        CREATE TABLE __ct_sum ENGINE = MergeTree ORDER BY k
        AS SELECT k, sumIf(v, v > 5) AS sv FROM __ct_base GROUP BY k
    """).collect()[0]
    assert (out.name, out.engine, out.order_by) == \
        ("__ct_sum", "MergeTree", "k")
    assert sorted((r.k, r.sv) for r in spark.table("__ct_sum").collect()) \
        == [(1, 10.0), (2, 20.0), (3, 30.0)]
    # SHOW CREATE TABLE knows the CTAS-derived schema
    stmt = ch_statement(spark,
                        "SHOW CREATE TABLE __ct_sum").collect()[0].statement
    assert "ORDER BY (k)" in stmt and "sv" in stmt

    ch_statement(spark, "RENAME TABLE __ct_sum TO __ct_renamed")
    assert not spark.catalog.tableExists("__ct_sum")
    assert spark.table("__ct_renamed").count() == 3
    assert "__ct_renamed" in ch_statement(
        spark, "SHOW CREATE TABLE __ct_renamed").collect()[0].statement

    spark.createDataFrame([(9,)], "x int") \
        .createOrReplaceTempView("__ct_other")
    ch_statement(spark, "EXCHANGE TABLES __ct_renamed AND __ct_other")
    assert spark.table("__ct_renamed").columns == ["x"]
    assert spark.table("__ct_other").columns == ["k", "sv"]


def test_transform_value_mapping(views):
    """CH transform(x, [from], [to], default) is value mapping, not the
    array HOF — both forms coexist in the dialect."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    out = ch_sql(views, """
        SELECT n_nationkey AS k,
               transform(n_nationkey, [0, 1], ['zero', 'one'], 'other')
                 AS label,
               transform(array(1, 2), v -> v * 10) AS doubled
        FROM nation WHERE n_nationkey < 3 ORDER BY k""").collect()
    assert [(r.k, r.label, r.doubled) for r in out] == \
        [(0, "zero", [10, 20]), (1, "one", [10, 20]),
         (2, "other", [10, 20])]


def test_projection_ddl_and_routing(spark, sf_dir):
    """ALTER TABLE ADD PROJECTION builds a summary table; the SELECT
    router answers subsumed aggregations from it (verified via
    inputFiles), falls through on non-matching shapes, and DROP
    PROJECTION restores the base path. Routed results are identical."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement
    from clickhouse_clickhouse_spark.tables import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    q = ("SELECT event_type, count() AS n, sum(value) AS sv "
         "FROM events GROUP BY event_type")
    direct = {r.event_type: (r.n, round(r.sv, 6))
              for r in ch_sql(spark, q).collect()}

    st = ch_statement(spark, """
        ALTER TABLE events ADD PROJECTION p_et
        (SELECT event_type, user_id, count() AS n, sum(value) AS sv,
                min(value) AS mn GROUP BY event_type, user_id)
    """).collect()[0]
    assert st.projection == "p_et" and st.measures == 3
    try:
        routed_df = ch_sql(spark, q)
        assert any("ch_proj_events_p_et" in f
                   for f in routed_df.inputFiles())
        routed = {r.event_type: (r.n, round(r.sv, 6))
                  for r in routed_df.collect()}
        assert routed == direct

        # WHERE over projection keys routes; works pre-merge
        qw = ("SELECT event_type, count() AS n FROM events "
              "WHERE event_type = 'click' GROUP BY event_type")
        rw = ch_sql(spark, qw)
        assert any("ch_proj" in f for f in rw.inputFiles())
        assert rw.collect()[0].n == direct["click"][0]

        # ORDER BY / LIMIT route too (the canonical top-k rollup)
        qt = ("SELECT event_type, sum(value) AS s FROM events "
              "GROUP BY event_type ORDER BY s DESC LIMIT 2")
        rt = ch_sql(spark, qt)
        assert any("ch_proj" in f for f in rt.inputFiles())
        assert [r.event_type for r in rt.collect()] == [
            r.event_type for r in spark.sql(
                "SELECT event_type, sum(value) AS s FROM events "
                "GROUP BY event_type ORDER BY s DESC LIMIT 2").collect()]
        # non-subsumed group key / blocked clauses fall through to base
        for fq in ("SELECT ts, sum(value) AS s FROM events GROUP BY ts",
                   "SELECT event_type, sum(value) AS s FROM events "
                   "GROUP BY event_type HAVING count() > 1"):
            assert not any("ch_proj" in f
                           for f in ch_sql(spark, fq).inputFiles())
        # uniq is deliberately unroutable in the dialect (different
        # estimator than the translated APPROX_COUNT_DISTINCT)
        qu = ("SELECT event_type, uniq(user_id) AS u FROM events "
              "GROUP BY event_type")
        assert not any("ch_proj" in f for f in ch_sql(spark, qu).inputFiles())
    finally:
        d = ch_statement(
            spark, "ALTER TABLE events DROP PROJECTION p_et").collect()[0]
        assert d.dropped
    assert not any("ch_proj" in f for f in ch_sql(spark, q).inputFiles())


def test_projection_rebuilt_by_mutation(spark, sf_dir):
    """A mutation REBUILDS registered projections from post-mutation
    contents (upstream: mutations rewrite projection parts), so routing
    keeps working and serves the mutated data; DROP/column-loss drops
    the projection instead."""
    import pyspark.sql.functions as F

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement
    from clickhouse_clickhouse_spark.session import engine_state
    from clickhouse_clickhouse_spark.tables import load_table

    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nat_mut")
    add = ("ALTER TABLE nat_mut ADD PROJECTION p_m "
           "(SELECT n_regionkey, count() AS n GROUP BY n_regionkey)")
    q = "SELECT n_regionkey, count() AS n FROM nat_mut GROUP BY n_regionkey"

    ch_statement(spark, add)
    assert any("ch_proj" in f for f in ch_sql(spark, q).inputFiles())

    # UPDATE rebuilds: still routed, and the routed answer reflects the
    # mutation
    ch_statement(spark, "ALTER TABLE nat_mut UPDATE n_regionkey = 9 "
                        "WHERE n_regionkey = 0")
    assert len(engine_state(spark).projections_for("nat_mut")) == 1
    routed = ch_sql(spark, q)
    assert any("ch_proj" in f for f in routed.inputFiles())
    got = {r.n_regionkey: r.n for r in routed.collect()}
    assert 0 not in got and got[9] >= 1
    direct = {r.n_regionkey: r.n for r in spark.sql(
        "SELECT n_regionkey, count(*) AS n FROM nat_mut "
        "GROUP BY n_regionkey").collect()}
    assert got == direct

    # DELETE rebuilds too
    ch_statement(spark, "DELETE FROM nat_mut WHERE n_regionkey = 9")
    assert len(engine_state(spark).projections_for("nat_mut")) == 1
    routed2 = {r.n_regionkey: r.n for r in ch_sql(spark, q).collect()}
    assert 9 not in routed2 and sum(routed2.values()) == 20

    # dropping the projection's own column drops the projection (the
    # permissive form of the reference's refusal)
    ch_statement(spark, "ALTER TABLE nat_mut DROP COLUMN n_regionkey")
    assert engine_state(spark).projections_for("nat_mut") == {}

    spark.catalog.dropTempView("nat_mut")



def test_system_projections_view(spark, sf_dir):
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement
    from clickhouse_clickhouse_spark.tables import load_table

    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nat_sp")
    ch_statement(spark, "ALTER TABLE nat_sp ADD PROJECTION psys "
                        "(SELECT n_regionkey, count() AS n, "
                        "sum(n_nationkey) AS s GROUP BY n_regionkey)")
    try:
        r = ch_sql(spark, "SELECT table, name, keys, measures "
                          "FROM system.projections "
                          "WHERE table = 'nat_sp'").collect()
        assert len(r) == 1 and r[0].name == "psys"
        assert r[0].keys == "n_regionkey"
        assert "s=sum(n_nationkey)" in r[0].measures
    finally:
        ch_statement(spark, "ALTER TABLE nat_sp DROP PROJECTION psys")
    assert ch_sql(spark, "SELECT count() AS c FROM system.projections "
                         "WHERE table = 'nat_sp'").collect()[0].c == 0
    spark.catalog.dropTempView("nat_sp")


def test_batch_materialized_view_insert_trigger(spark):
    """Batch MV semantics (upstream StorageMaterializedView): the
    transform sees ONLY each inserted block; POPULATE backfills; DROP
    VIEW detaches the trigger; cascades fire through targets."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    ch_statement(spark, "CREATE TABLE mvt_src (k Int64, v Float64) "
                        "ENGINE = Memory")
    ch_statement(spark, "CREATE TABLE mvt_tgt (k Int64, sv Float64) "
                        "ENGINE = Memory")
    ch_statement(spark, "CREATE MATERIALIZED VIEW mvt_mv TO mvt_tgt AS "
                        "SELECT k, sum(v) AS sv FROM mvt_src GROUP BY k")
    # cascade: second MV reads the first MV's target
    ch_statement(spark, "CREATE MATERIALIZED VIEW mvt_mv2 AS "
                        "SELECT k, sv * 10 AS tv FROM mvt_tgt")

    ch_statement(spark, "INSERT INTO mvt_src VALUES (1, 10.0), (1, 5.0), "
                        "(2, 1.0)")
    ch_statement(spark, "INSERT INTO mvt_src VALUES (1, 100.0)")

    # per-block partials: k=1 appears once per block, NOT merged
    tgt = sorted((r.k, r.sv) for r in
                 ch_sql(spark, "SELECT * FROM mvt_tgt").collect())
    assert tgt == [(1, 15.0), (1, 100.0), (2, 1.0)]
    # the MV name reads the target, late-bound
    assert sorted((r.k, r.sv) for r in
                  ch_sql(spark, "SELECT * FROM mvt_mv").collect()) == tgt
    # cascade fired per block too
    casc = sorted((r.k, r.tv) for r in
                  ch_sql(spark, "SELECT * FROM mvt_mv2").collect())
    assert casc == [(1, 150.0), (1, 1000.0), (2, 10.0)]
    # query-time reaggregation gives the true totals
    agg = {r.k: r.s for r in ch_sql(
        spark, "SELECT k, sum(sv) AS s FROM mvt_tgt GROUP BY k").collect()}
    assert agg == {1: 115.0, 2: 1.0}

    # POPULATE backfills current contents
    ch_statement(spark, "CREATE MATERIALIZED VIEW mvt_mv3 POPULATE AS "
                        "SELECT count() AS c FROM mvt_src")
    assert ch_sql(spark, "SELECT * FROM mvt_mv3").collect()[0].c == 4

    # DROP detaches: no further rows land in mv3's view
    ch_statement(spark, "DROP VIEW mvt_mv3")
    ch_statement(spark, "DROP VIEW mvt_mv2")
    before = ch_sql(spark, "SELECT count() AS c FROM mvt_tgt").collect()[0].c
    ch_statement(spark, "INSERT INTO mvt_src VALUES (9, 9.0)")
    after = ch_sql(spark, "SELECT count() AS c FROM mvt_tgt").collect()[0].c
    assert after == before + 1  # mvt_mv still attached
    for v in ("mvt_mv", "mvt_src", "mvt_tgt"):
        ch_statement(spark, f"DROP VIEW {v}")


def test_insert_deduplicate_retry_protection(spark):
    """SET insert_deduplicate = 1: re-inserting an identical block is a
    silent no-op (the reference's replicated-table retry contract);
    different blocks and the setting's default-off both append."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    ch_statement(spark, "CREATE TABLE dd_t (k Int64) ENGINE = Memory")
    try:
        ch_statement(spark, "SET insert_deduplicate = 1")
        ch_statement(spark, "INSERT INTO dd_t VALUES (1), (2)")
        ch_statement(spark, "INSERT INTO dd_t VALUES (1), (2)")  # retry
        assert ch_sql(spark,
                      "SELECT count() AS c FROM dd_t").collect()[0].c == 2
        ch_statement(spark, "INSERT INTO dd_t VALUES (3)")       # new block
        assert ch_sql(spark,
                      "SELECT count() AS c FROM dd_t").collect()[0].c == 3
        ch_statement(spark, "SET insert_deduplicate = 0")
        ch_statement(spark, "INSERT INTO dd_t VALUES (3)")       # off: dup ok
        assert ch_sql(spark,
                      "SELECT count() AS c FROM dd_t").collect()[0].c == 4
    finally:
        ch_statement(spark, "SET insert_deduplicate = 0")
        ch_statement(spark, "DROP VIEW dd_t")


def test_projection_incremental_on_insert(spark):
    """INSERT maintains projections incrementally (block partials append
    — upstream per-part projection writes): the routed answer includes
    freshly inserted rows and still reads the projection parquet."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement
    from clickhouse_clickhouse_spark.session import engine_state

    ch_statement(spark, "CREATE TABLE pri_t (g String, v Int64) "
                        "ENGINE = Memory")
    ch_statement(spark, "INSERT INTO pri_t VALUES ('a', 1), ('b', 2)")
    ch_statement(spark, "ALTER TABLE pri_t ADD PROJECTION p_i "
                        "(SELECT g, count() AS n, sum(v) AS sv "
                        "GROUP BY g)")
    try:
        ch_statement(spark, "INSERT INTO pri_t VALUES ('a', 10), ('c', 5)")
        # projection survived the insert
        assert len(engine_state(spark).projections_for("pri_t")) == 1
        q = "SELECT g, count() AS n, sum(v) AS sv FROM pri_t GROUP BY g"
        routed = ch_sql(spark, q)
        assert any("ch_proj" in f for f in routed.inputFiles())
        got = {r.g: (r.n, r.sv) for r in routed.collect()}
        assert got == {"a": (2, 11), "b": (1, 2), "c": (1, 5)}
    finally:
        ch_statement(spark, "ALTER TABLE pri_t DROP PROJECTION p_i")
        ch_statement(spark, "DROP VIEW pri_t")


def test_optimize_statement_and_explain_routing(spark):
    """OPTIMIZE TABLE [DEDUPLICATE] drops duplicate rows and compacts
    incremental projection partials back to one row per key (merge-time
    projection maintenance); EXPLAIN reveals when a SELECT is answered
    from a projection."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement
    from clickhouse_clickhouse_spark.session import engine_state

    ch_statement(spark, "CREATE TABLE opt_t (g String, v Int64) "
                        "ENGINE = Memory")
    ch_statement(spark, "INSERT INTO opt_t VALUES ('a', 1), ('a', 1), "
                        "('b', 2)")
    ch_statement(spark, "ALTER TABLE opt_t ADD PROJECTION p "
                        "(SELECT g, sum(v) AS sv GROUP BY g)")
    ch_statement(spark, "INSERT INTO opt_t VALUES ('a', 5)")
    try:
        ex = ch_statement(spark, "EXPLAIN SELECT g, sum(v) AS sv "
                                 "FROM opt_t GROUP BY g").collect()[0][0]
        assert "aggregate projection" in ex
        # non-routable query explains normally
        ex2 = ch_statement(spark, "EXPLAIN SELECT v, count() AS n "
                                  "FROM opt_t GROUP BY v").collect()
        assert "aggregate projection" not in str(ex2[0])

        [proj] = engine_state(spark).projections_for("opt_t").values()
        path = proj.path
        assert len(spark.read.parquet(path).collect()) == 3  # 2 blocks
        r = ch_statement(spark,
                         "OPTIMIZE TABLE opt_t DEDUPLICATE").collect()[0]
        assert r.deduplicated and r.projections_compacted == 1
        assert len(spark.read.parquet(path).collect()) == 2  # compacted
        got = {x.g: x.sv for x in ch_sql(
            spark, "SELECT g, sum(v) AS sv FROM opt_t GROUP BY g"
        ).collect()}
        assert got == {"a": 6, "b": 2}
    finally:
        ch_statement(spark, "ALTER TABLE opt_t DROP PROJECTION p")
        ch_statement(spark, "DROP VIEW opt_t")


def test_round7_scalar_tail_dialect(spark):
    """Round-7 multi-search / tuple / randomString dialect names."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    r = ch_sql(spark, """
        SELECT tuplePlus(tuple(1, 2), tuple(10, 20)) AS tp,
               tupleNegate(tuple(3, 4)) AS tn,
               tupleElement(tuple(7, 8), 2) AS te,
               randomString(12) AS rs,
               hasToken('ab the cd', 'the') AS ht,
               hasToken('xthey', 'the') AS ht2
    """).collect()[0]
    assert (r.tp._1, r.tp._2) == (11, 22)
    assert (r.tn._1, r.tn._2) == (-3, -4)
    assert r.te == 8
    assert len(r.rs) == 12 and all(33 <= ord(c) <= 126 for c in r.rs)
    assert r.ht is True and r.ht2 is False
    # untuple expands a NAMED tuple column
    rows = ch_sql(spark, "SELECT untuple(t) FROM "
                         "(SELECT tuple(1, 'x') AS t) s").collect()
    assert rows == [(1, "x")]
    # ... and refuses an unnamed expression loudly
    import pytest as _p

    with _p.raises(ValueError, match="untuple"):
        translate("SELECT untuple(tuple(1, 2))")
    with _p.raises(ValueError, match="needle"):
        translate("SELECT hasToken('x', concat('a', 'b'))")
    with _p.raises(ValueError, match="arity"):
        translate("SELECT tuplePlus(tuple(1, 2), tuple(1, 2, 3))")


def test_foreach_ornull_combinators_ragged(spark):
    """-ForEach over RAGGED arrays and null elements (the fixed-width
    case is oracle-checked via ch_dialect_demo10): shorter arrays
    null-pad, null elements skip counts, empty groups go NULL."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.createDataFrame(
        [(1, [1, 2, 3]), (1, [10, 20]), (2, [5, None, 7])],
        "k int, a array<int>").createOrReplaceTempView("fe_t")
    rows = {r.k: r for r in ch_sql(spark, """
        SELECT k, sumForEach(a) AS s, countForEach(a) AS c,
               minForEach(a) AS mn, maxForEach(a) AS mx,
               avgForEach(a) AS av
        FROM fe_t GROUP BY k""").collect()}
    # sumForEach is type-preserving since round 8 (integer arrays sum
    # exactly in the element type; an all-NULL slot yields NULL)
    assert rows[1].s == [11, 22, 3]
    assert rows[1].c == [2, 2, 1]
    assert rows[1].mn == [1, 2, 3] and rows[1].mx == [10, 20, 3]
    assert rows[1].av == [5.5, 11.0, 3.0]
    assert rows[2].s == [5, None, 7]
    assert rows[2].c == [1, 0, 1]
    assert rows[2].av == [5.0, None, 7.0]
    r = ch_sql(spark, "SELECT sumOrNull(x) AS s, countOrNull(x) AS c, "
                      "uniqExactOrNull(x) AS u FROM "
                      "(SELECT CAST(NULL AS INT) AS x WHERE 1 = 0)") \
        .collect()[0]
    assert (r.s, r.c, r.u) == (None, None, None)
    # integer exactness past 2^53 (a DOUBLE accumulator would round)
    spark.createDataFrame(
        [([9007199254740993, 1],), ([9007199254740993, 2],)],
        "a array<long>").createOrReplaceTempView("fe_big")
    big = ch_sql(spark, "SELECT sumForEach(a) AS s FROM fe_big") \
        .collect()[0]
    assert big.s == [18014398509481986, 3]


def test_dialect_event_aggregates(spark):
    """windowFunnel/sequenceMatch/sequenceCount/retention as dialect
    SQL (round-7): default + strict modes against a hand-checked
    fixture; unsupported forms refuse loudly."""
    import datetime

    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    T = lambda s: datetime.datetime(2024, 1, 1) + \
        datetime.timedelta(seconds=s)
    rows = [
        (1, T(0), "view"), (1, T(10), "click"), (1, T(20), "buy"),
        (2, T(0), "view"), (2, T(5), "other"), (2, T(9), "click"),
        (3, T(0), "click"), (3, T(5), "buy"),
        (4, T(0), "view"), (4, T(4000), "click"),
        (5, T(0), "view"), (5, T(1), "click"), (5, T(2), "click"),
        (5, T(3), "buy"),
    ]
    spark.createDataFrame(rows, "u int, ts timestamp, e string") \
        .createOrReplaceTempView("ev_dlg")
    funnel = lambda mode: {r.u: r.lvl for r in ch_sql(spark, f"""
        SELECT u, windowFunnel(3600{mode})(ts, e == 'view',
            e == 'click', e == 'buy') AS lvl
        FROM ev_dlg GROUP BY u""").collect()}
    assert funnel("") == {1: 3, 2: 2, 3: 0, 4: 1, 5: 3}
    # strict_order: user 2's 'other' freezes; user 5's repeat 'click'
    # freezes at level 2
    assert funnel(", 'strict_order'") == {1: 3, 2: 1, 3: 0, 4: 1, 5: 2}
    # strict_dedup: repeat of a matched step freezes (user 5)
    assert funnel(", 'strict_dedup'") == {1: 3, 2: 2, 3: 0, 4: 1, 5: 2}
    # strict_increase (new r8): same as default on this fixture (all
    # advances strictly increase) — discriminating equal-ts cases are
    # pinned in tests/test_events_ops.py
    assert funnel(", 'strict_increase'") == {1: 3, 2: 2, 3: 0, 4: 1,
                                             5: 3}
    # default-mode RE-ARM (r8): view@0, view@3000, click@3500 inside
    # window 3600 of the SECOND view -> level 2
    spark.createDataFrame(
        [(9, T(0), "view"), (9, T(3000), "view"), (9, T(3500), "click"),
         (9, T(7000), "buy")],
        "u int, ts timestamp, e string").createOrReplaceTempView(
        "ev_dlg2")
    rearm = ch_sql(spark, """
        SELECT windowFunnel(3600)(ts, e == 'view', e == 'click',
                                  e == 'buy') AS lvl
        FROM ev_dlg2 GROUP BY u""").collect()[0]
    assert rearm.lvl == 2
    seq = {r.u: (r.m, r.n) for r in ch_sql(spark, """
        SELECT u, sequenceMatch('(?1).*(?2)')(ts, e == 'view',
                                              e == 'buy') AS m,
               sequenceCount('(?1)')(ts, e == 'view' OR
                                     e == 'click') AS n
        FROM ev_dlg GROUP BY u""").collect()}
    assert seq[1] == (True, 2) and seq[3] == (False, 1)
    ret = {r.u: r.r for r in ch_sql(spark, """
        SELECT u, retention(e == 'view', e == 'click', e == 'buy') AS r
        FROM ev_dlg GROUP BY u""").collect()}
    assert ret[1] == [1, 1, 1] and ret[2] == [1, 1, 0] \
        and ret[3] == [0, 0, 0]
    with _p.raises(ValueError, match="mode"):
        translate("SELECT windowFunnel(10, 'bogus')(ts, a) FROM t")
    with _p.raises(ValueError, match="unsupported pattern"):
        translate("SELECT sequenceMatch('(?1)[x]')(ts, a) FROM t")
    # (?t) guards are supported since r8; the un-expressible corners
    # still refuse loudly
    with _p.raises(ValueError, match="exact time sets"):
        translate("SELECT sequenceMatch('(?1)(?t==5)(?2)')"
                  "(ts, a, b) FROM t")
    with _p.raises(ValueError, match="not supported"):
        translate("SELECT sequenceMatch('(?1).+(?t<5)(?2)')"
                  "(ts, a, b) FROM t")
    with _p.raises(ValueError, match="trailing"):
        translate("SELECT sequenceMatch('(?1)(?t<5)')(ts, a) FROM t")


def test_sequence_time_constraints_and_cap(spark):
    """(?t op N) time guards (new r8) + the hex-pair token encoding
    that lifts the condition cap to 8; hand-checked fixture."""
    import datetime

    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    T = lambda s: datetime.datetime(2024, 1, 1) + \
        datetime.timedelta(seconds=s)
    rows = [
        (1, T(0), "v"), (1, T(10), "c"), (1, T(50), "v"),
        (1, T(55), "c"),
        (2, T(0), "v"), (2, T(5), "x"), (2, T(2000), "c"),
        (4, T(0), "v"), (4, T(100), "v"), (4, T(150), "c"),
    ]
    spark.createDataFrame(rows, "u int, ts timestamp, e string") \
        .createOrReplaceTempView("sq_t")
    out = {r.u: tuple(r)[1:] for r in ch_sql(spark, """
        SELECT u,
          sequenceMatch('(?1)(?t<100)(?2)')(ts, e = 'v', e = 'c') AS a,
          sequenceMatch('(?1)(?t>1000)(?2)')(ts, e = 'v', e = 'c') AS b,
          sequenceMatch('(?1).*(?t>=100)(?2)')(ts, e = 'v', e = 'c') AS s,
          sequenceCount('(?1)(?t<100)(?2)')(ts, e = 'v', e = 'c') AS n
        FROM sq_t GROUP BY u""").collect()}
    assert out[1] == (True, False, False, 2)
    assert out[2] == (False, True, True, 0)
    assert out[4] == (True, False, True, 1)
    # 6..8 conditions work through the hex-pair alphabet; 9 refuses
    conds6 = ", ".join(f"e = 'x{i}'" for i in range(6))
    spark.createDataFrame(
        [(1, T(i), f"x{i}") for i in range(6)],
        "u int, ts timestamp, e string").createOrReplaceTempView("sq_c")
    r = ch_sql(spark, f"""
        SELECT sequenceMatch('(?1).*(?6)')(ts, {conds6}) AS m,
               sequenceCount('(?3)')(ts, {conds6}) AS n
        FROM sq_c GROUP BY u""").collect()[0]
    assert r.m is True and r.n == 1
    # round 9: hex-oct tokens lift the cap to 32 (upstream's exact cap,
    # [U] AggregateFunctionSequenceMatch.h max_events)
    conds33 = ", ".join(["a"] * 33)
    with _p.raises(ValueError, match="up to 32"):
        translate(f"SELECT sequenceMatch('(?1)')(ts, {conds33}) FROM t")
    with _p.raises(ValueError, match="up to 31"):
        translate("SELECT sequenceNextNode('forward', 'head')"
                  f"(ts, e, {conds33}) FROM t")
    # 24 conditions execute end-to-end through the widened alphabet:
    # a chain across all 24, a top-bit count (bit 23, beyond the old
    # 16-condition cap), and a guarded pair in the high half
    conds24 = ", ".join(f"e = 'y{i}'" for i in range(24))
    spark.createDataFrame(
        [(1, T(i), f"y{i}") for i in range(24)] + [(1, T(24), "y23")],
        "u int, ts timestamp, e string").createOrReplaceTempView("sq_w")
    pat24 = "".join(f"(?{i})" for i in range(1, 25))
    r = ch_sql(spark, f"""
        SELECT sequenceMatch('{pat24}')(ts, {conds24}) AS chain,
               sequenceCount('(?24)')(ts, {conds24}) AS hi,
               sequenceMatch('(?22)(?t<5)(?23)')(ts, {conds24}) AS g
        FROM sq_w GROUP BY u""").collect()[0]
    assert r.chain is True and r.hi == 2 and r.g is True


def test_create_dictionary_and_dictget(spark):
    """CREATE/DROP DICTIONARY DDL + dictGet family translation: lookups
    resolve via correlated scalar subqueries; misses go NULL/default;
    unknown names, network sources, and bad attributes refuse."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    spark.createDataFrame([(0, "A", 1.5), (1, "B", 2.5)],
                          "k int, v string, w double") \
        .createOrReplaceTempView("dict_src_t")
    ch_statement(spark, """
        CREATE DICTIONARY t_dict (k UInt64, v String, w Float64)
        PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 'dict_src_t'))
        LAYOUT(FLAT()) LIFETIME(300)""")
    try:
        r = ch_sql(spark, """
            SELECT dictGet('t_dict', 'v', 1) AS v,
                   dictGetString('t_dict', 'v', 0) AS vs,
                   dictGetFloat64('t_dict', 'w', 1) AS w,
                   dictGetOrDefault('t_dict', 'v', 9, 'dflt') AS d,
                   dictHas('t_dict', 9) AS h
        """).collect()[0]
        assert (r.v, r.vs, r.w, r.d, r.h) == ("B", "A", 2.5, "dflt",
                                              False)
        with _p.raises(ValueError, match="no attribute"):
            ch_sql(spark, "SELECT dictGet('t_dict', 'zz', 1)")
        with _p.raises(ValueError, match="CLICKHOUSE"):
            ch_statement(spark, """
                CREATE DICTIONARY bad_d (k UInt64, v String)
                PRIMARY KEY k SOURCE(MYSQL(HOST 'x' TABLE 'y'))
                LAYOUT(HASHED())""")
    finally:
        d = ch_statement(spark, "DROP DICTIONARY t_dict").collect()[0]
        assert d.dropped
    with _p.raises(ValueError, match="unknown dictionary"):
        ch_sql(spark, "SELECT dictGet('t_dict', 'v', 1)")


def test_review_r7_edge_semantics(spark):
    """Round-7 review fixes: sequenceMatch skips non-matching events
    (reference contract) and sequenceCount scans lazily (counts each
    earliest-completing chain); randomString(0) is ''; arrayElement
    out-of-range/0 yields NULL not an error; duplicate CREATE
    DICTIONARY refuses without IF NOT EXISTS."""
    import datetime

    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    T = lambda s: datetime.datetime(2024, 1, 1) + \
        datetime.timedelta(seconds=s)
    # view, OTHER, purchase: adjacency (?1)(?2) must hold (the
    # unmatched event is skipped); 1,2,1,2 must COUNT 2 chains
    spark.createDataFrame(
        [(1, T(0), "view"), (1, T(5), "other"), (1, T(9), "purchase"),
         (2, T(0), "view"), (2, T(1), "purchase"),
         (2, T(2), "view"), (2, T(3), "purchase")],
        "u int, ts timestamp, e string").createOrReplaceTempView("sq_r7")
    rows = {r.u: (r.adj, r.n) for r in ch_sql(spark, """
        SELECT u, sequenceMatch('(?1)(?2)')(ts, e == 'view',
                                            e == 'purchase') AS adj,
               sequenceCount('(?1).*(?2)')(ts, e == 'view',
                                           e == 'purchase') AS n
        FROM sq_r7 GROUP BY u""").collect()}
    assert rows[1] == (True, 1)
    assert rows[2] == (True, 2)      # greedy '.*' would say 1
    r = ch_sql(spark, """
        SELECT randomString(0) AS z, length(randomString(5)) AS n,
               arrayElement([10, 20], 5) AS oob,
               arrayElement([10, 20], 0) AS zero
    """).collect()[0]
    assert r.z == "" and r.n == 5
    assert r.oob is None and r.zero is None
    spark.createDataFrame([(1, "x")], "k int, v string") \
        .createOrReplaceTempView("dup_src_t")
    ch_statement(spark, """
        CREATE DICTIONARY dup_d (k UInt64, v String) PRIMARY KEY k
        SOURCE(CLICKHOUSE(TABLE 'dup_src_t')) LAYOUT(HASHED())""")
    try:
        with _p.raises(ValueError, match="already exists"):
            ch_statement(spark, """
                CREATE DICTIONARY dup_d (k UInt64, v String)
                PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 'dup_src_t'))
                LAYOUT(HASHED())""")
        # IF NOT EXISTS skips, keeping the existing binding
        row = ch_statement(spark, """
            CREATE DICTIONARY IF NOT EXISTS dup_d (k UInt64, zz String)
            PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 'other_t'))
            LAYOUT(HASHED())""").collect()[0]
        assert row.source_table == "dup_src_t"
    finally:
        ch_statement(spark, "DROP DICTIONARY dup_d")
    # oversized minhash signature request refuses instead of silently
    # truncating
    from pyspark.sql import functions as F

    from clickhouse_clickhouse_spark.functions.text import (
        word_shingle_minhash,
    )

    with _p.raises(ValueError, match="num_hashes"):
        word_shingle_minhash(F.lit("a b c"), 2, 32)


def test_presentation_dialect_twins(spark):
    """SQL-dialect presentation helpers equal their ch_functions Column
    twins (formatReadableSize/Quantity, bar); map/zip/hint names
    translate."""
    from pyspark.sql import functions as F

    from clickhouse_clickhouse_spark import ch_functions as CH
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    d = spark.createDataFrame(
        [(0,), (999,), (2048,), (5 * 1024**2,), (3 * 1024**3,),
         (123456789,)], "n long")
    d.createOrReplaceTempView("pres_t")
    got = ch_sql(spark, """
        SELECT n, formatReadableSize(n) AS sz,
               formatReadableQuantity(n) AS q,
               bar(n, 0, 3221225472, 10) AS b
        FROM pres_t""").collect()
    want = d.select(
        "n", CH.formatReadableSize("n").alias("sz"),
        CH.formatReadableQuantity("n").alias("q"),
        CH.bar("n", 0, 3221225472, 10).alias("b")).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    r = ch_sql(spark, """
        SELECT mapKeys(map('a', 1, 'b', 2)) AS mk,
               mapValues(map('a', 1)) AS mv,
               arrayZip([1, 2], ['x', 'y']) AS az,
               indexHint(1 > 0) AS ih, ignore(42, 'x') AS ig
    """).collect()[0]
    assert sorted(r.mk) == ["a", "b"] and r.mv == [1]
    assert len(r.az) == 2 and r.ih is True and r.ig == 0


def test_resample_combinator(spark):
    """sum/count/avgResample(start,end,step)(...): per-bucket aggregate
    arrays; out-of-range keys ignored; empty buckets 0/0/NULL."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    spark.createDataFrame(
        [(0, 10.0), (1, 20.0), (5, 50.0), (99, 999.0), (-3, 1.0)],
        "k long, v double").createOrReplaceTempView("rs_t")
    r = ch_sql(spark, """
        SELECT sumResample(0, 6, 2)(v, k) AS s,
               countResample(0, 6, 2)(k) AS c,
               avgResample(0, 6, 2)(v, k) AS a
        FROM rs_t""").collect()[0]
    # buckets [0,2) [2,4) [4,6): k=99 and k=-3 ignored
    assert r.s == [30.0, 0.0, 50.0]
    assert r.c == [2, 0, 1]
    assert r.a == [15.0, None, 50.0]
    with _p.raises(ValueError, match="numeric literals"):
        translate("SELECT sumResample(a, 6, 2)(v, k) FROM t")
    with _p.raises(ValueError, match="end > start"):
        translate("SELECT countResample(6, 0, 2)(k) FROM t")
    # fractional step (round-8 advice): ceil((1-0)/0.5) = 2 buckets and
    # the in-range event near the top edge lands in the LAST bucket
    spark.createDataFrame(
        [(0.1, 1.0), (0.6, 10.0), (0.9999999, 100.0)],
        "k double, v double").createOrReplaceTempView("rs_frac")
    fr = ch_sql(spark, "SELECT sumResample(0, 1, 0.5)(v, k) AS s, "
                       "countResample(0, 1, 0.5)(k) AS c "
                       "FROM rs_frac").collect()[0]
    assert fr.s == [1.0, 110.0]
    assert fr.c == [1, 2]


def test_dict_range_hashed_and_hierarchy(spark):
    """Round-8 dictionary surface: RANGE_HASHED layout (point-in-range
    lookups, overlap -> latest start), key-column shadowing fix (outer
    key expression naming a dictionary column), HIERARCHICAL walks
    with dangling-parent retention and cycle-bounded depth, DDL
    refusals."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    spark.createDataFrame(
        [(1, 10, 19, "low"), (1, 15, 30, "over"), (2, 0, None, "open")],
        "pid int, lo int, hi int, tier string") \
        .createOrReplaceTempView("rng_src_t")
    ch_statement(spark, """CREATE DICTIONARY IF NOT EXISTS t_rng
        (pid UInt64, lo Int64, hi Int64, tier String)
        PRIMARY KEY pid SOURCE(CLICKHOUSE(TABLE 'rng_src_t'))
        LAYOUT(RANGE_HASHED()) RANGE(MIN lo MAX hi)""")
    # outer column is ALSO named pid — the round-8 shadowing fix
    spark.createDataFrame([(1, 17), (1, 25), (2, 999), (3, 1)],
                          "pid int, q int").createOrReplaceTempView(
        "rng_q_t")
    out = {(r.pid, r.q): (r.t, r.h) for r in ch_sql(spark, """
        SELECT pid, q, dictGet('t_rng', 'tier', pid, q) AS t,
               dictHas('t_rng', pid, q) AS h
        FROM rng_q_t""").collect()}
    # q=17 matches [10,19] AND [15,30] -> latest start (15) wins
    assert out[(1, 17)] == ("over", True)
    assert out[(1, 25)] == ("over", True)
    assert out[(2, 999)] == ("open", True)    # NULL hi = open interval
    assert out[(3, 1)] == (None, False)
    with _p.raises(ValueError, match="RANGE"):
        ch_statement(spark, """CREATE DICTIONARY t_rng_bad (k UInt64)
            PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 'rng_src_t'))
            LAYOUT(RANGE_HASHED())""")
    with _p.raises(ValueError, match="expected"):
        ch_sql(spark, "SELECT dictGet('t_rng', 'tier', 1) AS x")

    # hierarchy: dangling parent kept, cycles bounded, missing key ->
    # [key]
    spark.createDataFrame(
        [(1, 0), (2, 1), (3, 2), (7, 8), (8, 7)],
        "id int, parent int").createOrReplaceTempView("hier_src_t")
    ch_statement(spark, """CREATE DICTIONARY IF NOT EXISTS t_hier
        (id UInt64, parent UInt64 HIERARCHICAL)
        PRIMARY KEY id SOURCE(CLICKHOUSE(TABLE 'hier_src_t'))
        LAYOUT(HASHED())""")
    r = {row.id: (row.p, row.isin) for row in ch_sql(spark, """
        SELECT id, dictGetHierarchy('t_hier', id) AS p,
               dictIsIn('t_hier', id, 1) AS isin
        FROM hier_src_t""").collect()}
    # 3 -> 2 -> 1 -> 0 (0 dangling, kept — twin of the programmatic
    # HierarchicalDictionary contract)
    assert r[3] == ([3, 2, 1, 0], True)
    assert r[1] == ([1, 0], True)
    # 7 <-> 8 cycle: bounded at depth 8, no hang
    assert len(r[7][0]) == 9 and r[7][1] is False
    missing = ch_sql(
        spark, "SELECT dictGetHierarchy('t_hier', 42) AS p").collect()[0]
    assert missing.p == [42]
    with _p.raises(ValueError, match="HIERARCHICAL"):
        ch_sql(spark, "SELECT dictGetHierarchy('t_rng', 1) AS x")


def test_parametric_if_composition_and_topk(spark):
    """Round-8: parametric names compose with trailing -If (condition =
    last call argument, CASE-wraps every value arg); exact topK /
    topKWeighted repaired (old templates never executed: MAP() seed
    type mismatch / DUPLICATED_MAP_KEY on repeats)."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    spark.createDataFrame([(i, i % 3) for i in range(10)],
                          "x int, g int").createOrReplaceTempView("pif_t")
    r = ch_sql(spark, """
        SELECT topK(2)(g) AS t,
               topKIf(2)(g, x > 3) AS ti,
               topKWeighted(2)(g, x) AS tw,
               quantileExactIf(0.5)(x, x % 2 = 0) AS q,
               uniqUpToIf(3)(g, x > 100) AS u,
               quantilesIf(0.25, 0.75)(x, x < 8) AS qs
        FROM pif_t""").collect()[0]
    # counts g: 0->4, 1->3, 2->3 (tie 1<2); weights g: 18/12/15
    assert r.t == [0, 1] and r.ti == [0, 1] and r.tw == [0, 2]
    assert r.q == 4.0 and r.u == 0 and r.qs == [1, 5]
    with _p.raises(ValueError, match="condition"):
        translate("SELECT quantileIf(0.5)() FROM t")
    # NULL weights neither poison a value's sum nor admit the value
    # with weight 0; NULL values are skipped (round-8 review finding)
    spark.createDataFrame([(1, 10), (1, None), (2, 5), (None, 7)],
                          "v int, w int").createOrReplaceTempView(
        "tw_null")
    tw = ch_sql(spark, "SELECT topKWeighted(2)(v, w) AS t "
                       "FROM tw_null").collect()[0]
    assert tw.t == [1, 2]
    # avgWeighted skips rows whose VALUE is NULL entirely (their
    # weight must not inflate the denominator)
    spark.createDataFrame([(None, 5.0), (2.0, 1.0)],
                          "x double, w double").createOrReplaceTempView(
        "aw_null")
    aw = ch_sql(spark, "SELECT avgWeighted(x, w) AS a FROM aw_null") \
        .collect()[0]
    assert aw.a == 2.0
    # round-9 advice: integral weights accumulate in BIGINT ((w - w) + 0L
    # seed), so sums past 2^53 stay exact and near-tied top-k entries
    # order correctly — in DOUBLE both sums below round to the same value
    # and the tiebreak would wrongly order by value ascending
    big = 2 ** 53
    spark.createDataFrame(
        [(1, big + 1), (1, big + 1), (2, 2 * big + 3)],
        "v int, w long").createOrReplaceTempView("tw_big")
    twb = ch_sql(spark, "SELECT topKWeighted(2)(v, w) AS t FROM tw_big") \
        .collect()[0]
    assert twb.t == [2, 1]   # 2*big+3 > 2*big+2, only visible in BIGINT
    # high-cardinality group: the run-length form is O(n log n), not
    # O(distinct x n) — 4000 distinct values with a known top-2
    rows = [(i % 2000, 1) for i in range(4000)] + [(9999, 1)] * 5 + \
           [(9998, 1)] * 4
    spark.createDataFrame(rows, "v int, w int") \
        .createOrReplaceTempView("tk_wide")
    wide = ch_sql(spark, "SELECT topK(2)(v) AS t, "
                         "topKWeighted(2)(v, w) AS tw FROM tk_wide") \
        .collect()[0]
    assert wide.t == [9999, 9998] and wide.tw == [9999, 9998]


def test_sequence_next_node_dialect(spark):
    """sequenceNextNode(direction, base) (round 8): hand-checked
    fixture covering head anchoring, first/last match, backward/tail,
    the no-next-event NULL, and combo refusals."""
    import datetime

    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    T = lambda s: datetime.datetime(2024, 1, 1) + \
        datetime.timedelta(seconds=s)
    rows = [
        (1, T(0), "A"), (1, T(1), "B"), (1, T(2), "C"), (1, T(3), "D"),
        (2, T(0), "X"), (2, T(1), "A"), (2, T(2), "B"), (2, T(3), "C"),
        (3, T(0), "A"), (3, T(1), "B"),
        (4, T(0), "A"), (4, T(1), "B"), (4, T(2), "C"),
        (4, T(3), "A"), (4, T(4), "B"), (4, T(5), "D"),
        (5, T(0), "C"), (5, T(1), "B"), (5, T(2), "A"),
    ]
    spark.createDataFrame(rows, "u int, ts timestamp, e string") \
        .createOrReplaceTempView("snn_t")
    q = lambda d, b: {r.u: r.nn for r in ch_sql(spark, f"""
        SELECT u, sequenceNextNode('{d}', '{b}')(ts, e, e = 'A',
            e = 'A', e = 'B') AS nn
        FROM snn_t GROUP BY u""").collect()}
    assert q("forward", "head") == {1: "C", 2: None, 3: None, 4: "C",
                                    5: None}
    assert q("forward", "first_match")[2] == "C"
    assert q("forward", "last_match")[4] == "D"
    # backward/tail: A at the end, B before it -> the event before B
    assert q("backward", "tail")[5] == "C"
    with _p.raises(ValueError, match="unsupported"):
        translate("SELECT sequenceNextNode('forward', 'tail')"
                  "(ts, e, a, b) FROM t")
    with _p.raises(ValueError, match="direction"):
        translate("SELECT sequenceNextNode(1, 'head')"
                  "(ts, e, a, b) FROM t")
    # last_match whose LAST chain has no next event -> NULL (must NOT
    # fall back to an earlier chain's next; round-8 review finding)
    spark.createDataFrame(
        [(9, T(0), "A"), (9, T(1), "B"), (9, T(2), "C"),
         (9, T(3), "A"), (9, T(4), "B")],
        "u int, ts timestamp, e string").createOrReplaceTempView(
        "snn_lm")
    lm = ch_sql(spark, '''
        SELECT sequenceNextNode('forward', 'last_match')(ts, e,
            e = 'A', e = 'A', e = 'B') AS nn
        FROM snn_lm GROUP BY u''').collect()[0]
    assert lm.nn is None
    # -If cannot compose (row exclusion is inexpressible here)
    with _p.raises(ValueError, match="sequenceNextNodeIf"):
        translate("SELECT sequenceNextNodeIf('forward', 'head')"
                  "(ts, e, a, b, c) FROM t")


def test_round9_scalar_tail(spark):
    """Round-9 dialect tail — every new template executes and matches a
    hand-checked value (the oracle query ch_sql_scalar_tail_r9 covers
    the rest value-exactly vs DuckDB)."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    spark.createDataFrame([(1,)], "i int").createOrReplaceTempView("one9")
    r = ch_sql(spark, """
        SELECT bitRotateLeft(bitRotateRight(123456789, 13), 13) AS rot,
               bitTestAll(7, 0, 1, 2) AS bta, bitTestAny(4, 0, 1) AS btany,
               length(toFixedString('ab', 4)) AS fx,
               CAST(toDecimal32('3.145', 2) AS STRING) AS dec32,
               accurateCast('42', 'Int64') AS ac,
               accurateCastOrNull('abc', 'Int64') AS acn,
               mapContains(map('a', 1), 'a') AS mc,
               arrayRotateLeft(array(1, 2, 3, 4, 5), 7) AS rotl,
               arrayRotateRight(array(1, 2, 3), 1) AS rotr,
               roundDown(7, array(1, 5, 10)) AS rd,
               roundAge(44) AS ra,
               size(timeSlots(CAST('2024-03-15 10:44:00' AS TIMESTAMP),
                              3600)) AS slots,
               ifNotFinite(CAST('NaN' AS DOUBLE), 42.0) AS inf,
               extractURLParameterNames('http://x.com/a?b=1&c=2') AS pn,
               toRelativeMonthNum(CAST('2023-01-10' AS DATE)) AS rm,
               (normalizedQueryHash('SELECT 1 + 2') =
                normalizedQueryHash('SELECT 3 + 4')) AS nqh,
               addHours(CAST('2024-03-15 10:00:00' AS TIMESTAMP), 5) AS ah,
               subtractMonths(CAST('2024-03-31 09:30:00' AS TIMESTAMP),
                              1) AS sm
        FROM one9""").collect()[0]
    assert r.rot == 123456789 and r.bta == 1 and r.btany == 0
    assert r.fx == 4 and r.dec32 == "3.15" and r.ac == 42 and r.acn is None
    assert r.mc is True and r.rotl == [3, 4, 5, 1, 2] and r.rotr == [3, 1, 2]
    assert r.rd == 5 and r.ra == 35 and r.slots == 3 and r.inf == 42.0
    assert r.pn == ["b", "c"] and r.rm == 24277 and r.nqh is True
    assert str(r.ah) == "2024-03-15 15:00:00"
    # month-end clamp + preserved time component (the reference keeps
    # the DateTime time-of-day; ADD_MONTHS would have truncated it)
    assert str(r.sm) == "2024-02-29 09:30:00"
    with _p.raises(ValueError, match="unsupported target type"):
        translate("SELECT accurateCast(x, 'Tuple') FROM t")


def test_round9_scalar_tail2(spark):
    """Round-9 dialect tail, second batch (resolve-probe findings):
    pad defaults, array shift/sample/fold/dot, date/time tail, base64
    family, readable renderings, gamma family, string distances — one
    Spark action; the oracle query ch_sql_string_distance_tail covers
    the distance functions value-exactly vs DuckDB natives."""
    import math

    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    spark.createDataFrame([(1,)], "i int").createOrReplaceTempView("one9b")
    r = ch_sql(spark, """
        SELECT leftPad('ab', 4) AS lp, rightPad('ab', 4, '.') AS rp,
               leftPadUTF8('ab', 4) AS lpu,
               arrayShiftLeft(array(1, 2, 3), 1, 0) AS shl,
               arrayShiftRight(array(1, 2, 3), 1, 0) AS shr,
               arrayShiftLeft(array(1, 2, 3), -1, 0) AS shneg,
               arrayShiftLeft(array(1, 2, 3), 9, 7) AS shover,
               size(arrayRandomSample(array(1, 2, 3), 2)) AS samp,
               arrayFold((acc, x) -> acc + x, array(1, 2, 3), 10) AS fold,
               arrayDotProduct(array(1.0, 2.0), array(4.0, 5.0)) AS dot,
               toLastDayOfWeek(CAST('2024-02-15' AS DATE)) AS ldw,
               fromDaysSinceYearZero(719528) AS fdyz,
               timeDiff(CAST('2024-02-15 10:00:00' AS TIMESTAMP),
                        CAST('2024-02-15 11:30:00' AS TIMESTAMP)) AS td,
               fragment('https://a.b/c?d=1#frag') AS frg,
               queryStringAndFragment('https://a.b/c?d=1#frag') AS qsf,
               base64Encode('kitten') AS b64,
               base64Decode('a2l0dGVu') AS b64d,
               tryBase64Decode('!!!') AS b64t,
               base64URLDecode(base64URLEncode('ab?cd>e~')) AS b64u,
               formatReadableDecimalSize(1234567) AS frds,
               formatReadableTimeDelta(90061) AS frtd,
               formatReadableTimeDelta(3725, 'minutes') AS frtd_m,
               formatReadableTimeDelta(0) AS frtd_0,
               formatReadableTimeDelta(-90) AS frtd_n,
               erfc(0.5) AS ec, lgamma(6.5) AS lg, lgamma(0.3) AS lg_s,
               lgamma(-2.5) AS lg_n, tgamma(4.0) AS tg,
               tgamma(-0.5) AS tg_n,
               damerauLevenshteinDistance('ca', 'abc') AS dam,
               damerauLevenshteinDistance('ab', 'ba') AS dam_t,
               jaroSimilarity('martha', 'marhta') AS jaro,
               jaroWinklerSimilarity('martha', 'marhta') AS jw,
               jaroWinklerSimilarity('aXXXXXX', 'aYYYYYY') AS jw_nb,
               jaroSimilarity('', '') AS jaro_e,
               generateUUIDv7() AS u7
        FROM one9b""").collect()[0]
    assert r.lp == "  ab" and r.rp == "ab.." and r.lpu == "  ab"
    assert r.shl == [2, 3, 0] and r.shr == [0, 1, 2]
    assert r.shneg == [0, 1, 2] and r.shover == [7, 7, 7]
    assert r.samp == 2 and r.fold == 16 and r.dot == 14.0
    # Sunday-based week mode 0: 2024-02-15 is a Thursday → that week's
    # Saturday is 2024-02-17 (consistent with toStartOfWeek = 02-11)
    assert str(r.ldw) == "2024-02-17" and str(r.fdyz) == "1970-01-01"
    assert r.td == 5400 and r.frg == "frag" and r.qsf == "d=1#frag"
    assert r.b64 == "a2l0dGVu" and r.b64d == "kitten" and r.b64t == ""
    assert r.b64u == "ab?cd>e~" and r.frds == "1.23 MB"
    assert r.frtd == "1 day, 1 hour, 1 minute, 1 second"
    assert r.frtd_m == "62 minutes, 5 seconds" and r.frtd_0 == "0 seconds"
    # negative inputs: magnitude with a leading '-', not DIV/PMOD garbage
    assert r.frtd_n == "-1 minute, 30 seconds"
    # erf polynomial carries the A&S 7.1.26 ~1.5e-7 bound; Stirling
    # lgamma is ~1e-9 at these arguments
    assert abs(r.ec - (1 - math.erf(0.5))) < 1e-6
    assert abs(r.lg - math.lgamma(6.5)) < 1e-7
    assert abs(r.lg_s - math.lgamma(0.3)) < 1e-7
    assert abs(r.lg_n - math.lgamma(-2.5)) < 1e-7
    assert abs(r.tg - 6.0) < 1e-7 and abs(r.tg_n - math.gamma(-0.5)) < 1e-7
    # FULL Damerau-Levenshtein (da/db formulation): 'ca'->'abc' is 2
    # (transpose + insert inside the transposition; OSA would give 3)
    assert r.dam == 2 and r.dam_t == 1
    assert abs(r.jaro - 17 / 18) < 1e-12
    # common prefix 'mar' -> l = 3
    assert abs(r.jw - (17 / 18 + 3 * 0.1 * (1 - 17 / 18))) < 1e-12
    # below the 0.7 boost threshold the winkler form IS the jaro form
    assert abs(r.jw_nb - 3 / 7) < 1e-12
    # strcmp95 convention: any empty input (even both) scores 0.0
    assert r.jaro_e == 0.0
    import re as _re
    assert _re.fullmatch(
        r"[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-"
        r"[0-9a-f]{12}", r.u7)
    with _p.raises(ValueError, match="max_unit"):
        translate("SELECT formatReadableTimeDelta(5, 'years') FROM t")
    with _p.raises(ValueError, match="unterminated"):
        translate("SELECT format('a{b', s) FROM t")
    with _p.raises(ValueError, match="exactly one array"):
        translate("SELECT arrayFold((a, x) -> a, arr, arr2, 0) FROM t")


def test_string_distance_differential_vs_duckdb(spark):
    """damerauLevenshteinDistance / jaroSimilarity /
    jaroWinklerSimilarity: 300 seeded adversarial pairs (transpositions,
    repeats, shared prefixes, empties, length skew) differentially
    checked against DuckDB's independent native implementations in ONE
    Spark action."""
    import random

    import duckdb

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    rnd = random.Random(909)
    alph = "abcde"
    pairs = [("", ""), ("", "abc"), ("a", "a"), ("ab", "ba"),
             ("ca", "abc"), ("aaaa", "aa"), ("abcd", "abdc"),
             ("xxabyy", "xxbayy")]
    while len(pairs) < 300:
        n1, n2 = rnd.randint(0, 9), rnd.randint(0, 9)
        a = "".join(rnd.choice(alph) for _ in range(n1))
        b = "".join(rnd.choice(alph) for _ in range(n2))
        if rnd.random() < 0.3 and len(a) > 1:    # planted transposition
            i = rnd.randrange(len(a) - 1)
            b = a[:i] + a[i + 1] + a[i] + a[i + 2:]
        pairs.append((a, b))
    spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "id int, a string, b string").createOrReplaceTempView("sd_pairs")
    got = {r.id: r for r in ch_sql(spark, """
        SELECT id, damerauLevenshteinDistance(a, b) AS dam,
               jaroSimilarity(a, b) AS jaro,
               jaroWinklerSimilarity(a, b) AS jw
        FROM sd_pairs""").collect()}
    con = duckdb.connect()
    bad = []
    for i, (a, b) in enumerate(pairs):
        ed, ej, ew = con.execute(
            "SELECT damerau_levenshtein(?, ?), jaro_similarity(?, ?), "
            "jaro_winkler_similarity(?, ?)",
            [a, b, a, b, a, b]).fetchone()
        g = got[i]
        if g.dam != ed or abs(g.jaro - ej) > 1e-9 or abs(g.jw - ew) > 1e-9:
            bad.append((a, b, (g.dam, g.jaro, g.jw), (ed, ej, ew)))
    assert not bad, f"{len(bad)} mismatches; first 3: {bad[:3]}"
    # scale guard: the SQL-fold DP refuses document-length inputs
    # loudly at the offending row (O(n*m*(n+m)) is a name-length tool)
    import pytest as _p
    with _p.raises(Exception, match="500 code points"):
        ch_sql(spark, "SELECT damerauLevenshteinDistance("
                      "repeat('x', 600), 'abc') AS d").collect()


def test_ztest_planner_dialect_twins(spark):
    """Dialect proportionsZTest / minSampleSizeConversion /
    minSampleSizeContinous match the programmatic ch_functions twins
    field-for-field (same Acklam constants python-side vs
    column-expression side), plus literal-guard refusals."""
    import pytest as _p

    from clickhouse_clickhouse_spark import ch_functions as ch
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    spark.createDataFrame([(1,)], "i int").createOrReplaceTempView("zt1")
    got = ch_sql(spark, """
        SELECT proportionsZTest(34, 43, 100, 120, 0.95, 'pooled') AS zp,
               proportionsZTest(34, 43, 100, 120, 0.90, 'unpooled') AS zu,
               minSampleSizeConversion(0.25, 0.03, 0.8, 0.05) AS msc,
               minSampleSizeContinous(100.0, 20.0, 0.05, 0.8, 0.05) AS msk
        FROM zt1""").collect()[0]
    from pyspark.sql import functions as F
    exp = spark.range(1).select(
        ch.proportionsZTest(F.lit(34), F.lit(100), F.lit(43),
                            F.lit(120), 0.95).alias("zp"),
        ch.minSampleSizeConversion(F.lit(0.25), F.lit(0.03)).alias("msc"),
        ch.minSampleSizeContinous(F.lit(100.0), F.lit(20.0),
                                  F.lit(0.05)).alias("msk"),
    ).collect()[0]
    for f in ("z_stat", "p_value", "ci_low", "ci_high"):
        assert abs(got.zp[f] - exp.zp[f]) < 1e-9, f
    for q in ("msc", "msk"):
        for f in ("minimum_sample_size", "detect_range_lower",
                  "detect_range_upper"):
            assert abs(got[q][f] - exp[q][f]) < 1e-6, (q, f)
    # unpooled z differs from pooled z; CI fields are usevar-invariant
    assert got.zu["z_stat"] != got.zp["z_stat"]
    assert abs(got.zu["ci_low"] - got.zp["ci_low"]) > 0  # narrower 90% CI
    with _p.raises(ValueError, match="numeric literal"):
        translate("SELECT proportionsZTest(a, b, c, d, conf, 'pooled') "
                  "FROM t")
    with _p.raises(ValueError, match="pooled"):
        translate("SELECT proportionsZTest(1, 2, 3, 4, 0.95, 'x') FROM t")


def test_round9_scalar_tail3(spark):
    """Round-9 dialect tail, third batch (wide resolve-probe): strings,
    regex group extraction, arrays, date/time tail, IPv4, bits, JSON,
    hashes, maps, tumble scalars, randomness, row rendering — one Spark
    action with hand-checked values; DuckDB-replayable members are also
    covered by the ch_sql_scalar_tail3_r9 oracle."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    spark.sql("""SELECT 'ab cd' AS s, DATE'2024-02-15' AS d,
        TIMESTAMP'2024-02-15 10:34:56' AS ts, 2.5 AS x, 1234567 AS n,
        'https://u:p@news.clickhouse.com.tr:8443/a/b?c=1#g' AS url,
        '10.1.2.3' AS ip, map(1, 10.0, 4, 40.0) AS mi,
        map('k1', 1, 'z', 2) AS m, '{"a": {"b": 3}, "c": [1,2]}' AS j
        """).createOrReplaceTempView("t9c")
    r = ch_sql(spark, r"""
        SELECT positionCaseInsensitive(s, 'B C') AS pci,
               countSubstringsCaseInsensitive('aBabA', 'ab') AS csci,
               splitByNonAlpha('ab1cd-ef') AS sna,
               format('{} and {}!', s, n) AS fmt,
               format('{1}-{0}', s, n) AS fmt_idx,
               format('a{{b}} {}', n) AS fmt_br,
               countDigits(-1234567) AS cd,
               positiveModulo(-7, 3) AS pm,
               extractGroups('k=v', '(\\w+)=(\\w+)') AS eg,
               extractAllGroupsHorizontal('a=1,b=2',
                                          '(\\w+)=(\\w+)') AS egh,
               extractAllGroupsVertical('a=1,b=2',
                                        '(\\w+)=(\\w+)') AS egv,
               basename(url) AS bn,
               arrayPartialSort(2, array(3, 1, 2)) AS aps,
               arrayCumSumNonNegative(array(1, -3, 4, -1)) AS acsn,
               arrayLevenshteinDistance(array(1, 2, 3),
                                        array(2, 3, 4)) AS ald,
               formatDateTimeInJodaSyntax(ts, 'yyyy-MM') AS joda,
               CAST(dateAdd('day', 3, d) AS DATE) AS dadd,
               parseTimeDelta('2 days, 3 hours and 5 seconds') AS ptd,
               serverTimezone() AS stz, timeZoneOffset(ts) AS tzo,
               intExp2(10) AS ie2, intExp10(18) AS ie10,
               isConstant(3) AS ic1, isConstant(n) AS ic0,
               toDecimalString(x, 3) AS tds,
               firstSignificantSubdomain(url) AS fsd,
               cutToFirstSignificantSubdomain(url) AS cfsd,
               encodeURLComponent('a b&c') AS euc,
               encodeURLFormComponent('a b') AS eufc,
               netloc(url) AS nl, port(url) AS pt,
               port('http://x.com/a') AS pt0,
               IPv4NumToString(167838211) AS i2s,
               IPv4StringToNum(ip) AS s2i,
               IPv4CIDRToRange(ip, 24) AS cidr,
               isIPAddressInRange(ip, '10.0.0.0/8') AS inr,
               unbin('0011000100110010') AS ub,
               bitmaskToArray(10) AS bma, bitmaskToList(50) AS bml,
               bitPositionsToArray(10) AS bpa,
               JSONHas(j, 'a') AS jh, JSONLength(j) AS jl,
               JSONType(j) AS jt, JSONType('3.5') AS jtd,
               simpleJSONExtractInt('{"q": 7}', 'q') AS sji,
               javaHash('hello') AS jvh, intHash64(42) AS ih,
               MACNumToString(1108152157446) AS mac,
               MACStringToNum('01:02:03:04:05:06') AS macn,
               mapPopulateSeries(mi) AS mps,
               mapContainsKeyLike(m, 'k%') AS mckl,
               tumbleStart(ts, INTERVAL 1 HOUR) AS tst,
               tumbleEnd(ts, INTERVAL 1 HOUR) AS ten,
               formatRow('CSV', s, n) AS frc,
               formatRow('TSV', s, n) AS frt,
               CAST(d + toIntervalMonth(2) AS DATE) AS addm,
               randBernoulli(0.5) AS rb
        FROM t9c""").collect()[0]
    # digits are NOT separators (upstream: whitespace + punctuation only)
    assert r.pci == 2 and r.csci == 2 and r.sna == ["ab1cd", "ef"]
    assert r.fmt == "ab cd and 1234567!" and r.fmt_idx == "1234567-ab cd"
    # '{{'/'}}' render literal braces (upstream escape)
    assert r.fmt_br == "a{b} 1234567"
    assert r.cd == 7 and r.pm == 2
    assert r.eg == ["k", "v"]
    assert [list(x) for x in r.egh] == [["a", "b"], ["1", "2"]]
    assert [list(x) for x in r.egv] == [["a", "1"], ["b", "2"]]
    assert r.bn == "b?c=1#g" and r.aps == [1, 2, 3]
    assert r.acsn == [1, 0, 4, 3] and r.ald == 2
    assert r.joda == "2024-02" and str(r.dadd) == "2024-02-18"
    assert r.ptd == 183605.0 and r.stz == "UTC" and r.tzo == 0
    assert r.ie2 == 1024 and r.ie10 == 10 ** 18
    assert r.ic1 == 1 and r.ic0 == 0 and r.tds == "2.500"
    assert r.fsd == "clickhouse" and r.cfsd == "clickhouse.com.tr"
    assert r.euc == "a%20b%26c" and r.eufc == "a+b"
    assert r.nl == "u:p@news.clickhouse.com.tr:8443"
    assert r.pt == 8443 and r.pt0 == 0
    assert r.i2s == "10.1.2.3" and r.s2i == 167838211
    assert tuple(r.cidr) == ("10.1.2.0", "10.1.2.255") and r.inr is True
    assert r.ub == "12" and r.bma == [2, 8] and r.bml == "2,16,32"
    assert r.bpa == [1, 3]
    assert r.jh is True and r.jl == 2 and r.jt == "Object"
    assert r.jtd == "Double" and r.sji == 7
    assert r.jvh == 99162322            # Java "hello".hashCode()
    # murmur64 finalizer bit-parity (python-emulated expectation)
    assert r.ih == -6593282922179859514 or r.ih == _ih64_py(42)
    assert r.mac == "01:02:03:04:05:06" and r.macn == 1108152157446
    assert dict(r.mps) == {1: 10.0, 2: 0.0, 3: 0.0, 4: 40.0}
    assert r.mckl is True
    assert str(r.tst) == "2024-02-15 10:00:00"
    assert str(r.ten) == "2024-02-15 11:00:00"
    assert r.frc == "ab cd,1234567" and r.frt == "ab cd\t1234567"
    assert str(r.addm) == "2024-04-15" and r.rb in (0, 1)
    with _p.raises(ValueError, match="string literal"):
        translate("SELECT format(s, n) FROM t")
    with _p.raises(ValueError, match="capture groups"):
        translate("SELECT extractGroups(s, 'ab') FROM t")
    with _p.raises(ValueError, match="unsupported format"):
        translate("SELECT formatRow('Parquet', s) FROM t")
    with _p.raises(ValueError, match="unknown unit"):
        translate("SELECT parseTimeDelta('3 fortnights') FROM t")


def _ih64_py(x):
    M = (1 << 64) - 1
    x &= M
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & M
    x ^= x >> 33
    x = (x * 0xC4CEB9FE1A85EC53) & M
    x ^= x >> 33
    return x - (1 << 64) if x >= (1 << 63) else x


def test_array_auc_vs_python(spark):
    """arrayAUC: 120 seeded (scores, labels) cases — ties, all-positive,
    all-negative, singletons — against an independent python
    average-rank AUC in ONE Spark action."""
    import math
    import random

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    def py_auc(scores, labels):
        pos = [s for s, l in zip(scores, labels) if l]
        neg = [s for s, l in zip(scores, labels) if not l]
        if not pos or not neg:
            return None                       # NaN case
        wins = sum((p > n_) + 0.5 * (p == n_) for p in pos for n_ in neg)
        return wins / (len(pos) * len(neg))

    rnd = random.Random(911)
    cases = [([0.5], [1]), ([0.5], [0]), ([0.1, 0.9], [0, 1]),
             ([0.5, 0.5], [0, 1]), ([0.3, 0.3, 0.3], [1, 0, 1])]
    while len(cases) < 120:
        n = rnd.randint(1, 12)
        scores = [round(rnd.choice([0.1, 0.25, 0.5, 0.5, 0.8]), 3)
                  for _ in range(n)]
        labels = [rnd.randint(0, 1) for _ in range(n)]
        cases.append((scores, labels))
    spark.createDataFrame(
        [(i, s, l) for i, (s, l) in enumerate(cases)],
        "id int, sc array<double>, lb array<int>") \
        .createOrReplaceTempView("auc_t")
    got = {r.id: r.auc for r in ch_sql(
        spark, "SELECT id, arrayAUC(sc, lb) AS auc FROM auc_t"
    ).collect()}
    bad = []
    for i, (s, l) in enumerate(cases):
        exp = py_auc(s, l)
        g = got[i]
        if exp is None:
            if not (g is None or math.isnan(g)):
                bad.append((i, s, l, g, "NaN"))
        elif g is None or abs(g - exp) > 1e-12:
            bad.append((i, s, l, g, exp))
    assert not bad, f"{len(bad)} mismatches; first 3: {bad[:3]}"


def test_to_start_of_interval_origin(spark):
    """3-arg toStartOfInterval(ts, interval, origin): fixed-width units
    re-anchor at the origin; round 10 extends calendar units
    (month/quarter/year — months-index re-anchored at the origin's
    month, matching DuckDB time_bucket) and week-with-origin
    (fixed 7-day arithmetic). Expected values pinned from DuckDB
    time_bucket(width, ts, origin)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.sql("SELECT TIMESTAMP'2024-02-15 10:34:56' AS ts") \
        .createOrReplaceTempView("osi_t")
    r = ch_sql(spark, """
        SELECT toStartOfInterval(ts, INTERVAL 90 SECOND,
                                 toDateTime('2024-01-01 00:00:30')) AS a,
               toStartOfInterval(ts, INTERVAL 1 DAY,
                                 toDateTime('2024-01-01 12:00:00')) AS b,
               toStartOfInterval(ts, INTERVAL 2 MONTH,
                                 toDateTime('2023-01-15 00:00:00')) AS c,
               toStartOfInterval(ts, INTERVAL 1 YEAR,
                                 toDateTime('2020-07-01 00:00:00')) AS d,
               toStartOfInterval(ts, INTERVAL 3 MONTH,
                                 toDateTime('2024-02-01 00:00:00')) AS e,
               toStartOfInterval(ts, INTERVAL 2 WEEK,
                                 toDateTime('2024-01-08 00:00:00')) AS f
        FROM osi_t""").collect()[0]
    assert str(r.a) == "2024-02-15 10:33:30"
    assert str(r.b) == "2024-02-14 12:00:00"
    # calendar origins: DuckDB time_bucket re-anchors the month index at
    # the origin's month (sub-month part of the origin ignored)
    assert str(r.c) == "2024-01-01 00:00:00"
    assert str(r.d) == "2023-07-01 00:00:00"
    assert str(r.e) == "2024-02-01 00:00:00"
    # week origin = fixed 14-day arithmetic from 2024-01-08 (a Monday)
    assert str(r.f) == "2024-02-05 00:00:00"


def test_stats_aggregates_dialect_vs_python(spark):
    """Round-9 statistical-aggregate dialect names — entropy,
    deltaSumTimestamp, maxIntersections[Position], rankCorr, cramersV
    (+biasCorrected), contingency, theilsU, welch/student t, Mann-
    Whitney U, Kolmogorov-Smirnov, ANOVA F, skew/kurt pop+samp,
    simpleLinearRegression, weighted/variant quantiles, moving sums,
    insertAt, exponentialTimeDecayed*, histogram — ONE Spark action
    checked against independent python formulations (seeded fixture).
    The oracle ch_sql_stats_aggregates_r9 adds the DuckDB replay."""
    import collections
    import math
    import random

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    rnd = random.Random(42)
    data = [(i, i % 4, round(rnd.uniform(0, 10), 2), i % 2,
             1700000000 + i * 60, rnd.choice("abc"), rnd.choice("xy"),
             rnd.randint(1, 4)) for i in range(60)]
    spark.createDataFrame(
        data, "k long, g int, v double, b int, t long, ca string, "
              "cb string, w int").createOrReplaceTempView("st9")
    out = ch_sql(spark, """
        SELECT entropy(g) AS ent,
               deltaSumTimestamp(v, t) AS dst,
               maxIntersections(v, v + 3.0) AS mi,
               maxIntersectionsPosition(v, v + 3.0) AS mip,
               rankCorr(v, CAST(k AS DOUBLE)) AS rc,
               cramersV(ca, cb) AS cv,
               contingency(ca, cb) AS cont,
               theilsU(ca, cb) AS tu,
               welchTTest(v, b) AS wt,
               studentTTest(v, b) AS st_,
               mannWhitneyUTest(v, b) AS mw,
               kolmogorovSmirnovTest(v, b) AS ks,
               analysisOfVariance(v, g) AS av,
               skewPop(v) AS sp, skewSamp(v) AS ss,
               kurtPop(v) AS kp, kurtSamp(v) AS ksmp,
               simpleLinearRegression(CAST(k AS DOUBLE), v) AS slr,
               quantileExactWeighted(0.5)(v, w) AS qew,
               quantilesExactWeighted(0.25, 0.75)(v, w) AS qsew,
               quantileExactInclusive(0.5)(v) AS qinc,
               quantileExactExclusive(0.5)(v) AS qexc,
               groupArrayMovingSum(3)(v) AS gms,
               groupArrayMovingAvg(3)(v) AS gma,
               groupArrayMovingSum(v) AS gms_all,
               groupArrayInsertAt('-', 6)(ca, g) AS gia,
               exponentialTimeDecayedSum(600)(v, t) AS eds,
               exponentialTimeDecayedCount(600)(t) AS edc,
               exponentialTimeDecayedAvg(600)(v, t) AS eda,
               exponentialTimeDecayedMax(600)(v, t) AS edm,
               histogram(4)(v) AS hist,
               sparkbar(8)(g, v) AS sb,
               groupArray(k) AS gord
        FROM st9""").collect()[0]
    vs = [r[2] for r in data]
    n = len(vs)
    cnt = collections.Counter(r[1] for r in data)
    assert abs(out.ent + sum(c / n * math.log2(c / n)
                             for c in cnt.values())) < 1e-9
    sv = [r[2] for r in sorted(data, key=lambda r: r[4])]
    assert abs(out.dst - sum(max(b2 - a2, 0)
                             for a2, b2 in zip(sv, sv[1:]))) < 1e-9
    evs = sorted([(r[2], 1) for r in data]
                 + [(r[2] + 3.0, -1) for r in data])
    o = best = 0
    bt = None
    for t_, d in evs:
        o += d
        if o > best:
            best, bt = o, t_
    assert out.mi == best and abs(out.mip - bt) < 1e-9

    def avgranks(xs):
        return [(sum(1 for z in xs if z < x)
                 + sum(1 for z in xs if z <= x) + 1) / 2 for x in xs]

    rx = avgranks(vs)
    ry = avgranks([float(r[0]) for r in data])
    mrx, mry = sum(rx) / n, sum(ry) / n
    rho = (sum((a - mrx) * (b2 - mry) for a, b2 in zip(rx, ry))
           / math.sqrt(sum((a - mrx) ** 2 for a in rx)
                       * sum((b2 - mry) ** 2 for b2 in ry)))
    assert abs(out.rc - rho) < 1e-9
    pc = collections.Counter((r[5], r[6]) for r in data)
    ac = collections.Counter(r[5] for r in data)
    bc = collections.Counter(r[6] for r in data)
    chi2 = sum((c - ac[a] * bc[b2] / n) ** 2 / (ac[a] * bc[b2] / n)
               for (a, b2), c in pc.items())
    chi2 += sum(ac[a] * bc[b2] / n for a in ac for b2 in bc
                if (a, b2) not in pc)
    assert abs(out.cv - math.sqrt(
        chi2 / (n * min(len(ac) - 1, len(bc) - 1)))) < 1e-9
    assert abs(out.cont - math.sqrt(chi2 / (chi2 + n))) < 1e-9
    ha = -sum(c / n * math.log2(c / n) for c in ac.values())
    hab = sum(c / n * math.log2(bc[b2] / c) for (a, b2), c in pc.items())
    assert abs(out.tu - (ha - hab) / ha) < 1e-9
    g0 = [r[2] for r in data if r[3] == 0]
    g1 = [r[2] for r in data if r[3] == 1]

    def var(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    tw_ = ((sum(g0) / len(g0) - sum(g1) / len(g1))
           / math.sqrt(var(g0) / len(g0) + var(g1) / len(g1)))
    assert abs(out.wt.t_stat - tw_) < 1e-9 and 0 <= out.wt.p_value <= 1
    sp2 = (((len(g0) - 1) * var(g0) + (len(g1) - 1) * var(g1))
           / (len(g0) + len(g1) - 2))
    ts_ = ((sum(g0) / len(g0) - sum(g1) / len(g1))
           / math.sqrt(sp2 * (1 / len(g0) + 1 / len(g1))))
    assert abs(out.st_.t_stat - ts_) < 1e-9
    ar = avgranks(vs)
    u = (sum(a for a, r in zip(ar, data) if r[3] == 0)
         - len(g0) * (len(g0) + 1) / 2)
    assert abs(out.mw.u_stat - u) < 1e-9 and 0 <= out.mw.p_value <= 1

    def ecdf(s, x):
        return sum(1 for z in s if z <= x) / len(s)

    D = max(abs(ecdf(g0, x) - ecdf(g1, x)) for x in sorted(set(vs)))
    assert abs(out.ks.d_stat - D) < 1e-9 and 0 <= out.ks.p_value <= 1
    groups = collections.defaultdict(list)
    for r in data:
        groups[r[1]].append(r[2])
    k = len(groups)
    tot = sum(vs)
    ssb = sum(sum(g) ** 2 / len(g) for g in groups.values()) \
        - tot ** 2 / n
    sst = sum(x * x for x in vs) - tot ** 2 / n
    assert abs(out.av - (ssb / (k - 1)) / ((sst - ssb) / (n - k))) < 1e-9
    m = tot / n
    m2 = sum((x - m) ** 2 for x in vs) / n
    m3 = sum((x - m) ** 3 for x in vs) / n
    m4 = sum((x - m) ** 4 for x in vs) / n
    assert abs(out.sp - m3 / m2 ** 1.5) < 1e-7
    assert abs(out.kp - m4 / m2 ** 2) < 1e-7
    assert abs(out.ss - (m3 / m2 ** 1.5) * ((n - 1) / n) ** 1.5) < 1e-7
    assert abs(out.ksmp - (m4 / m2 ** 2) * ((n - 1) / n) ** 2) < 1e-7
    xk = [float(r[0]) for r in data]
    sxy = sum(a * b2 for a, b2 in zip(xk, vs))
    sx, sy, sxx = sum(xk), sum(vs), sum(a * a for a in xk)
    kk = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert abs(out.slr.k - kk) < 1e-9
    assert abs(out.slr.b - (sy - kk * sx) / n) < 1e-9
    pairs = sorted((r[2], r[7]) for r in data)
    tww = sum(w for _, w in pairs)

    def qew(level):
        cum = 0
        for v_, w_ in pairs:
            cum += w_
            if cum >= level * tww:
                return v_

    assert out.qew == qew(0.5)
    assert list(out.qsew) == [qew(0.25), qew(0.75)]
    svv = sorted(vs)
    h = 0.5 * (n - 1) + 1                       # INC: 1-based h = q(n-1)+1
    qinc = svv[int(h) - 1] + (h - int(h)) * (svv[int(h)] - svv[int(h) - 1])
    assert abs(out.qinc - qinc) < 1e-9
    he = min(max(0.5 * (n + 1), 1.0), float(n))  # EXC: h = q(n+1)
    lo_i = int(he)
    qexc = svv[lo_i - 1] + (he - lo_i) * (svv[min(lo_i, n - 1)]
                                          - svv[lo_i - 1])
    assert abs(out.qexc - qexc) < 1e-9
    # order-sensitive aggregates (groupArray* family): their contract
    # is collect-order-UNDEFINED under shuffle; since r13 the counting
    # stats in this same query inject window columns whose sort changes
    # the realized order — derive it from the collected key column
    # instead of assuming input order
    by_k = {r[0]: r for r in data}
    realized = [by_k[k_] for k_ in out.gord]
    rvs = [r[2] for r in realized]
    gms3 = [sum(rvs[max(0, i - 2):i + 1]) for i in range(n)]
    assert all(abs(a - b2) < 1e-9 for a, b2 in zip(out.gms, gms3))
    assert all(abs(a - b2 / 3) < 1e-9 for a, b2 in zip(out.gma, gms3))
    run, acc = 0.0, []
    for x in rvs:
        run += x
        acc.append(run)
    assert all(abs(a - b2) < 1e-9 for a, b2 in zip(out.gms_all, acc))
    gia = ["-"] * 6
    for r in realized:
        if gia[r[1]] == "-":
            gia[r[1]] = r[5]
    assert list(out.gia) == gia
    tm = max(r[4] for r in data)
    eds = sum(r[2] * math.exp((r[4] - tm) / 600) for r in data)
    edc = sum(math.exp((r[4] - tm) / 600) for r in data)
    assert abs(out.eds - eds) < 1e-9 and abs(out.edc - edc) < 1e-9
    assert abs(out.eda - eds / edc) < 1e-9
    assert abs(out.edm - max(r[2] * math.exp((r[4] - tm) / 600)
                             for r in data)) < 1e-9
    lo, hi = min(vs), max(vs)
    wd = (hi - lo) / 4
    hc = [0] * 4
    for x in vs:
        hc[min(max(int((x - lo) // wd), 0), 3)] += 1
    assert [hh.cnt for hh in out.hist] == hc
    assert len(out.sb) == 8 and set(out.sb) <= set("▁▂▃▄▅▆▇█ ")


def test_stats_aggregates_refusals(spark):
    """Loud refusals: bare deltaSum (order-dependent), non-two-sided
    alternatives. rankCorr's former 2000-row guard is GONE (round 13:
    window-rank two-phase path) — a group that used to refuse now just
    computes."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    with _p.raises(ValueError, match="deltaSumTimestamp"):
        translate("SELECT deltaSum(v) FROM t")
    with _p.raises(ValueError, match="two-sided"):
        translate("SELECT mannWhitneyUTest('greater')(v, b) FROM t")
    spark.createDataFrame(
        [(float(i), float(i)) for i in range(2100)], "x double, y double"
    ).createOrReplaceTempView("rc_big")
    r = ch_sql(spark,
               "SELECT rankCorr(x, y) AS r FROM rc_big").collect()[0].r
    assert abs(r - 1.0) < 1e-12   # perfectly monotone pair


def test_straggler_aggregates_dialect(spark):
    """Round-9 straggler names: quantileExactLow/High,
    groupArrayIntersect, largestTriangleThreeBuckets (differential vs
    operators/downsample.lttb_indices on seeded non-trivial series),
    median aliases, corr/covar matrices, sumMapFiltered."""
    import math
    import random

    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.operators.downsample import (
        lttb_indices,
    )
    import numpy as np

    rnd = random.Random(77)
    series = [(float(i), round(rnd.uniform(-5, 5), 3)) for i in range(40)]
    spark.createDataFrame(
        [(i, x, y, [1, 2, 3 + i % 2], i % 3 + 1)
         for i, (x, y) in enumerate(series)],
        "k int, x double, y double, a array<int>, w int") \
        .createOrReplaceTempView("strag")
    r = ch_sql(spark, """
        SELECT quantileExactLow(0.3)(y) AS ql,
               quantileExactHigh(0.3)(y) AS qh,
               groupArrayIntersect(a) AS gai,
               largestTriangleThreeBuckets(7)(x, y) AS lt,
               largestTriangleThreeBuckets(100)(x, y) AS lt_all,
               medianExactWeighted(y, w) AS mew,
               medianExactLow(y) AS mel,
               corrMatrix(x, y) AS cm,
               covarPopMatrix(x, y) AS cpm,
               sumMapFiltered([1, 2])(map(k % 4, y)) AS smf
        FROM strag""").collect()[0]
    ys = sorted(y for _, y in series)
    n = len(ys)
    assert r.ql == ys[int(math.floor(0.3 * (n - 1)))]
    assert r.qh == ys[int(math.ceil(0.3 * (n - 1)))]
    assert list(r.gai) == [1, 2]
    xs = [x for x, _ in series]
    yy = [y for _, y in series]
    exp = [(xs[i], yy[i]) for i in
           lttb_indices(np.array(xs), np.array(yy), 7)]
    assert [tuple(p) for p in r.lt] == exp
    assert len(r.lt_all) == n                     # n_out >= n -> identity
    # weighted median: first value reaching half the total weight
    pairs = sorted((y, w) for (_, y), w in
                   zip(series, [i % 3 + 1 for i in range(n)]))
    tw = sum(w for _, w in pairs)
    cum = 0
    for v_, w_ in pairs:
        cum += w_
        if cum >= 0.5 * tw:
            break
    assert r.mew == v_
    assert r.mel == ys[int(math.floor(0.5 * (n - 1)))]
    assert abs(r.cm[0][0] - 1.0) < 1e-12 and abs(r.cm[1][1] - 1.0) < 1e-12
    assert abs(r.cm[0][1] - r.cm[1][0]) < 1e-12
    mx, my = sum(xs) / n, sum(yy) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(xs, yy)) / n
    assert abs(r.cpm[0][1] - cov) < 1e-9
    smf = {}
    for i, (_, y) in enumerate(series):
        kk = i % 4
        if kk in (1, 2):
            smf[kk] = smf.get(kk, 0.0) + y
    assert {k2: round(v2, 9) for k2, v2 in dict(r.smf).items()} == \
        {k2: round(v2, 9) for k2, v2 in smf.items()}


def test_round10_resolve_probe_batch(spark):
    """Round-10 resolve-probe batch — soundex, editDistanceUTF8,
    regexpExtract, byteSlice, mapSort, arrayEnumerateDense,
    stringJaccardIndex, byteHammingDistance/mismatches, hasSubsequence,
    multiSearchFirstPosition, ngramSearch, dateName, change* — ONE
    Spark action, hand-checked values; the engine-specific names refuse
    loudly with the alternative."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    spark.sql("""SELECT 'Robert' AS nm, 'kitten' AS a, 'sitting' AS b,
        'abcdef' AS s, map('z', 1, 'a', 2) AS m,
        array(10, 20, 10, 30) AS arr,
        TIMESTAMP'2020-02-29 10:34:56' AS ts,
        DATE'2020-02-29' AS d""").createOrReplaceTempView("t10a")
    r = ch_sql(spark, """
        SELECT soundex(nm) AS sx,
               editDistanceUTF8(a, b) AS ed,
               regexpExtract(s, 'a(b)(c)') AS re1,
               regexpExtract(s, 'a(b)(c)', 2) AS re2,
               byteSlice(s, 2, 3) AS bs,
               map_keys(mapSort(m)) AS msk,
               arrayEnumerateDense(arr) AS aed,
               stringJaccardIndex('abc', 'bcd') AS sji,
               stringJaccardIndex('', '') AS sji_e,
               byteHammingDistance('karolin', 'kathrin') AS bhd,
               byteHammingDistance('abc', 'abcdef') AS bhd_len,
               mismatches('abc', 'abd') AS mm,
               hasSubsequence('abcdef', 'ace') AS hs1,
               hasSubsequence('abcdef', 'aec') AS hs0,
               hasSubsequenceCaseInsensitive('aBcDeF', 'ACE') AS hsc,
               multiSearchFirstPosition(s, ['zz', 'cd', 'b']) AS msfp,
               multiSearchFirstPosition(s, ['zz', 'yy']) AS msfp0,
               ngramSearch('abcdefgh', 'abcd') AS ngs1,
               ngramSearch('abcdefgh', 'zzzz') AS ngs0,
               dateName('month', ts) AS dn_m,
               dateName('weekday', ts) AS dn_w,
               dateName('year', ts) AS dn_y,
               changeYear(d, 2021) AS cy,
               changeMonth(ts, 1) AS cm,
               changeDay(DATE'2024-01-31', 15) AS cd,
               changeHour(ts, 5) AS chh
        FROM t10a""").collect()[0]
    assert r.sx == "R163" and r.ed == 3
    assert r.re1 == "b" and r.re2 == "c" and r.bs == "bcd"
    assert r.msk == ["a", "z"]
    assert r.aed == [1, 2, 1, 3]
    # chars {a,b,c} vs {b,c,d}: |∩|=2, |∪|=4
    assert abs(r.sji - 0.5) < 1e-12 and r.sji_e == 0.0
    assert r.bhd == 3 and r.bhd_len == 3 and r.mm == 1
    assert r.hs1 is True and r.hs0 is False and r.hsc is True
    assert r.msfp == 2 and r.msfp0 == 0      # 'b' at 2 beats 'cd' at 3
    assert r.ngs1 == 1.0 and r.ngs0 == 0.0
    assert r.dn_m == "February" and r.dn_w == "Saturday"
    assert r.dn_y == "2020"
    # Feb 29 -> 2021 clamps to Feb 28; time preserved on timestamps
    assert str(r.cy) == "2021-02-28 00:00:00"
    assert str(r.cm) == "2020-01-29 10:34:56"
    assert str(r.cd) == "2024-01-15 00:00:00"
    assert str(r.chh) == "2020-02-29 05:34:56"
    # jumpConsistentHash left this refusal list in r13 (implemented —
    # tests/test_advice_r13.py pins the paper properties)
    for bad, frag in [("byteSize(s)", "byteSize"),
                      ("ngramSimHash(s)", "SimHash"),
                      ("bitSlice(s, 1, 3)", "byteSlice"),
                      ("bech32Encode(s, s)", "bech32"),
                      ("tupleToNameValuePairs(s)", "tupleElement"),
                      ("addTupleOfIntervals(d, s)", "individually"),
                      ("dateName('fortnight', ts)", "unsupported part")]:
        with _p.raises(ValueError, match=frag):
            translate(f"SELECT {bad} FROM t")


def test_round10_resolve_probe_batch2(spark):
    """Round-10 batch 2 — regexpQuoteMeta, UUID num<->string, halfMD5,
    arrayFill/ReverseFill, arraySplit/ReverseSplit (upstream doc
    examples), arrayShingles, initializeAggregation (+ fMerge
    round-trip), toBool, mapAdd/Subtract/Update, decodeHTMLComponent,
    extractTextFromHTML, isValidJSON, sub-second toStartOf*,
    structureToProtobufSchema, version — ONE action."""
    import hashlib

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.sql("""SELECT 'a.b*c' AS s,
        array(1, 0, -1, 2, 0) AS fa, array(0, 5, 0) AS fb,
        array(1, 2, 3, 4, 5) AS sa, array(true, false, false, true,
        false) AS sm, array(1, 2, 3, 4) AS sh,
        map('a', 1, 'b', 2) AS m1, map('b', 3, 'c', 4) AS m2,
        TIMESTAMP'2024-02-15 10:34:56.123456' AS ts""") \
        .createOrReplaceTempView("t10b")
    r = ch_sql(spark, """
        SELECT regexpQuoteMeta(s) AS rqm,
               UUIDNumToString(UUIDStringToNum(
                   '01234567-89ab-cdef-0123-456789abcdef')) AS uu,
               halfMD5('abc') AS hm,
               arrayFill(x -> x > 0, fa) AS af,
               arrayFill(x -> x > 0, fb) AS af_lead,
               arrayReverseFill(x -> x > 0, array(1, 0, 2, 0)) AS arf,
               arraySplit((x, y) -> y, sa, sm) AS asp,
               arrayReverseSplit((x, y) -> y, sa, sm) AS arsp,
               arraySplit(x -> x = 3, sa) AS asp1,
               arrayShingles(sh, 2) AS ash,
               arrayShingles(sh, 9) AS ash_over,
               initializeAggregation('sumState', 5) AS ia_sum,
               toBool('YES') AS tb1, toBool('off') AS tb0,
               toBool('xx') AS tbn,
               mapAdd(m1, m2) AS ma, mapSubtract(m1, m2) AS ms,
               mapUpdate(m1, m2) AS mu,
               decodeHTMLComponent('a &amp; b &#39;c&#39;') AS dh,
               extractTextFromHTML(
                 '<p>Hello <b>world</b></p><script>var x;</script>')
                 AS eth,
               isValidJSON('{"a": 1}') AS vj1,
               isValidJSON('nope') AS vj0, isValidJSON('null') AS vjn,
               CAST(toStartOfMillisecond(ts) AS STRING) AS ms_trunc,
               toUnixTimestamp64Nano(toStartOfMicrosecond(ts)) AS ns,
               structureToProtobufSchema('a Int64, b String') AS pbs,
               version() AS ver
        FROM t10b""").collect()[0]
    assert r.rqm == "a\\.b\\*c"
    assert r.uu == "01234567-89ab-cdef-0123-456789abcdef"
    exp_hm = int(hashlib.md5(b"abc").hexdigest()[:16], 16)
    exp_hm = exp_hm - (1 << 64) if exp_hm >= (1 << 63) else exp_hm
    assert r.hm == exp_hm
    assert r.af == [1, 1, 1, 2, 2] and r.af_lead == [0, 5, 5]
    assert r.arf == [1, 2, 2, 0]
    assert [list(x) for x in r.asp] == [[1, 2, 3], [4, 5]]
    assert [list(x) for x in r.arsp] == [[1], [2, 3, 4], [5]]
    assert [list(x) for x in r.asp1] == [[1, 2], [3, 4, 5]]
    assert [list(x) for x in r.ash] == [[1, 2], [2, 3], [3, 4]]
    assert r.ash_over == []
    assert r.ia_sum == 5
    assert r.tb1 is True and r.tb0 is False and r.tbn is None
    assert dict(r.ma) == {"a": 1, "b": 5, "c": 4}
    assert dict(r.ms) == {"a": 1, "b": -1, "c": -4}
    assert dict(r.mu) == {"a": 1, "b": 3, "c": 4}
    assert r.dh == "a & b 'c'"
    assert r.eth == "Hello world"
    assert r.vj1 is True and r.vj0 is False and r.vjn is True
    assert r.ms_trunc == "2024-02-15 10:34:56.123"
    assert r.ns % 1000 == 0 and r.ns // 1000000 == 1707993296123456 // 1000
    assert "int64 a = 1" in r.pbs and "string b = 2" in r.pbs
    assert r.ver.startswith("1.")
    # initializeAggregation states merge like any stored partial
    two = ch_sql(spark, """
        SELECT avgMerge(st) AS av FROM (
          SELECT initializeAggregation('avgState', x) AS st
          FROM VALUES (2.0), (4.0), (9.0) AS v(x))""").collect()[0]
    assert two.av == 5.0


def test_round10_resolve_probe_batch3(spark):
    """Round-10 batch 3 — arrayMin/Max/Avg/Product (+lambda forms),
    array First/Last OrNull + LastIndex, arrayUnion/SymmetricDifference,
    arrayElementOrNull, byteSwap (64-bit), toUUIDOrNull/Zero,
    toWeek/toYearWeek modes 0/1/3 (MySQL WEEK semantics), sub-second
    add/subtract, toModifiedJulianDayOrNull, tupleIntDiv/Modulo,
    LpNorm/LpDistance, WKT point I/O, shard/connection introspection,
    meanZTest, quantilesTDigest — ONE action, hand-checked."""
    import math

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.sql("""SELECT array(3, 1, 2) AS arr, array(1, 2) AS a2,
        TIMESTAMP'2024-02-15 10:34:56.123456' AS ts,
        TIMESTAMP'2024-01-02 00:00:00' AS t2""") \
        .createOrReplaceTempView("t10c")
    r = ch_sql(spark, """
        SELECT arrayMin(arr) AS amn, arrayMax(x -> -x, arr) AS amx,
               arrayAvg(arr) AS aav, arrayProduct(arr) AS apr,
               arrayFirstOrNull(x -> x > 5, arr) AS afn,
               arrayLastOrNull(x -> x > 0, arr) AS aln,
               arrayLastIndex(x -> x > 1, arr) AS ali,
               arrayLastIndex(x -> x > 9, arr) AS ali0,
               indexOfAssumeSorted(array(1, 2, 3), 3) AS ias,
               arrayElementOrNull(arr, 99) AS aeo,
               arrayElementOrNull(arr, -1) AS aen,
               arrayElementOrNull(arr, 0) AS aez,
               arrayUnion(array(1, 2), array(2, 3)) AS au,
               arraySymmetricDifference(array(1, 2, 3),
                                        array(2, 3, 4)) AS asd,
               byteSwap(1) AS bsw,
               toUUIDOrNull('01234567-89AB-cdef-0123-456789abcdef')
                   AS uun,
               toUUIDOrNull('nope') AS uux,
               toUUIDOrZero('nope') AS uuz,
               toWeek(ts) AS w0, toWeek(ts, 1) AS w1,
               toWeek(ts, 3) AS w3, toWeek(t2) AS w0e,
               toYearWeek(ts) AS yw0, toYearWeek(t2) AS yw0e,
               toYearWeek(ts, 3) AS yw3,
               CAST(addMicroseconds(ts, 5) AS STRING) AS amc,
               CAST(subtractMilliseconds(ts, 3) AS STRING) AS sms,
               toModifiedJulianDayOrNull('2024-01-01') AS mjd,
               toModifiedJulianDayOrNull('garbage') AS mjdn,
               tupleIntDiv((10, 9), (3, 2)) AS tid,
               tupleModulo((10, 9), (3, 2)) AS tmo,
               LpNorm(array(3.0, 4.0), 2) AS lp2,
               LpNorm(array(1.0, 2.0, 3.0), 1) AS lp1,
               LpDistance(array(1.0, 2.0), array(4.0, 6.0), 2) AS lpd,
               readWKTPoint('POINT(1.5 -2)') AS wp,
               wkt(readWKTPoint('POINT(1.5 -2)')) AS wk,
               shardNum() AS sn, shardCount() AS sc,
               connection_id() AS ci, revision() AS rev
        FROM t10c""").collect()[0]
    assert r.amn == 1 and r.amx == -1 and r.aav == 2.0 and r.apr == 6.0
    assert r.afn is None and r.aln == 2 and r.ali == 3 and r.ali0 == 0
    assert r.ias == 3 and r.aeo is None and r.aen == 2 and r.aez is None
    assert sorted(r.au) == [1, 2, 3] and sorted(r.asd) == [1, 4]
    assert r.bsw == 1 << 56
    assert r.uun == "01234567-89ab-cdef-0123-456789abcdef"
    assert r.uux is None
    assert r.uuz == "00000000-0000-0000-0000-000000000000"
    # 2024-02-15: MySQL WEEK mode 0 = 6, ISO week = 7;
    # 2024-01-02: week 0, YEARWEEK 202353 (belongs to 2023's week 53)
    assert r.w0 == 6 and r.w1 == 7 and r.w3 == 7 and r.w0e == 0
    assert r.yw0 == 202406 and r.yw0e == 202353 and r.yw3 == 202407
    assert r.amc == "2024-02-15 10:34:56.123461"
    assert r.sms == "2024-02-15 10:34:56.120456"
    assert r.mjd == 60310 and r.mjdn is None
    assert (r.tid._1, r.tid._2) == (3, 4)
    assert (r.tmo._1, r.tmo._2) == (1, 1)
    assert abs(r.lp2 - 5.0) < 1e-12 and abs(r.lp1 - 6.0) < 1e-12
    assert abs(r.lpd - 5.0) < 1e-12
    assert (r.wp._1, r.wp._2) == (1.5, -2.0)
    assert r.wk == "POINT(1.5 -2.0)"
    assert r.sn == 1 and r.sc == 1 and r.ci == 0 and r.rev == 54500
    # meanZTest numeric check on a real two-sample frame
    spark.sql("""SELECT * FROM VALUES (1.0, 0), (2.0, 0), (3.0, 0),
        (2.0, 1), (4.0, 1) AS v(x, g)""").createOrReplaceTempView("mzt")
    zr = ch_sql(spark, """
        SELECT meanZTest(1.0, 1.0, 0.95)(x, g) AS r,
               quantilesTDigest(0.25, 0.75)(x) AS qtd FROM mzt""") \
        .collect()[0]
    z = zr.r
    assert list(zr.qtd) == [2.0, 3.0]
    se = math.sqrt(1.0 / 3 + 1.0 / 2)
    assert abs(z.z_stat - (-1.0 / se)) < 1e-9
    assert abs(z.ci_low - (-1.0 - 1.959963984540054 * se)) < 1e-6
    assert abs(z.p_value - 2 * (1 - 0.5 * (1 + math.erf(
        abs(-1.0 / se) / math.sqrt(2))))) < 1e-6


def test_optimize_compacts_file_backed_table(spark, tmp_path):
    """Round 10: OPTIMIZE on a dataDir-backed MergeTree table compacts
    the parquet parts (file count drops, rows identical); OPTIMIZE ...
    DEDUPLICATE rewrites the files, not just the view."""
    import os

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    spark.conf.set("spark.clickhouse_clickhouse_spark.dataDir",
                   str(tmp_path))
    try:
        ch_statement(spark, "CREATE TABLE opt_t (k Int64, v Float64) "
                            "ENGINE = MergeTree ORDER BY k")
        for lo in (0, 500):
            ch_statement(spark, f"""
                INSERT INTO opt_t SELECT number % 100 AS k,
                    CAST(number AS DOUBLE) FROM numbers({lo + 500})
                WHERE number >= {lo}""")
    finally:
        spark.conf.set("spark.clickhouse_clickhouse_spark.dataDir", "")
    d = str(tmp_path / "opt_t")

    def parts():
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    before = parts()
    assert before >= 2                      # two insert "parts"
    ch_statement(spark, "OPTIMIZE TABLE opt_t")
    assert parts() < before
    assert ch_sql(spark, "SELECT count() AS n FROM opt_t") \
        .collect()[0].n == 1000
    ch_statement(spark, "OPTIMIZE TABLE opt_t DEDUPLICATE BY k")
    assert ch_sql(spark, "SELECT count() AS n FROM opt_t") \
        .collect()[0].n == 100
    # dedup persisted to the FILES, not just the session view
    assert spark.read.parquet(d).count() == 100


def test_round10_text_codecs(spark):
    """Stdlib text codecs (functions/textcodecs.py): upstream doc
    examples, round trips, try* empty-string contract, loud errors on
    invalid input, and base58 leading-zero-byte preservation — ONE
    battery."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.functions.textcodecs import (
        base58_decode_py, base58_encode_py,
    )

    r = ch_sql(spark, """
        SELECT punycodeEncode('München') AS pe,
               punycodeDecode('Mnchen-3ya') AS pd,
               tryPunycodeDecode('???invalid&payload') AS tpd,
               idnaEncode('straße.münchen.de') AS ie,
               idnaEncode('WWW.Example.COM') AS ie_ascii,
               idnaDecode('xn--strae-oqa.xn--mnchen-3ya.de') AS idd,
               tryIdnaEncode('ok.com') AS tie,
               base58Encode('Encoded') AS be,
               base58Decode('3dc8KtHrwM') AS bd,
               normalizeUTF8NFC('é') AS nfc,
               length(normalizeUTF8NFD('é')) AS nfd_len,
               length(normalizeUTF8NFKC('ﬁ')) AS nfkc_len
        """).collect()[0]
    assert r.pe == "Mnchen-3ya" and r.pd == "München"
    assert r.tpd == ""                      # try* maps failure to ''
    assert r.ie == "xn--strae-oqa.xn--mnchen-3ya.de"
    assert r.ie_ascii == "www.example.com"  # ASCII: lowercase passthrough
    assert r.idd == "straße.münchen.de"
    assert r.tie == "ok.com"
    assert r.be == "3dc8KtHrwM" and r.bd == "Encoded"
    assert r.nfc == "é" and r.nfd_len == 2
    assert r.nfkc_len == 2                  # fi ligature decomposes
    # loud (non-try) failure names the offending value
    with _p.raises(Exception, match="invalid base58"):
        ch_sql(spark, "SELECT base58Decode('bad 0OIl') AS x").collect()
    # leading NULs become leading '1's (the bitcoin convention)
    assert base58_encode_py("\x00\x00a") == "112g"
    assert base58_decode_py("112g") == "\x00\x00a"


def test_round10_cast_type_names(spark):
    """CAST(x AS <CHType>) / x::<CHType> syntax forms translate the type
    name (round-10 fix: previously only the toInt64-style conversions
    mapped; the cast SYNTAX reached Spark untranslated and failed on
    e.g. FLOAT64). Nullable(T) unwraps; already-Spark type names and
    string literals are untouched."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    r = ch_sql(spark, """
        SELECT CAST(3 AS Float64) AS f,
               CAST('7' AS Nullable(Int32)) AS n,
               (1::UInt64 + 1)::String AS s,
               CAST('2020-02-29' AS Date) AS d,
               CAST('2020-02-29 10:11:12' AS DateTime64(3)) AS dt
        """).collect()[0]
    assert r.f == 3.0 and r.n == 7 and r.s == "2"
    assert str(r.d) == "2020-02-29"
    assert str(r.dt).startswith("2020-02-29 10:11:12")
    # Spark spellings pass through; literals are masked
    out = translate("SELECT CAST(a AS DOUBLE) AS x, 'AS Float64' AS lit")
    assert "AS DOUBLE" in out and "'AS Float64'" in out


def test_round10_resolve_probe_batch4(spark):
    """Round-10 batch 4 (wide resolve-probe): number theory (gcd/lcm/
    sigmoid), Morton + Hilbert space-filling curves, char(), firstLine,
    isValidUTF8, n-ary arrayIntersect, seeded arrayShuffle,
    parseReadableSize family, pointInEllipses, geoDistance,
    geohashEncode/geohashesInBox, YYYYMMDDhhmmss, snowflake-ID codecs,
    UUIDv7ToDateTime, JSONExtractArrayRaw — ONE action, hand-checked
    (morton/hilbert/snowflake values pinned to upstream docs examples:
    mortonEncode(1,2,3)=53, hilbertEncode(3,4)=31,
    snowflakeIDToDateTime(7204436857747984384)='2024-06-06 10:59:58')."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT gcd(12246, -312) AS g, gcd(0, 0) AS g0,
               lcm(4, 6) AS l, lcm(0, 5) AS l0,
               sigmoid(0.0) AS sg,
               mortonEncode(1, 2) AS m2, mortonEncode(1, 2, 3) AS m3,
               mortonDecode(3, 53) AS md,
               hilbertEncode(3, 4) AS h2, hilbertDecode(2, 31) AS hd,
               hilbertDecode(2, hilbertEncode(77777, 12345)) AS hrt,
               char(72, 105, 33) AS ch,
               firstLine('ab\ncd\nef') AS fl,
               isValidUTF8('hé') AS vu,
               arraySort(arrayIntersect(array(1,2,3), array(2,3,4),
                                        array(3,2))) AS ai,
               arrayShuffle(array(10,20,30,40), 42) AS sh1,
               arrayShuffle(array(10,20,30,40), 42) AS sh2,
               parseReadableSize('1 MiB') AS pr,
               parseReadableSize('3.2 KB') AS pr2,
               parseReadableSizeOrNull('oops') AS prn,
               parseReadableSizeOrZero('oops') AS prz,
               pointInEllipses(10., 10., 10., 9.1, 1., 0.9999) AS pe,
               pointInEllipses(0., 0., 10., 9.1, 1., 0.9999) AS pe0,
               round(geoDistance(-10.0, 40.0, -10.0, 41.0)) AS gd,
               geohashEncode(-5.60302734375, 42.593994140625, 4) AS ge,
               geohashesInBox(24.48, 40.56, 24.785, 40.81, 4) AS gb,
               YYYYMMDDhhmmssToDateTime(20230911131415) AS ymd,
               snowflakeIDToDateTime(7204436857747984384) AS sf,
               snowflakeIDToDateTime(
                   dateTimeToSnowflakeID(
                       toDateTime('2024-06-06 10:59:58'))) AS sfrt,
               UUIDv7ToDateTime(
                   '018f05af-f4a8-778f-beee-1bedbc95c93b') AS u7,
               JSONExtractArrayRaw('{"a":[{"b":1},2]}', 'a') AS jar,
               JSONExtractArrayRaw('nope') AS jbad
        """).collect()[0]
    assert r.g == 78 and r.g0 == 0 and r.l == 12 and r.l0 == 0
    assert r.sg == 0.5
    assert r.m2 == 9 and r.m3 == 53
    assert (r.md._1, r.md._2, r.md._3) == (1, 2, 3)
    assert r.h2 == 31 and (r.hd._1, r.hd._2) == (3, 4)
    assert (r.hrt._1, r.hrt._2) == (77777, 12345)   # encode/decode inverse
    assert r.ch == "Hi!" and r.fl == "ab" and r.vu is True
    assert r.ai == [2, 3]
    assert sorted(r.sh1) == [10, 20, 30, 40] and r.sh1 == r.sh2  # seeded
    assert r.pr == 1048576 and r.pr2 == 3200
    assert r.prn is None and r.prz == 0
    assert r.pe is True and r.pe0 is False
    assert abs(r.gd - 111163.0) < 200         # WGS84 local radius (~111 km)
    assert r.ge == "ezs4"                      # upstream docs example
    assert r.gb == ["sx1q", "sx1r", "sx1w", "sx1x", "sx32", "sx38"]
    assert str(r.ymd) == "2023-09-11 13:14:15"
    assert str(r.sf).startswith("2024-06-06 10:59:58")
    assert str(r.sfrt) == "2024-06-06 10:59:58"
    assert str(r.u7).startswith("2024-04-22 12:02:48")
    assert r.jar == ['{"b":1}', "2"] and r.jbad == []


def test_round10_ipv6_and_nnd(spark):
    """IPv6 codec family (stdlib inet_pton/ntop UDFs, RFC 5952
    canonical rendering like upstream) + the nonNegativeDerivative
    window pre-pass."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT IPv6NumToString(IPv6StringToNum('2001:DB8::1')) AS rt,
               IPv6StringToNumOrNull('not-an-ip') AS bad,
               isIPv6String('::ffff:1.2.3.4') AS is6,
               isIPv6String('1.2.3.4') AS not6,
               toIPv6('2001:0db8:0000:0000:0000:0000:0000:0001') AS t6,
               IPv6NumToString(IPv4ToIPv6(
                   IPv4StringToNum('192.168.0.1'))) AS v46,
               cutIPv6(IPv6StringToNum(
                   '2001:db8:ac10:fe01:feed:babe:cafe:f00d'),
                   10, 0) AS cut6,
               cutIPv6(IPv4ToIPv6(IPv4StringToNum('192.168.0.1')),
                   0, 2) AS cut4,
               length(IPv6StringToNum('::1')) AS blen
        """).collect()[0]
    assert r.rt == "2001:db8::1" and r.bad is None
    assert r.is6 is True and r.not6 is False
    assert r.t6 == "2001:db8::1"
    assert r.v46 == "::ffff:192.168.0.1"
    assert r.cut6 == "2001:db8:ac10::"       # trailing 10 bytes zeroed
    assert r.cut4 == "::ffff:192.168.0.0"    # mapped → IPv4 cut applies
    assert r.blen == 16
    # nonNegativeDerivative: v=n^2 over 1-second steps → max delta 7;
    # first row → 0; negative slopes clamp to 0; interval arg scales
    rows = ch_sql(spark, """
        SELECT nonNegativeDerivative(v, t) OVER (ORDER BY t) AS d,
               nonNegativeDerivative(v, t, INTERVAL 1 HOUR)
                   OVER (ORDER BY t) AS dh
        FROM (SELECT CAST(number AS Float64) * CAST(number AS Float64)
                     AS v,
                     toDateTime('2020-01-01 00:00:00')
                     + INTERVAL 1 SECOND * number AS t
              FROM numbers(5))
        ORDER BY d
        """).collect()
    assert [x.d for x in rows] == [0.0, 1.0, 3.0, 5.0, 7.0]
    assert rows[-1].dh == 7.0 * 3600
    with _p.raises(Exception, match="OVER"):
        ch_sql(spark, "SELECT nonNegativeDerivative(1.0, now()) AS x")


def test_round10_resolve_probe_batch5(spark):
    """Round-10 batch 5 (second wide resolve-probe): tuple divide /
    by-number scalar arithmetic (Float64 divide like upstream), the
    L-norm tail, addQuarters, sumWithOverflow alias, arrayDifference/
    CumSum/Resize/Compact, hasAll/hasAny/hasSubstr, bitHammingDistance,
    truncate, cutWWW/cutURLParameter (upstream docs examples),
    URLHierarchy/URLPathHierarchy (upstream docs examples), UTF8
    aliases, multi-arg range, emptyArray family — ONE action."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT tupleDivide((8., 6.), (2., 3.)) AS td,
               tupleMultiplyByNumber((1, 2), 3) AS tm,
               tupleDivideByNumber((6., 4.), 2) AS tdn,
               L1Norm(array(1, -2)) AS l1,
               LinfNorm(array(1, -7)) AS li,
               L2SquaredNorm(array(3, 4)) AS l2s,
               L1Distance(array(1, 2), array(2, 4)) AS l1d,
               L2SquaredDistance(array(1, 2), array(2, 4)) AS l2sd,
               LinfDistance(array(1, 2), array(2, 9)) AS lid,
               addQuarters(DATE'2020-01-31', 2) AS aq,
               arrayDifference(array(1, 4, 9)) AS ad,
               arrayDifference(emptyArrayInt64()) AS ade,
               arrayCumSum(array(1, 2, 3)) AS acs,
               hasAll(array(1, 2, 3), array(2, 3)) AS ha,
               hasAll(array(1, 2), emptyArrayInt64()) AS hae,
               hasAny(array(1, 2), array(9, 2)) AS hy,
               hasSubstr(array(1, 2, 3, 4), array(2, 3)) AS hs,
               hasSubstr(array(1, 2, 3, 4), array(2, 4)) AS hsf,
               arrayResize(array(1, 2, 3), 2) AS ar1,
               arrayResize(array(1, 2, 3), 5) AS ar2,
               arrayResize(array(1, 2, 3), 5, 9) AS ar3,
               arrayResize(array(1, 2, 3), -2) AS ar4,
               arrayResize(array(1, 2, 3), -5, 7) AS ar5,
               arrayCompact(array(1, 1, 2, 2, 1)) AS ac,
               bitHammingDistance(5, 3) AS bh,
               truncate(3.789, 2) AS tr,
               truncate(-3.789) AS tr0,
               cutWWW('http://www.example.com/a') AS cw,
               cutWWW('www.example.com') AS cw2,
               cutURLParameter('http://bigmir.net/?a=b&c=d', 'a') AS cp1,
               cutURLParameter('http://bigmir.net/?a=b&c=d', 'c') AS cp2,
               URLHierarchy('https://example.com/browse/CONV-6788')
                   AS uh,
               URLPathHierarchy('https://example.com/browse/CONV-6788')
                   AS up,
               URLHierarchy('https://example.com/a?q=1') AS uhq,
               startsWithUTF8('héllo', 'hé') AS sw,
               endsWithUTF8('héllo', 'lo') AS ew,
               overlayUTF8('Spark SQL', 'CORE', 7) AS ov,
               range(3) AS r1,
               range(1, 4) AS r2,
               range(0, 10, 3) AS r3,
               range(5, 1, -2) AS r4,
               range(4, 1) AS r5,
               date_diff('day', DATE'2020-01-01', DATE'2020-03-01')
                   AS dd,
               emptyArrayString() AS es
        """).collect()[0]
    assert (r.td._1, r.td._2) == (4.0, 2.0)
    assert (r.tm._1, r.tm._2) == (3, 6)
    assert (r.tdn._1, r.tdn._2) == (3.0, 2.0)
    assert (r.l1, r.li, r.l2s) == (3.0, 7.0, 25.0)
    assert (r.l1d, r.l2sd, r.lid) == (3.0, 5.0, 7.0)
    assert str(r.aq) == "2020-07-31"
    assert r.ad == [0, 3, 5] and r.ade == [] and r.acs == [1, 3, 6]
    assert r.ha is True and r.hae is True and r.hy is True
    assert r.hs is True and r.hsf is False
    assert r.ar1 == [1, 2] and r.ar2 == [1, 2, 3, 0, 0]
    assert r.ar3 == [1, 2, 3, 9, 9]
    assert r.ar4 == [2, 3] and r.ar5 == [7, 7, 1, 2, 3]
    assert r.ac == [1, 2, 1]
    assert r.bh == 2 and r.tr == 3.78 and r.tr0 == -3.0
    assert r.cw == "http://example.com/a" and r.cw2 == "example.com"
    assert r.cp1 == "http://bigmir.net/?c=d"
    assert r.cp2 == "http://bigmir.net/?a=b"
    assert r.uh == ["https://example.com/", "https://example.com/browse/",
                    "https://example.com/browse/CONV-6788"]
    assert r.up == ["/browse/", "/browse/CONV-6788"]
    assert r.uhq == ["https://example.com/", "https://example.com/a?q=1"]
    assert r.sw is True and r.ew is True and r.ov == "Spark CORE"
    assert r.r1 == [0, 1, 2] and r.r2 == [1, 2, 3]
    assert r.r3 == [0, 3, 6, 9] and r.r4 == [5, 3] and r.r5 == []
    assert r.dd == 60 and r.es == []


def test_round10_resolve_probe_batch6(spark):
    """Round-10 batch 6 (third sweep): base32 codecs (stdlib), CRC-64/XZ
    (pinned to the standard check vector crc64('123456789') =
    0x995DC9BBDF1939FA per upstream src/Functions/CRC.h parameters),
    toBFloat16 (round-to-nearest-even on the float32 high half),
    makeDateTime64/toDateTime64, substringIndexUTF8, bitShift aliases,
    divideOrNull/isZeroOrNull, caseWithExpression, dateTrunc/addDate/
    subDate, stringBytesUniq/stringBytesEntropy, tid, Int128/256
    DECIMAL(38,0) mapping — ONE action."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT base32Encode('Hi') AS b32,
               base32Decode('JBUQ====') AS b32d,
               tryBase32Decode('%%%') AS b32t,
               crc64('123456789') AS c64,
               toBFloat16(5.7) AS bf,
               makeDateTime64(2020, 2, 29, 10, 11, 12) AS mdt,
               makeDateTime64(2020, 2, 29, 10, 11, 12, 123) AS mdtf,
               toDateTime64('2020-02-29 10:11:12.123', 3) AS dt64,
               substringIndexUTF8('a.b.c', '.', 2) AS si,
               bitShiftLeft(1, 3) AS bsl,
               bitShiftRight(8, 3) AS bsr,
               divideOrNull(7, 0) AS dor,
               divideOrNull(7, 2) AS dor2,
               isZeroOrNull(0) AS izn,
               isZeroOrNull(5) AS izn5,
               caseWithExpression(2, 1, 'a', 2, 'b', 'c') AS cwe,
               caseWithExpression(9, 1, 'a', 2, 'b', 'c') AS cwed,
               dateTrunc('month', TIMESTAMP'2020-02-29 10:11:12') AS dt,
               addDate(DATE'2020-01-05', INTERVAL 3 DAY) AS ad,
               subDate(DATE'2020-01-05', INTERVAL 3 DAY) AS sd,
               stringBytesUniq('hello') AS sbu,
               round(stringBytesEntropy('aab'), 4) AS sbe,
               stringBytesEntropy('') AS sbe0,
               stringBytesEntropy('aaaa') AS sbe1,
               tid() AS tid,
               toInt128(5) AS i128,
               countSubstringsCaseInsensitiveUTF8('Héllo hÉllo',
                                                  'héllo') AS cci
        """).collect()[0]
    assert r.b32 == "JBUQ====" and r.b32d == "Hi" and r.b32t == ""
    assert r.c64 == -0x66A23644_20E6C606  # 0x995DC9BBDF1939FA as BIGINT
    assert abs(r.bf - 5.6875) < 1e-9      # bfloat16(5.7)
    assert str(r.mdt) == "2020-02-29 10:11:12"
    assert str(r.mdtf) == "2020-02-29 10:11:12.123000"
    assert str(r.dt64) == "2020-02-29 10:11:12.123000"
    assert r.si == "a.b" and r.bsl == 8 and r.bsr == 1
    assert r.dor is None and r.dor2 == 3.5
    assert r.izn is True and r.izn5 is False
    assert r.cwe == "b" and r.cwed == "c"
    assert str(r.dt) == "2020-02-01 00:00:00"
    assert str(r.ad) == "2020-01-08" and str(r.sd) == "2020-01-02"
    assert r.sbu == 4 and r.sbe == 0.9183
    assert r.sbe0 == 0.0 and r.sbe1 == 0.0
    assert r.tid == 0 and r.i128 == 5 and r.cci == 2


def test_round10_values_tf_and_hof_arity(spark):
    """values() table function both forms (schema-string typed columns;
    bare form gets upstream's c1..cN names — Spark's native parse of
    values((1,'x')) yields ONE row of structs, so the rewrite is
    semantic), numbers() in JOIN position, multi-array lambda HOFs
    (arrayMap/Filter/Exists/All/Count over two arrays), DESCRIBE of a
    subquery, and the * REPLACE/APPLY loud refusal."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    rows = ch_sql(spark, """
        SELECT * FROM values('a UInt64, b String', (1, 'x'), (2, 'y'))
        ORDER BY a""").collect()
    assert [(r.a, r.b) for r in rows] == [(1, "x"), (2, "y")]
    rows = ch_sql(spark, """
        SELECT c1 + 1 AS d, c2 FROM values((1, 'x'), (2, 'y'))
        ORDER BY d""").collect()
    assert [(r.d, r.c2) for r in rows] == [(2, "x"), (3, "y")]
    rows = ch_sql(spark, """
        SELECT v.b, n.number FROM values('a Int64, b String',
            (0, 'x'), (1, 'y')) v
        JOIN numbers(2) n ON v.a = n.number ORDER BY n.number""") \
        .collect()
    assert [(r.b, r.number) for r in rows] == [("x", 0), ("y", 1)]

    r = ch_sql(spark, """
        SELECT arrayMap((x, i) -> x + i, array(10, 20),
                        array(1, 2)) AS m,
               arrayFilter((x, i) -> i > 1, array(10, 20),
                           array(1, 2)) AS f,
               arrayExists((x, i) -> x = 20 AND i = 2, array(10, 20),
                           array(1, 2)) AS e,
               arrayAll((x, i) -> x > i, array(10, 20),
                        array(1, 2)) AS al,
               arrayCount((x, i) -> x > 10 * i, array(10, 20, 30),
                          array(1, 2, 2)) AS c
        """).collect()[0]
    assert r.m == [11, 22] and r.f == [20]
    assert r.e is True and r.al is True and r.c == 1

    d = ch_statement(
        spark, "DESCRIBE TABLE (SELECT toUInt64(1) AS x, 'a' AS y)") \
        .collect()
    assert [(r.name, r.type) for r in d] == [("x", "Int64"),
                                             ("y", "String")]
    # r11: the top-level star-transformer form is now implemented
    # (ch_sql resolves the FROM schema and rebuilds the select list)
    ap = ch_sql(spark, "SELECT * APPLY (sum) FROM numbers(3)")
    assert ap.columns == ["sum(number)"] and ap.collect()[0][0] == 3


def test_round10_query_params_and_system_numbers(spark):
    """{name:Type} query parameters substitute as TYPED literals
    (upstream ReplaceQueryParameterVisitor semantics: strings escape,
    identifiers validate, arrays recurse; unbound names raise) and
    system.numbers works as a lazily-bounded range (only the LIMITed
    prefix executes)."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, "SELECT {n:UInt64} + number AS x FROM numbers(2) "
                      "ORDER BY x", params={"n": 10}).collect()
    assert [x.x for x in r] == [10, 11]
    assert ch_sql(spark, "SELECT {s:String} AS x",
                  params={"s": "it's"}).collect()[0].x == "it's"
    assert ch_sql(spark, "SELECT has({xs:Array(Int64)}, 2) AS x",
                  params={"xs": [1, 2, 3]}).collect()[0].x is True
    assert ch_sql(spark, "SELECT toYear({d:Date}) AS x",
                  params={"d": "2020-02-29"}).collect()[0].x == 2020
    spark.range(3).createOrReplaceTempView("__pv_params")
    assert ch_sql(spark, "SELECT count(*) AS c FROM {t:Identifier}",
                  params={"t": "__pv_params"}).collect()[0].c == 3
    with _p.raises(ValueError, match="not set"):
        ch_sql(spark, "SELECT {q:Int32} AS x")
    with _p.raises(ValueError, match="not a valid identifier"):
        ch_sql(spark, "SELECT 1 FROM {t:Identifier}",
               params={"t": "x; DROP"})
    # masked: braces inside string literals are NOT parameters
    assert ch_sql(spark, "SELECT '{n:Int32}' AS x").collect()[0].x \
        == "{n:Int32}"
    rows = ch_sql(spark, "SELECT number FROM system.numbers LIMIT 5") \
        .collect()
    assert [x.number for x in rows] == [0, 1, 2, 3, 4]


def test_round10_subscripts_one_based(spark):
    """Reference subscript semantics: x[i] is 1-based for arrays
    (negative = from the end, 0 and out-of-range → NULL) and key-based
    for maps — previously the brackets reached Spark's 0-based native
    indexing, a silent off-by-one. ONE action."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT array(10, 20)[1] AS a1,
               [10, 20][2] AS a2,
               [10, 20][-1] AS an,
               [10, 20][0] AS a0,
               [10][5] AS oob,
               [10, 20][1 + 1] AS aexpr,
               map('k', 7)['k'] AS mk,
               [[1, 2], [3, 4]][2][1] AS chain,
               splitByChar(',', 'a,b')[2] AS fn,
               extractAll('a1b2', '(\\\\d)')[1] AS rex,
               arr[2] AS col2, arr[idx] AS colv, arr[zidx] AS colz
        FROM (SELECT array(5, 6) AS arr, 2 AS idx, 0 AS zidx)
        """).collect()[0]
    assert (r.a1, r.a2, r.an) == (10, 20, 20)
    assert r.a0 is None and r.oob is None
    assert r.aexpr == 20 and r.mk == 7 and r.chain == 3
    assert r.fn == "b" and r.rex == "1"
    assert r.col2 == 6 and r.colv == 6 and r.colz is None


def test_round10_resolve_probe_batch7(spark):
    """Round-10 batch 7: *Stable aggregate aliases, TDigestWeighted
    quantiles, sumMap/sumMapFiltered two-array spelling (+ -If), the
    scalar bitmap family over sorted-distinct arrays, and
    groupBitmapAnd/Or/Xor cardinality aggregates — ONE action each
    group."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT round(covarSampStable(number, number * 2), 4) AS cvs,
               round(stddevPopStable(number), 4) AS sps,
               round(corrStable(number, number * 3), 4) AS cs,
               quantileTDigestWeighted(0.5)(number, 1) AS qtw,
               quantilesTDigestWeighted(0.25, 0.75)(number, 1) AS qtws,
               sumMap(array(1, 2), array(10, 20)) AS sm2,
               sumMapIf(array(1), array(10), number > 0) AS smi,
               sumMapFiltered([1])(array(1, 2), array(10, 20)) AS smf
        FROM numbers(3)""").collect()[0]
    assert r.cvs == 2.0 and r.sps == 0.8165 and r.cs == 1.0
    assert r.qtw == 1.0 and r.qtws == [0.0, 2.0]  # first-cum-weight pick
    assert r.sm2 == {1: 30, 2: 60} and r.smi == {1: 20}
    assert r.smf == {1: 30}
    b = ch_sql(spark, """
        SELECT bitmapBuild(array(3, 1, 3)) AS bb,
               bitmapCardinality(bitmapBuild(array(1, 2, 2))) AS bc,
               bitmapToArray(bitmapAnd(bitmapBuild(array(1, 2, 3)),
                                       bitmapBuild(array(2, 3, 4))))
                   AS ba,
               bitmapXorCardinality(bitmapBuild(array(1, 2)),
                                    bitmapBuild(array(2, 3))) AS bx,
               bitmapHasAll(bitmapBuild(array(1, 2, 3)),
                            bitmapBuild(array(1, 3))) AS bh,
               bitmapSubsetLimit(bitmapBuild(array(1, 5, 9, 12)), 5, 2)
                   AS bsl,
               subBitmap(bitmapBuild(array(1, 5, 9, 12)), 1, 2) AS sb,
               bitmapTransform(bitmapBuild(array(1, 2, 3)), array(2),
                               array(20)) AS bt
        """).collect()[0]
    assert b.bb == [1, 3] and b.bc == 2 and b.ba == [2, 3]
    assert b.bx == 2 and b.bh is True
    assert b.bsl == [5, 9] and b.sb == [5, 9] and b.bt == [1, 3, 20]
    g = ch_sql(spark, """
        SELECT groupBitmapAnd(bitmapBuild(array(1, 2,
                   CAST(number AS INT)))) AS ga,
               groupBitmapOr(bitmapBuild(array(1,
                   CAST(number AS INT)))) AS go,
               groupBitmapXor(bitmapBuild(array(1,
                   CAST(number AS INT)))) AS gx
        FROM numbers(1, 3)""").collect()[0]
    assert g.ga == 2 and g.go == 3
    assert g.gx == 3    # 1 appears 3x (odd) + 2, 3 once each


def test_round10_permissive_arithmetic_confs(spark):
    """ch_sql pins the dialect's semantic confs on ANY session (round
    10: ensure_engine_confs runs on first entry): overflow casts wrap
    like upstream, and the named divide() renders the reference's
    ±inf/nan on zero divisors exactly (the bare `/` operator yields
    NULL under ANSI-off — documented divergence, SURVEY §1.2)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT toInt8(300) AS wrap,
               divide(1, 0) AS pinf,
               divide(-2.5, 0) AS ninf,
               isNaN(divide(0, 0)) AS nan,
               divide(7, 2) AS norm,
               divide(1, NULL) IS NULL AS nl,
               1 / 0 IS NULL AS op_null
        """).collect()[0]
    assert r.wrap == 44                      # two's-complement wrap
    assert r.pinf == float("inf") and r.ninf == float("-inf")
    assert r.nan is True and r.norm == 3.5
    assert r.nl is True and r.op_null is True


def test_round10_bankers_round(spark):
    """Upstream round() is banker's for floats (docs: round(2.5) = 2,
    [U] src/Functions/round.h); Spark's native ROUND is half-up — bare
    round now maps to BROUND (Decimal away-from-zero deviation
    documented at the template)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT round(2.5) AS a, round(3.5) AS b, round(-2.5) AS c,
               round(2.675, 2) AS d, roundBankers(2.5) AS e
        """).collect()[0]
    assert (float(r.a), float(r.b), float(r.c)) == (2.0, 4.0, -2.0)
    # 2.675 parses as DECIMAL (exact) → half-even takes 7 up to 8
    assert float(r.d) == 2.68
    assert float(r.e) == 2.0


def test_round10_greatest_least_null_propagation(spark):
    """Upstream greatest/least return NULL when ANY argument is NULL
    ([U] src/Functions/greatest.cpp); Spark's natives skip NULLs — the
    dialect names now propagate (uppercase GREATEST/LEAST stay Spark
    natives, they are not reference names)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT greatest(1, NULL) IS NULL AS gn,
               greatest(1, 7, 3) AS gv,
               least(NULL, 2) IS NULL AS ln2,
               least(5, 2, 9) AS lv
        """).collect()[0]
    assert r.gn is True and r.gv == 7
    assert r.ln2 is True and r.lv == 2


def test_round10_setop_default_modes(spark):
    """Upstream set-operation defaults ([U] Settings intersect/
    except_default_mode = ALL, union_default_mode = '' → error): bare
    INTERSECT/EXCEPT keep duplicates here too; bare UNION refuses; the
    Spark-native star `* EXCEPT (cols)` form stays untouched."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    c = ch_sql(spark, """
        SELECT count(*) AS c FROM (
            SELECT number % 2 AS x FROM numbers(4)
            INTERSECT
            SELECT number % 2 AS x FROM numbers(4))""").collect()[0].c
    assert c == 4                       # ALL semantics: duplicates kept
    c = ch_sql(spark, """
        SELECT count(*) AS c FROM (
            SELECT number % 2 AS x FROM numbers(4)
            INTERSECT DISTINCT
            SELECT number % 2 AS x FROM numbers(4))""").collect()[0].c
    assert c == 2
    c = ch_sql(spark, """
        SELECT count(*) AS c FROM (
            SELECT number % 2 AS x FROM numbers(4)
            EXCEPT SELECT 0 AS x)""").collect()[0].c
    assert c == 3                       # one 0 removed, not both
    assert ch_sql(spark, "SELECT * EXCEPT (number) FROM "
                         "(SELECT number, 1 AS k FROM numbers(1))") \
        .columns == ["k"]
    with _p.raises(ValueError, match="UNION ALL or UNION DISTINCT"):
        ch_sql(spark, "SELECT 1 AS x UNION SELECT 2 AS x")


def test_round10_limit_by_offset_and_top(spark):
    """LIMIT n OFFSET m BY k and the comma form LIMIT m, n BY k ([U]
    LimitByTransform offset support); plain LIMIT m, n pagination is
    unaffected; SELECT TOP n rewrites to a trailing LIMIT."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    rows = ch_sql(spark, """
        SELECT number % 2 AS k, number AS n FROM numbers(8)
        ORDER BY k, n LIMIT 1 OFFSET 1 BY k""").collect()
    assert [(r.k, r.n) for r in rows] == [(0, 2), (1, 3)]
    rows = ch_sql(spark, """
        SELECT number % 2 AS k, number AS n FROM numbers(8)
        ORDER BY k, n LIMIT 1, 2 BY k""").collect()
    assert [(r.k, r.n) for r in rows] == [(0, 2), (0, 4), (1, 3), (1, 5)]
    rows = ch_sql(spark, """
        SELECT number AS n FROM numbers(6) ORDER BY n LIMIT 2, 3""") \
        .collect()
    assert [r.n for r in rows] == [2, 3, 4]
    rows = ch_sql(spark, """
        SELECT TOP 2 number AS n FROM numbers(5) ORDER BY n DESC""") \
        .collect()
    assert [r.n for r in rows] == [4, 3]


def test_round10_regex_replacement_and_week_modes(spark):
    """Reference replacement strings use \\1 backrefs and literal $
    (ReplaceRegexpImpl.h) — converted to Java's $1/\\$ for literal
    replacements; replaceRegexpOne via a (?s)(.*) tail group (first
    occurrence only); splitByChar quotes its separator (\\Q..\\E — the
    old template treated '.' as match-anything); custom-char trim;
    toStartOfWeek/toDayOfWeek mode arguments; extract() whole-match vs
    first-group by literal pattern group count."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT replaceRegexpAll('Hello, World!', '([A-Z])', '-\\\\1')
                   AS br,
               replaceRegexpAll('price', 'p', '$') AS dl,
               replaceRegexpOne('aaa', 'a', 'b') AS r1,
               replaceRegexpOne('Hello World', '([A-Z])', '<\\\\1>')
                   AS r1g,
               replaceRegexpOne('abc', 'zz', 'x') AS r1n,
               splitByChar('.', 'a.b.c') AS sc,
               splitByChar(',', 'a,b,c', 2) AS scl,
               trimBoth('xxaxx', 'x') AS tb,
               trimLeft('xxaxx', 'x') AS tl,
               trimRight('xxaxx', 'x') AS tr2,
               toStartOfWeek(DATE'2024-02-15') AS w0,
               toStartOfWeek(DATE'2024-02-15', 1) AS w1,
               toDayOfWeek(DATE'2024-02-18') AS d0,
               toDayOfWeek(DATE'2024-02-18', 1) AS d1,
               toDayOfWeek(DATE'2024-02-18', 2) AS d2,
               toDayOfWeek(DATE'2024-02-18', 3) AS d3,
               positionCaseInsensitiveUTF8('HÉllo', 'hél') AS pci,
               extract('abc123', '\\\\d+') AS e0,
               extract('key=val', '=(\\\\w+)') AS e1
        """).collect()[0]
    assert r.br == "-Hello, -World!" and r.dl == "$rice"
    assert r.r1 == "baa" and r.r1g == "<H>ello World" and r.r1n == "abc"
    # max_substrings discards the remainder (upstream default
    # splitby_max_substrings_includes_remaining_string = 0)
    assert r.sc == ["a", "b", "c"] and r.scl == ["a", "b"]
    assert r.tb == "a" and r.tl == "axx" and r.tr2 == "xxa"
    assert str(r.w0) == "2024-02-11" and str(r.w1) == "2024-02-12"
    assert (r.d0, r.d1, r.d2, r.d3) == (7, 6, 1, 0)
    assert r.pci == 1 and r.e0 == "123" and r.e1 == "val"


def test_round10_conversion_ornull_and_best_effort(spark):
    """to<T>OrNull/OrZero conversion family (TRY_CAST contract: strict
    parse, whitespace-tolerant), typed JSONExtract shorthands (type
    default on missing), parseDateTimeBestEffort family (ISO, D/M/Y vs
    US M/D/Y, compact digits, unix seconds; strict raises / OrNull /
    OrZero), parseDateTime[OrNull/OrZero] %-formats, now64."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT toInt32OrNull('abc') AS a, toInt32OrNull(' 42 ') AS b,
               toInt32OrNull('2.5') AS c, toInt32OrZero('abc') AS d,
               toFloat64OrNull('2.5') AS e,
               toDateOrNull('2020-13-40') AS f,
               toDateOrZero('bad') AS g,
               toUInt64OrZero('7') AS h,
               JSONExtractInt('{"a":"5"}', 'a') AS ji,
               JSONExtractInt('{"a":5}', 'b') AS jm,
               JSONExtractFloat('{"a":2.5}', 'a') AS jf,
               JSONExtractBool('{"a":true}', 'a') AS jb,
               parseDateTimeBestEffort('2020-01-01 10:20:30') AS p1,
               parseDateTimeBestEffort('01/02/2020') AS p2,
               parseDateTimeBestEffortUS('01/02/2020') AS p3,
               parseDateTimeBestEffort('1577836800') AS p4,
               parseDateTimeBestEffort('20200102030405') AS p5,
               parseDateTimeBestEffortOrNull('garbage') AS p6,
               parseDateTimeBestEffortOrZero('garbage') AS p7,
               parseDateTimeOrNull('xx', '%Y') AS p8,
               now64() IS NOT NULL AS n64
        """).collect()[0]
    assert r.a is None and r.b == 42 and r.c is None and r.d == 0
    assert r.e == 2.5 and r.f is None and str(r.g) == "1970-01-01"
    assert r.h == 7
    assert r.ji == 5 and r.jm == 0 and r.jf == 2.5 and r.jb is True
    assert str(r.p1) == "2020-01-01 10:20:30"
    assert str(r.p2) == "2020-02-01 00:00:00"     # D/M/Y default
    assert str(r.p3) == "2020-01-02 00:00:00"     # US: M/D/Y
    assert str(r.p4) == "2020-01-01 00:00:00"     # unix seconds
    assert str(r.p5) == "2020-01-02 03:04:05"     # compact 14-digit
    assert r.p6 is None and str(r.p7) == "1970-01-01 00:00:00"
    assert r.p8 is None and r.n64 is True
    with _p.raises(Exception, match="cannot parse"):
        ch_sql(spark, "SELECT parseDateTimeBestEffort('garbage') AS x") \
            .collect()


def test_round10_cast2_quantile_bare_uniq_multi(spark):
    """Two-arg CAST(x, 'Type') function spelling; bare quantile/
    quantileExact default to p=0.5; multi-arg uniq family hashes the
    argument tuple; parametric groupArray(n)(x) cap; toTypeName renders
    reference type names."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT CAST('42', 'Int64') AS c1,
               CAST('7', 'Nullable(Int32)') AS c2,
               quantile(number) AS qm,
               quantileExact(number) AS qe,
               uniq(number % 3, number % 2) AS um,
               groupArray(3)(number) AS ga,
               toTypeName(CAST(1 AS Int32)) AS tn,
               toTypeName('a') AS ts,
               toTypeName(now()) AS tt
        FROM numbers(11)""").collect()[0]
    assert r.c1 == 42 and r.c2 == 7
    assert r.qm == 5.0 and r.qe == 5.0 and r.um == 6
    assert r.ga == [0, 1, 2]
    assert (r.tn, r.ts, r.tt) == ("Int32", "String", "DateTime")


def test_round10_array_reduce_quantile(spark):
    """arrayReduce parametric-in-string quantile forms ([U]
    arrayReduce('quantile(0.5)', arr)): exact interpolated pick; empty
    arrays yield NULL; the plain whitelist still works."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT arrayReduce('quantile(0.5)', array(1, 2, 3, 4, 5)) AS a,
               arrayReduce('quantileExact(0.25)', array(0, 1, 2, 3))
                   AS b,
               arrayReduce('median', array(1, 2, 3, 10)) AS c,
               arrayReduce('median', emptyArrayInt64()) AS d,
               arrayReduce('sum', array(1, 2, 3)) AS e
        """).collect()[0]
    assert r.a == 3.0 and r.b == 0.75 and r.c == 2.5
    assert r.d is None and r.e == 6.0


def test_round10_distinct_on_and_mod(spark):
    """SELECT DISTINCT ON (keys) — first row per key group via the
    LIMIT 1 BY machinery; MOD infix (MySQL-compat) rewrites to % only
    in infix position (mod(a, b) calls untouched)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    rows = ch_sql(spark, """
        SELECT DISTINCT ON (k) k, n
        FROM (SELECT number % 2 AS k, number AS n FROM numbers(6))
        ORDER BY k, n""").collect()
    assert [(r.k, r.n) for r in rows] == [(0, 0), (1, 1)]
    r = ch_sql(spark, "SELECT 7 MOD 2 AS a, mod(7, 2) AS b, "
                      "(1 + 1) MOD 2 AS c").collect()[0]
    assert (r.a, r.b, r.c) == (1, 1, 0)


def test_round10_system_columns_databases(spark):
    """system.columns (catalog-wide, reference type names) and
    system.databases resolve as computed-on-read views like the other
    system tables."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.createDataFrame([(1, "a")], "id int, tag string") \
        .createOrReplaceTempView("syscol_demo")
    rows = ch_sql(spark, """
        SELECT name, type FROM system.columns
        WHERE table = 'syscol_demo' ORDER BY name""").collect()
    assert [(r.name, r.type) for r in rows] == [
        ("id", "Nullable(Int32)"), ("tag", "Nullable(String)")]
    assert ch_sql(spark, "SELECT count(*) > 0 AS x "
                         "FROM system.databases").collect()[0].x is True


def test_round10_tuple_positional_access(spark):
    """Reference positional tuple access t.1 / chained t.1.2 → struct
    _N fields; decimal literals are protected (preceding token must be
    an identifier or closing paren/bracket, not a number); composes
    with 1-based subscripts."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT tuple(1, 'a').2 AS a,
               tuple(tuple(1, 2), 3).1.2 AS b,
               t.1 AS c,
               c2.1 AS d,
               1.5 + 1.25 AS e,
               array(tuple(5, 6))[1].2 AS f
        FROM (SELECT tuple(7, 8) AS t, tuple(9) AS c2)
        """).collect()[0]
    assert r.a == "a" and r.b == 2 and r.c == 7 and r.d == 9
    assert float(r.e) == 2.75 and r.f == 6


def test_round10_position_in_form(spark):
    """SQL-standard position(needle IN haystack) — split at the first
    IN outside string literals; the 2/3-arg reference forms keep the
    haystack-first convention."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT position('ll' IN 'hello') AS a,
               position(' IN ' IN 'a IN b') AS b,
               position('hello', 'll') AS c,
               position('hellohello', 'll', 5) AS d
        """).collect()[0]
    assert (r.a, r.b, r.c, r.d) == (3, 2, 3, 8)


def test_round10_final_name_batch(spark):
    """Last probe batch: ifEmpty, concatAssumeInjective (hint alias),
    n-ary logical xor, bitAnd/bitOr/bitXor function names,
    single-arg arrayStringConcat (empty separator default)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT ifEmpty('', 'dflt') AS a, ifEmpty('v', 'dflt') AS b,
               concatAssumeInjective('a', 'b', 'c') AS c,
               xor(true, false) AS d, xor(true, true, true) AS e,
               bitAnd(6, 3) AS f, bitOr(4, 1) AS g, bitXor(6, 3) AS h,
               arrayStringConcat(array('a', 'b')) AS i,
               arrayStringConcat(array('a', 'b'), '-') AS j
        """).collect()[0]
    assert (r.a, r.b, r.c) == ("dflt", "v", "abc")
    assert r.d is True and r.e is True
    assert (r.f, r.g, r.h) == (2, 5, 5)
    assert (r.i, r.j) == ("ab", "a-b")


def test_round11_advice_fixes(spark):
    """Round-11 ADVICE batch in one DataFrame pass where possible:
    DISTINCT ON deduplicates BEFORE a trailing LIMIT (upstream clause
    order); 'EXCEPT (SELECT ...' is the set operation and defaults to
    ALL (only star-projection '* EXCEPT (cols)' is Spark-native);
    splitByChar max_substrings discards the remainder (upstream default
    splitby_max_substrings_includes_remaining_string = 0);
    hilbertDecode rejects codes >= 2^62 (not just negatives)."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    rows = ch_sql(spark, """
        SELECT DISTINCT ON (k) k, n
        FROM (SELECT number % 3 AS k, number AS n FROM numbers(9))
        ORDER BY k, n LIMIT 2""").collect()
    assert [(r.k, r.n) for r in rows] == [(0, 0), (1, 1)]

    vals = sorted(r.v for r in ch_sql(spark, """
        SELECT number % 2 AS v FROM numbers(4)
        EXCEPT (SELECT 0 AS v)""").collect())
    assert vals == [0, 1, 1]            # ALL: dup 1s kept, one 0 removed

    r = ch_sql(spark, """
        SELECT splitByChar(',', 'a,b,c,d', 2) AS s2,
               splitByChar(',', 'a,b,c,d') AS sall""").collect()[0]
    assert r.s2 == ["a", "b"] and r.sall == ["a", "b", "c", "d"]

    with _p.raises(Exception, match="hilbertDecode"):
        ch_sql(spark,
               "SELECT hilbertDecode(2, 4611686018427387904) AS x") \
            .collect()
    r = ch_sql(spark, "SELECT hilbertDecode(2, hilbertEncode(100, 200))"
                      " AS x").collect()[0]
    assert (r.x._1, r.x._2) == (100, 200)


def test_round11_empty_set_defaults(spark):
    """Empty-set defaults (ch_sql._empty_set_defaults_pass, always
    applied): scalar no-GROUP-BY sum/uniq -> 0 and avg -> nan over
    an empty set, per upstream type-default semantics; grouped and
    window scopes untouched (grouped empty set -> zero rows); the wrap
    is translate-idempotent."""
    import math

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, translate

    spark.range(0).selectExpr("id AS x").createOrReplaceTempView(
        "__esd_empty")
    r = ch_sql(spark, "SELECT sum(x) AS s, uniqExact(x) AS u, "
                      "avg(x) AS a, count(*) AS c, "
                      "(SELECT sum(x) FROM __esd_empty) AS sub "
                      "FROM __esd_empty").collect()[0]
    assert (r.s, r.u, r.c, r.sub) == (0, 0, 0, 0)
    assert math.isnan(r.a)
    assert ch_sql(spark, "SELECT x, sum(x) AS s FROM __esd_empty "
                         "GROUP BY x").collect() == []
    t = translate("SELECT sum(x), avg(x) FROM t")
    assert t == translate(t)
    assert "COALESCE" not in translate(
        "SELECT k, sum(x) FROM t GROUP BY k")
    assert "COALESCE" not in translate(
        "SELECT sum(x) OVER (PARTITION BY k) FROM t")


def test_round11_to_timezone(spark):
    """toTimezone/toTimeZone carry the display shift via
    CONVERT_TIMEZONE (session tz pinned UTC): Tokyo +9, New York DST
    -4 in June / -5 in January; toHour composes like upstream."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT toTimezone(toDateTime('2024-02-15 12:00:00'),
                          'Asia/Tokyo') AS tok,
               toHour(toTimezone(toDateTime('2024-02-15 12:00:00'),
                                 'Asia/Tokyo')) AS h,
               toTimeZone(toDateTime('2024-06-15 12:00:00'),
                          'America/New_York') AS ny_dst,
               toTimeZone(toDateTime('2024-01-15 12:00:00'),
                          'America/New_York') AS ny_est
        """).collect()[0]
    assert str(r.tok) == "2024-02-15 21:00:00" and r.h == 21
    assert str(r.ny_dst) == "2024-06-15 08:00:00"
    assert str(r.ny_est) == "2024-01-15 07:00:00"


def test_round11_resolve_probe_batch7(spark):
    """Round-11 probe batch: regexpExtractAll, clamp, toRelativeWeekNum
    (epoch Thu = week 0, Monday starts week 1), mapConcat (first value
    wins on overlap, [U] docs tuple-map-functions), mapExists/mapAll/
    mapFilter/mapApply lambdas, tupleElement over bare paren tuples,
    tupleConcat/tupleHammingDistance literal splices, UUIDToNum
    (variant 1 big-endian), pointInPolygon even-odd ray casting,
    arrayPrAUC (threshold-grouped average precision), IPv4/IPv6
    OrDefault parse guards, 3-arg transform passthrough,
    fromUnixTimestampInJodaSyntax."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT regexpExtractAll('a1b2', '(\\\\d)') AS rea,
               clamp(5, 1, 3) AS cl1, clamp(0, 1, 3) AS cl2,
               toRelativeWeekNum(toDate('1970-01-01')) AS w0,
               toRelativeWeekNum(toDate('1970-01-05')) AS w1,
               mapConcat(map('a', 1), map('a', 9, 'b', 2))['a'] AS mc,
               mapConcat(map('a', 1), map('b', 2))['b'] AS mc2,
               mapExists((k, v) -> v > 1, map('a', 1)) AS mex,
               mapAll((k, v) -> v > 0, map('a', 1, 'b', 2)) AS mall,
               mapValues(mapFilter((k, v) -> v > 1,
                                   map('a', 1, 'b', 2)))[1] AS mfil,
               mapApply((k, v) -> (k, v * 2), map('a', 3))['a'] AS mapp,
               tupleElement((1, 'a'), 2) AS te,
               tupleConcat(tuple(1), tuple(2, 3)).3 AS tc,
               tupleHammingDistance((1, 2, 3), (1, 9, 3)) AS thd,
               hex(UUIDToNum(
                   toUUID('61f0c404-5cb3-11e7-907b-a6006ad3dba0')))
                   AS un,
               pointInPolygon((0.5, 0.5),
                   [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)])
                   AS pin,
               pointInPolygon((2.0, 0.5),
                   [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)])
                   AS pout,
               round(arrayPrAUC([0.8, 0.4, 0.35, 0.1],
                                [1, 0, 1, 0]), 6) AS ap,
               toIPv4OrDefault('1.2.3.4') AS ip4,
               toIPv4OrDefault('bad') AS ip4d,
               toIPv6OrDefault('bad') AS ip6d,
               toIPv6OrDefault('bad', 'fe80::1') AS ip6d2,
               transform('x', ['a'], ['b']) AS tr3,
               fromUnixTimestampInJodaSyntax(1700000000,
                                             'yyyy-MM-dd') AS joda
        """).collect()[0]
    assert r.rea == ["1", "2"] and (r.cl1, r.cl2) == (3, 1)
    assert (r.w0, r.w1) == (0, 1)
    assert (r.mc, r.mc2) == (1, 2)
    assert r.mex is False and r.mall is True
    assert (r.mfil, r.mapp) == (2, 6)
    assert r.te == "a" and r.tc == 3 and r.thd == 1
    assert r.un == "61F0C4045CB311E7907BA6006AD3DBA0"
    assert r.pin is True and r.pout is False
    # AP for desc-sorted (0.8 P)(0.4 N)(0.35 P)(0.1 N): 1/2*(1 + 2/3)
    assert abs(float(r.ap) - 0.833333) < 1e-6
    assert (r.ip4, r.ip4d) == (16909060, 0)
    assert (r.ip6d, r.ip6d2) == ("::", "fe80::1")
    assert r.tr3 == "x" and r.joda == "2023-11-14"


def test_round11_batch7_refusals(spark):
    """Loud refusals with alternatives: MinHash fingerprints, H3 LUT,
    arrayEnumerateRanked, subtractTupleOfIntervals, UUIDToNum
    variant 2."""
    import pytest as _p

    from clickhouse_clickhouse_spark.ch_sql import translate

    # (ngramMinHash / wordShingleMinHash left this list in round 12 —
    # implemented as (h1, h2) tuple templates, tests/test_advice_r12.py)
    for bad, msg in [
        ("SELECT h3ToGeo(1)", "geohashEncode"),
        ("SELECT arrayEnumerateRanked([1])", "arrayEnumerateDense"),
        ("SELECT subtractTupleOfIntervals(d, t)", "interval arithmetic"),
        ("SELECT UUIDToNum(u, 2)", "variant 1"),
    ]:
        with _p.raises(ValueError, match=msg):
            translate(bad)


def test_round11_resolve_probe_batch7b(spark):
    """JSON tail (variant-backed): JSONType with key paths (Int64/
    Double split on fraction marker; missing key -> Null),
    JSONExtractRaw keeps string quoting (variant round trip),
    toJSONString via array-wrap; hasToken OrNull twins; MACStringToOUI
    (upstream docs example 12:34:56 -> 1193046); RESPECT NULLS
    aliases; approxTopK tuples; port conventions."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT JSONType('{"a":1}') AS t0,
               JSONType('{"a":1}', 'a') AS t1,
               JSONType('{"a":1.5}', 'a') AS t2,
               JSONType('{"a":"x"}', 'a') AS t3,
               JSONType('{"a":null}', 'a') AS t4,
               JSONType('{"a":1}', 'zz') AS t5,
               JSONExtractRaw('{"a":{"b":1}}', 'a') AS r1,
               JSONExtractRaw('{"a":"x"}', 'a') AS r2,
               JSONExtractRaw('{"a":[5,6]}', 'a', 2) AS r3,
               toJSONString(map('a', 1)) AS j1,
               toJSONString('x') AS j2,
               hasTokenOrNull('a b c', 'b') AS h1,
               hasTokenOrNull('a b c', 'b c') AS h2,
               MACStringToOUI('12:34:56:78:9C:DE') AS oui,
               cutQueryStringAndFragment('http://a.com/p?x=1#f') AS cq,
               tcpPort() AS tp, httpPort() AS hp
        """).collect()[0]
    assert (r.t0, r.t1, r.t2, r.t3, r.t4, r.t5) == (
        "Object", "Int64", "Double", "String", "Null", "Null")
    assert (r.r1, r.r2, r.r3) == ('{"b":1}', '"x"', "6")
    assert (r.j1, r.j2) == ('{"a":1}', '"x"')
    assert r.h1 is True and r.h2 is None
    assert r.oui == 0x123456
    assert r.cq == "http://a.com/p" and (r.tp, r.hp) == (9000, 8123)

    rows = ch_sql(spark, """
        SELECT approxTopK(1)(k) AS tk,
               anyRespectNulls(nv) AS arn, anyLastRespectNulls(v) AS aln
        FROM (SELECT number % 2 AS k, NULL AS nv, 7 AS v
              FROM numbers(25))""").collect()[0]
    assert [(e._1, e._2, e._3) for e in rows.tk] == [(0, 13, 0)]
    assert rows.arn is None and rows.aln == 7


def test_literal_array_unroll_fuzz(spark):
    """Round-15 literal-array fast paths: arrayCumSum / arrayDifference /
    arrayCompact unroll to direct ELEMENT_AT arithmetic when the arg is
    a literal ARRAY(...) constructor. Differential battery against the
    generic fold templates (forced via IF(TRUE, arr, NULL), which the
    detector rejects but Catalyst folds away) over adversarial element
    sets: NULLs in every position, narrow-int overflow mixes, doubles,
    strings with commas/parens/escaped quotes (the masked-split cases),
    adjacent duplicates, single elements."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    num_cases = [
        "array(1, number % 10, number % 7)",
        "array(CAST(NULL AS BIGINT), 2, 3)",
        "array(1, CAST(NULL AS BIGINT), 3)",
        "array(1, 2, CAST(NULL AS BIGINT))",
        "array(2000000000, 2000000000)",
        "array(1000000000, 1500000000, CAST(1500000000 AS BIGINT))",
        "array(number * 1.5, -number / 3.0)",
        "array(number)",
    ]
    str_cases = [
        "array('a,b', 'a,b', 'c(d', 'c(d', 'e''f')",
        "array(toString(number % 2), toString(number % 2), 'x')",
        "array(CAST(NULL AS STRING), CAST(NULL AS STRING), 'x', 'x')",
    ]
    checks = []
    for c in num_cases:
        g = f"IF(TRUE, {c}, NULL)"
        for fn in ("arrayCumSum", "arrayDifference", "arrayCompact"):
            checks.append(f"sum(CASE WHEN {fn}({c}) <=> {fn}({g}) "
                          f"THEN 0 ELSE 1 END)")
    for c in str_cases:
        g = f"IF(TRUE, {c}, NULL)"
        checks.append(f"sum(CASE WHEN arrayCompact({c}) <=> "
                      f"arrayCompact({g}) THEN 0 ELSE 1 END)")
    sel = ", ".join(f"{c} AS c{i}" for i, c in enumerate(checks))
    r = ch_sql(spark,
               f"SELECT {sel} FROM numbers(4096)").collect()[0]
    assert all(v == 0 for v in r), \
        [i for i, v in enumerate(r) if v != 0]
    # non-literal args (columns, nested exprs) keep the generic path
    r2 = ch_sql(spark, """
        SELECT arrayCumSum(a) AS cs, arrayDifference(a) AS ad,
               arrayCompact(a) AS ac
        FROM (SELECT array(number, number % 3, number % 3) AS a
              FROM numbers(3))""").collect()
    assert [list(x.cs) for x in r2] == [[0, 0, 0], [1, 2, 3], [2, 4, 6]]
    assert [list(x.ad) for x in r2] == [[0, 0, 0], [0, 0, 0], [0, 0, 0]]
    assert [list(x.ac) for x in r2] == [[0], [1], [2]]
