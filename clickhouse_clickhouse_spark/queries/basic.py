"""M0 — scan / filter / project / aggregate / sort / limit slice
(SURVEY.md §7 M0; reference read path §2.1, filters §2.2).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.registry import register
from clickhouse_clickhouse_spark.session import local_frame
from clickhouse_clickhouse_spark.tables import load_table


@register("q1_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 6)                                        AS avg_qty,
       round(avg(l_extendedprice), 6)                                   AS avg_price,
       round(avg(l_discount), 6)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark, sf):
    """TPC-H-Q1-style pricing summary: the flagship scan→filter→agg→sort
    slice. Catalyst pushes the shipdate filter to the Parquet scan and runs
    a partial/final hash agg (2 group keys × 8 aggregates)."""
    li = load_table(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
                 F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


@register("select_distinct", oracle="""
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
""")
def select_distinct(spark, sf):
    """DISTINCT (reference DistinctTransform §2.4) — hash-based, partial
    per-partition dedup then final."""
    return load_table(spark, sf, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register("limit_offset", oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_orderkey LIMIT 10 OFFSET 5
""")
def limit_offset(spark, sf):
    """LIMIT n OFFSET m over a deterministic total order (reference
    LimitTransform/offset §2.6)."""
    return (load_table(spark, sf, "orders")
            .select("o_orderkey", "o_totalprice")
            .orderBy("o_orderkey").offset(5).limit(10))


@register("having_filter", oracle="""
SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
FROM orders GROUP BY o_custkey HAVING count(*) >= 12
""")
def having_filter(spark, sf):
    """HAVING — filter after aggregation (§2.2)."""
    return (load_table(spark, sf, "orders")
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("spend"))
            .filter(F.col("n_orders") >= 12))


@register("count_star", oracle="SELECT count(*) AS n FROM lineitem")
def count_star(spark, sf):
    """Trivial count — Spark answers from Parquet footers (the reference's
    trivial-count-from-metadata optimization, §4.1)."""
    return load_table(spark, sf, "lineitem").agg(F.count("*").alias("n"))


@register("projection_pushdown", oracle="""
SELECT l_orderkey, round(l_extendedprice * (1 - l_discount), 4) AS net
FROM lineitem WHERE l_discount > 0.08 AND l_quantity < 5
""")
def projection_pushdown(spark, sf):
    """Narrow projection + selective filter: exercises predicate pushdown +
    column pruning (the PREWHERE analog, §2.2 — verify with
    .explain: PushedFilters + 4-column ReadSchema)."""
    li = load_table(spark, sf, "lineitem")
    return (li.filter((F.col("l_discount") > 0.08) & (F.col("l_quantity") < 5))
            .select("l_orderkey",
                    F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net")))


@register("sample_deterministic", oracle="""
SELECT count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
FROM orders WHERE (o_orderkey * 2654435761) % 100 < 10
""")
def sample_deterministic(spark, sf):
    """Key-deterministic SAMPLE (reference samples by a hash of the
    sampling key in the PK, §2.2): arithmetic hash-mod filter — same rows
    every run, on every engine, at any parallelism."""
    o = load_table(spark, sf, "orders")
    return (o.filter(F.pmod(F.col("o_orderkey") * 2654435761, F.lit(100)) < 10)
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("o_totalprice"), 4).alias("avg_price")))


@register("values_inline", oracle="""
SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) AS t(id, tag) WHERE id >= 2
""")
def values_inline(spark, sf):
    """VALUES / inline table source (table function surface §2.1)."""
    df = local_frame(spark, [(1, "a"), (2, "b"), (3, "c")], "id int, tag string")
    return df.filter(F.col("id") >= 2)


@register("numbers_range", oracle="""
SELECT cast(sum(n * n) AS BIGINT) AS sum_sq FROM generate_series(1, 1000) AS t(n)
""")
def numbers_range(spark, sf):
    """numbers(N) table function → spark.range (§2.1)."""
    return (spark.range(1, 1001)
            .agg(F.sum(F.col("id") * F.col("id")).cast("long").alias("sum_sq")))


@register("generate_random", oracle="""
WITH g AS (
  SELECT n, ((n * 2654435761 + 1013904223) % 1000003) / 1000003.0 AS u
  FROM generate_series(0, 9999) AS t(n))
SELECT count(*) AS n_rows,
       round(avg(u), 6) AS mean_u,
       round(stddev_pop(u), 6) AS std_u,
       round(min(u), 6) AS min_u,
       round(max(u), 6) AS max_u
FROM g
""")
def generate_random(spark, sf):
    """generateRandom table function — deterministic affine-hash uniforms
    over spark.range (seeded, reproducible on any engine; the reference's
    generateRandom is likewise seed-deterministic)."""
    n = spark.range(0, 10000)
    u = (F.pmod(F.col("id") * 2654435761 + 1013904223, F.lit(1000003))
         / 1000003.0)
    return (n.select(u.alias("u"))
            .agg(F.count("*").alias("n_rows"),
                 F.round(F.avg("u"), 6).alias("mean_u"),
                 F.round(F.stddev_pop("u"), 6).alias("std_u"),
                 F.round(F.min("u"), 6).alias("min_u"),
                 F.round(F.max("u"), 6).alias("max_u")))


@register("recursive_cte_series", oracle="""
WITH RECURSIVE t(n, fib, prev) AS (
  SELECT 1, 1, 0
  UNION ALL
  SELECT n + 1, fib + prev, fib FROM t WHERE n < 30
)
SELECT n, cast(fib AS BIGINT) AS fib FROM t
""")
def recursive_cte_series(spark, sf):
    """WITH RECURSIVE (Spark 4 recursive CTE — iterative series without
    driver loops; the reference added recursive CTEs in the same era)."""
    return spark.sql("""
        WITH RECURSIVE t(n, fib, prev) AS (
          SELECT 1, CAST(1 AS BIGINT), CAST(0 AS BIGINT)
          UNION ALL
          SELECT n + 1, fib + prev, fib FROM t WHERE n < 30
        )
        SELECT n, fib FROM t
    """)


@register("group_by_all", oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ALL ORDER BY ALL
""")
def group_by_all(spark, sf):
    """GROUP BY ALL / ORDER BY ALL — modern dialect sugar both the
    reference and Spark 4 support (all non-aggregate columns group)."""
    load_table(spark, sf, "lineitem").createOrReplaceTempView("__li_gba")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM __li_gba GROUP BY ALL ORDER BY ALL
    """)


@register("ch_sql_frontend", oracle="""
SELECT date_trunc('month', o_orderdate) AS m,
       count(DISTINCT o_custkey) AS buyers,
       cast(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2)
           AS filled_value
FROM orders
WHERE o_orderdate >= DATE '1995-01-01'
  AND o_orderdate < DATE '1995-07-01'
GROUP BY 1
""")
def ch_sql_frontend(spark, sf):
    """The ClickHouse-dialect SQL front end (ch_sql.py) end to end: the
    query text below is the REFERENCE dialect (PREWHERE, count(),
    uniqExact, countIf, quantileExact(p)(x), sumIf, toStartOfMonth);
    translate() rewrites it to Spark SQL and Catalyst runs it — the
    oracle is the hand-written ANSI equivalent."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    return ch_sql(spark, """
        SELECT toStartOfMonth(o_orderdate) AS m,
               uniqExact(o_custkey) AS buyers,
               countIf(o_totalprice > 150000) AS n_big,
               round(quantileExact(0.9)(o_totalprice), 4) AS p90,
               round(sumIf(o_totalprice, o_orderstatus = 'F'), 2)
                   AS filled_value
        FROM orders
        PREWHERE o_orderdate >= DATE '1995-01-01'
        WHERE o_orderdate < DATE '1995-07-01'
        GROUP BY m
        SETTINGS max_threads = 32""")


@register("tpch_q6_dialect", oracle="""
SELECT round(coalesce(sum(l_extendedprice * l_discount), 0), 4)
    AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1994-01-01'
  AND l_shipdate < DATE '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def tpch_q6_dialect(spark, sf):
    """TPC-H Q6 exactly as a reference user writes it (toDate casts,
    PREWHERE on the cheap predicate, multiply/round) — through the
    ch_sql front end; same plan-level pushdown as the DataFrame form.
    The fixture has zero qualifying rows at small SF, so the oracle
    COALESCEs to upstream's empty-set default (sum -> 0, r11)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return ch_sql(spark, """
        SELECT round(sum(multiply(l_extendedprice, l_discount)), 4)
                 AS revenue
        FROM lineitem
        PREWHERE l_shipdate >= toDate('1994-01-01')
          AND l_shipdate < toDate('1995-01-01')
        WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")


@register("ch_sql_array_join", oracle="""
WITH g AS (SELECT lang, list_sort(list_distinct(list(source))) AS srcs,
                  count(*) AS n_docs
           FROM documents GROUP BY lang)
SELECT lang, unnest(list_filter(srcs, x -> x != 'src3')) AS src, n_docs
FROM g
""")
def ch_sql_array_join(spark, sf):
    """ARRAY JOIN through the dialect front end: the clause rewrites to
    LATERAL VIEW EXPLODE (ch_sql.py), with the CH lambda-first
    higher-order functions (arrayFilter/arraySort/arrayDistinct)
    rewritten to Spark's array-first forms along the way."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "documents").createOrReplaceTempView("documents")
    return ch_sql(spark, """
        SELECT lang, src, n_docs
        FROM (SELECT lang, arraySort(arrayDistinct(groupArray(source))) AS srcs,
                     count() AS n_docs
              FROM documents GROUP BY lang)
        ARRAY JOIN arrayFilter(x -> x != 'src3', srcs) AS src
    """)


@register("ch_sql_frontend2", oracle="""
WITH g AS (
  SELECT o_custkey,
         (CAST(o_orderdate AS DATE) - CAST(dayofweek(o_orderdate) AS INT)) AS wk,
         o_totalprice
  FROM orders WHERE o_totalprice > 100000.0)
SELECT o_custkey, strftime(wk, '%Y-%m-%d') AS wk,
       count(*) AS n, round(sum(o_totalprice), 2) AS vol
FROM g GROUP BY o_custkey, wk
ORDER BY vol DESC, o_custkey, wk
LIMIT 15 OFFSET 5
""")
def ch_sql_frontend2(spark, sf):
    """Second dialect end-to-end: scalar WITH constant, Sunday-start
    toStartOfWeek, the LIMIT offset,count comma form, and ORDER BY over
    a translated aggregate — all through ch_sql.translate."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    return ch_sql(spark, """
        WITH 100000.0 AS floor_price
        SELECT o_custkey,
               toString(toStartOfWeek(o_orderdate)) AS wk,
               count() AS n,
               round(sum(o_totalprice), 2) AS vol
        FROM orders
        PREWHERE o_totalprice > floor_price
        GROUP BY o_custkey, wk
        ORDER BY vol DESC, o_custkey, wk
        LIMIT 5, 15""")


@register("ch_sql_quantile_gk", oracle="""
WITH r AS (
  SELECT l_returnflag, l_quantity,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_quantity) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS c
  FROM lineitem)
SELECT l_returnflag,
       min(CASE WHEN rn >= ceil(0.25 * c) THEN l_quantity END) AS q25,
       min(CASE WHEN rn >= ceil(0.5 * c) THEN l_quantity END) AS med
FROM r GROUP BY l_returnflag ORDER BY l_returnflag
""")
def ch_sql_quantile_gk(spark, sf):
    """quantileGK(accuracy[, level])(expr) through the dialect — accuracy
    is the FIRST parameter (upstream AggregateFunctionQuantileGK
    signature), translated to PERCENTILE_APPROX(expr, level, accuracy)
    with the one-param form defaulting level to 0.5. Accuracy exceeds the
    per-group row count so the GK sketch is exact; the oracle replays
    Spark's documented pick (smallest value whose rank >= ceil(p*n)) with
    a window rank."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return ch_sql(spark, """
        SELECT l_returnflag,
               quantileGK(500000, 0.25)(l_quantity) AS q25,
               quantileGK(500000)(l_quantity) AS med
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")


@register("ch_sql_with_fill", oracle="""
WITH g AS (
  SELECT o_orderdate AS d, count(*) AS cnt FROM orders
  WHERE o_totalprice > 350000
    AND o_orderdate >= DATE '1995-01-01'
    AND o_orderdate < DATE '1995-03-01'
  GROUP BY 1),
spine AS (SELECT CAST(range AS DATE) AS d
          FROM range(DATE '1995-01-01', DATE '1995-03-01',
                     INTERVAL 1 DAY))
SELECT CAST(spine.d AS TIMESTAMP) AS d, g.cnt AS cnt
FROM spine LEFT JOIN g USING (d)
""")
def ch_sql_with_fill(spark, sf):
    """ORDER BY ... WITH FILL through the dialect (round-5: translated
    instead of refused): ch_sql extracts the clause and applies
    operators/fill.with_fill_bounds — a sequence() spine anti-joined in,
    every data row kept, TO exclusive. Upstream FillingTransform.cpp."""
    from pyspark.sql import functions as F

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    # toDate() matters: the fixture stores o_orderdate as DateTime, and a
    # numeric fill step over DateTime means SECONDS (reference
    # convention) — the day-grain fill wants a real Date key
    out = ch_sql(spark, """
        SELECT d, cnt
        FROM (SELECT toDate(o_orderdate) AS d, count() AS cnt FROM orders
              WHERE o_totalprice > 350000
                AND o_orderdate >= toDate('1995-01-01')
                AND o_orderdate < toDate('1995-03-01')
              GROUP BY d)
        ORDER BY d WITH FILL FROM toDate('1995-01-01')
                             TO toDate('1995-03-01')""")
    return out.select(F.col("d").cast("timestamp").alias("d"), "cnt")


@register("ch_sql_array_join_zip", oracle="""
WITH g AS (SELECT l_orderkey, list_sort(list(l_linenumber)) AS lns,
                  list_sort(list(l_quantity)) AS qtys
           FROM lineitem WHERE l_orderkey < 200 GROUP BY l_orderkey)
SELECT l_orderkey, unnest(lns) AS ln, unnest(qtys) AS qty FROM g
""")
def ch_sql_array_join_zip(spark, sf):
    """Multi-array ARRAY JOIN through the dialect (round-5: the zip form
    is translated instead of refused): positional zip via
    explode(transform(arrays_zip(...), named_struct)) with the aliases
    substituted — NOT a cross product. Upstream ArrayJoinAction.cpp."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return ch_sql(spark, """
        SELECT l_orderkey, ln, qty
        FROM (SELECT l_orderkey,
                     arraySort(groupArray(l_linenumber)) AS lns,
                     arraySort(groupArray(l_quantity)) AS qtys
              FROM lineitem WHERE l_orderkey < 200
              GROUP BY l_orderkey)
        ARRAY JOIN lns AS ln, qtys AS qty""")


@register("system_numbers_limit", oracle="""
SELECT CAST(sum(n) AS BIGINT) AS s
FROM (SELECT generate_series AS n FROM generate_series(0, 999))
""")
def system_numbers_limit(spark, sf):
    """system.numbers as a lazily-bounded range ([U]
    src/Storages/System/StorageSystemNumbers.cpp — infinite upstream,
    always consumed through LIMIT; here GlobalLimit over Range executes
    only the requested prefix)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    return ch_sql(spark, """
        SELECT toInt64(sum(number)) AS s
        FROM (SELECT number FROM system.numbers LIMIT 1000)""")
