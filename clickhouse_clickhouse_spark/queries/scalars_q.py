"""M4 — scalar function library, by family (SURVEY.md §2.8).

Each query exercises a whole family with aliased outputs; dialect
differences between Spark and DuckDB are resolved on the ORACLE side (e.g.
DuckDB floor() returns double → cast, dayofweek bases differ → isodow
arithmetic), never by weakening the Spark expression.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.functions.datetime_fmt import format_date_time
from clickhouse_clickhouse_spark.registry import register
from clickhouse_clickhouse_spark.session import local_frame
from clickhouse_clickhouse_spark.tables import load_table


@register("str_funcs", oracle="""
SELECT p_partkey,
       cast(length(p_name) AS INT)          AS name_len,
       upper(p_name)                        AS name_upper,
       lower(p_brand)                       AS brand_lower,
       substring(p_name, 1, 8)              AS name_prefix,
       p_brand || ':' || p_type             AS brand_type,
       lpad(cast(p_size AS VARCHAR), 4, '0') AS size_padded,
       reverse(p_brand)                     AS brand_rev,
       repeat(p_brand, 2)                   AS brand_twice,
       replace(p_name, 'a', '@')            AS name_subst,
       trim('  ' || p_brand || '  ')        AS brand_trimmed
FROM part WHERE p_partkey <= 50
""")
def str_funcs(spark, sf):
    """String family: length/upper/lower/substring/concat/lpad/reverse/
    repeat/replace/trim (§2.8 strings)."""
    p = load_table(spark, sf, "part").filter(F.col("p_partkey") <= 50)
    return p.select(
        "p_partkey",
        F.length("p_name").alias("name_len"),
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat("p_brand", 2).alias("brand_twice"),
        F.expr("replace(p_name, 'a', '@')").alias("name_subst"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  ")))
        .alias("brand_trimmed"))


@register("str_search", oracle="""
SELECT c_custkey,
       c_name LIKE '%1%'                          AS has_one,
       cast(position('Customer' IN c_name) AS INT) AS pos_customer,
       starts_with(c_name, 'Customer')            AS is_customer,
       regexp_extract(c_name, '([0-9]+)', 1)      AS digits,
       contains(c_mktsegment, 'MACH')             AS seg_mach
FROM customer WHERE c_custkey <= 40
""")
def str_search(spark, sf):
    """Search family: like/position/startsWith/match-extract/contains."""
    c = load_table(spark, sf, "customer").filter(F.col("c_custkey") <= 40)
    return c.select(
        "c_custkey",
        F.col("c_name").like("%1%").alias("has_one"),
        F.locate("Customer", F.col("c_name")).alias("pos_customer"),
        F.col("c_name").startswith("Customer").alias("is_customer"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.col("c_mktsegment").contains("MACH").alias("seg_mach"))


@register("split_funcs", oracle="""
SELECT doc_id,
       cast(len(string_split(text, ' ')) AS INT) AS n_tokens,
       string_split(text, ' ')[1]              AS first_token,
       array_to_string(string_split(text, ' ')[1:3], '-') AS first3
FROM documents WHERE doc_id <= 30
""")
def split_funcs(spark, sf):
    """splitByChar + arrayStringConcat (replace/split family §2.8)."""
    d = load_table(spark, sf, "documents").filter(F.col("doc_id") <= 30)
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        toks.getItem(0).alias("first_token"),
        F.array_join(F.slice(toks, 1, 3), "-").alias("first3"))


@register("datetime_funcs", oracle="""
SELECT o_orderkey,
       cast(year(o_orderdate) AS INT)                 AS y,
       cast(month(o_orderdate) AS INT)                AS m,
       cast(day(o_orderdate) AS INT)                  AS d,
       cast(quarter(o_orderdate) AS INT)              AS q,
       cast(isodow(o_orderdate) - 1 AS INT)           AS wd,
       date_trunc('month', o_orderdate)               AS month_start,
       cast(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS plus30d,
       cast(o_orderdate + INTERVAL 2 MONTH AS TIMESTAMP) AS plus2m,
       cast(datediff('day', DATE '1995-01-01', o_orderdate::DATE) AS INT) AS days_since_95,
       strftime(o_orderdate, '%Y-%m-%d')              AS iso_day,
       cast(epoch(o_orderdate) AS BIGINT)             AS unix_ts
FROM orders WHERE o_orderkey <= 100
""")
def datetime_funcs(spark, sf):
    """Date/time family incl. the formatDateTime %-code translation
    (SURVEY.md §4.3 item 7). Spark weekday() == DuckDB isodow-1 (Mon=0)."""
    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") <= 100)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.weekday("o_orderdate").alias("wd"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("plus30d"),
        (F.col("o_orderdate") + F.expr("INTERVAL 2 MONTHS")).alias("plus2m"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .alias("days_since_95"),
        format_date_time(F.col("o_orderdate"), "%Y-%m-%d").alias("iso_day"),
        F.unix_timestamp("o_orderdate").alias("unix_ts"))


@register("to_start_of_interval", oracle="""
SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket_15m,
       count(*) AS n, round(sum(value), 4) AS total
FROM events GROUP BY 1
""")
def to_start_of_interval(spark, sf):
    """toStartOfInterval(ts, 15 min) → timestamp_seconds(floor(unix/900)*900)
    — the reference's arbitrary-interval bucketing (§2.8 date/time)."""
    ev = load_table(spark, sf, "events")
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / 900) * 900).alias("bucket_15m")
    return (ev.groupBy(bucket)
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("total")))


@register("conditional_funcs", oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'high'
            WHEN o_totalprice > 150000 THEN 'mid'
            ELSE 'low' END                            AS price_band,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN')   AS status_or_open,
       greatest(o_totalprice, 200000.0::DOUBLE)       AS at_least_200k,
       least(o_totalprice, 200000.0::DOUBLE)          AS at_most_200k,
       if(o_orderpriority = '1-URGENT', 1, 0)         AS is_urgent
FROM orders WHERE o_orderkey <= 200
""")
def conditional_funcs(spark, sf):
    """Conditionals: if/multiIf/coalesce/nullIf/greatest/least (§2.8)."""
    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") <= 200)
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 150000, "mid")
        .otherwise("low").alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN"))
        .alias("status_or_open"),
        F.greatest(F.col("o_totalprice"), F.lit(200000.0)).alias("at_least_200k"),
        F.least(F.col("o_totalprice"), F.lit(200000.0)).alias("at_most_200k"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        .alias("is_urgent"))


@register("math_funcs", oracle="""
SELECT l_orderkey, l_linenumber,
       round(abs(l_quantity - 25), 6)        AS abs_dev,
       cast(floor(l_extendedprice) AS BIGINT) AS price_floor,
       cast(ceil(l_extendedprice)  AS BIGINT) AS price_ceil,
       round(sqrt(l_quantity), 6)            AS sqrt_qty,
       round(exp(l_discount), 6)             AS exp_disc,
       round(ln(l_extendedprice), 6)         AS ln_price,
       round(log10(l_extendedprice), 6)      AS log10_price,
       round(pow(l_quantity, 2), 6)          AS qty_sq,
       cast(sign(l_quantity - 25) AS DOUBLE) AS sign_dev,
       round(sin(l_discount), 6)             AS sin_disc
FROM lineitem WHERE l_orderkey <= 60
""")
def math_funcs(spark, sf):
    """Math family (§2.8): identical names JVM-side; DuckDB floor/ceil
    return double → cast in oracle. Spark sign returns double → cast."""
    li = load_table(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 60)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(F.abs(F.col("l_quantity") - 25), 6).alias("abs_dev"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.exp("l_discount"), 6).alias("exp_disc"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.log10("l_extendedprice"), 6).alias("log10_price"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        F.signum(F.col("l_quantity") - 25).cast("double").alias("sign_dev"),
        F.round(F.sin("l_discount"), 6).alias("sin_disc"))


@register("rounding_funcs", oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice, 1)            AS r1,
       round(l_extendedprice, -2)           AS rneg2,
       cast(trunc(l_extendedprice) AS BIGINT) AS truncated
FROM lineitem WHERE l_orderkey <= 60
""")
def rounding_funcs(spark, sf):
    """Rounding family: round at positive/negative scale, trunc (§2.8)."""
    li = load_table(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 60)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round("l_extendedprice", 1).alias("r1"),
        F.round("l_extendedprice", -2).alias("rneg2"),
        F.col("l_extendedprice").cast("long").alias("truncated"))


@register("cast_funcs", oracle="""
SELECT l_orderkey, l_linenumber,
       cast(trunc(l_quantity) AS INT)       AS qty_int,
       cast(l_orderkey AS VARCHAR)          AS key_str,
       cast(cast(l_shipdate AS DATE) AS TIMESTAMP) AS ship_day,
       cast(cast(l_orderkey AS SMALLINT) AS INT) AS key_i16
FROM lineitem WHERE l_orderkey <= 60
""")
def cast_funcs(spark, sf):
    """Type-conversion family (§2.8): double→int truncates toward zero in
    Spark, DuckDB cast rounds → oracle uses trunc()."""
    li = load_table(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 60)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.col("l_orderkey").cast("string").alias("key_str"),
        F.col("l_shipdate").cast("date").cast("timestamp").alias("ship_day"),
        F.col("l_orderkey").cast("smallint").cast("int").alias("key_i16"))


@register("json_funcs", oracle="""
SELECT event_type,
       cast(sum(cast(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       count_if(json_extract_string(props, '$.k') IS NOT NULL) :: BIGINT  AS n_with_k
FROM events GROUP BY event_type
""")
def json_funcs(spark, sf):
    """JSON family on events.props (§2.8): get_json_object / typed cast."""
    ev = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (ev.groupBy("event_type")
            .agg(F.sum(k).cast("long").alias("sum_k"),
                 F.count_if(k.isNotNull()).alias("n_with_k")))


@register("hash_funcs", oracle="""
SELECT p_partkey,
       md5(p_name)                 AS name_md5,
       cast(length(md5(p_name)) AS INT) AS md5_len,
       sha256(p_brand)             AS brand_sha256
FROM part WHERE p_partkey <= 30
""")
def hash_funcs(spark, sf):
    """Cryptographic hash family (§2.8): md5/sha256 agree across engines;
    cityHash/sipHash are engine-internal (xxhash64 is our analog —
    exercised in the dedup pipeline, not oracle-compared)."""
    p = load_table(spark, sf, "part").filter(F.col("p_partkey") <= 30)
    return p.select(
        "p_partkey",
        F.md5("p_name").alias("name_md5"),
        F.length(F.md5("p_name")).alias("md5_len"),
        F.sha2("p_brand", 256).alias("brand_sha256"))


@register("bit_funcs", oracle="""
SELECT event_id,
       event_id & 255                        AS low_byte,
       event_id | 16                         AS with_bit4,
       xor(event_id, 85)                     AS xored,
       event_id << 2                         AS shl2,
       event_id >> 3                         AS shr3,
       cast(bit_count(event_id) AS INT)      AS popcount
FROM events WHERE event_id <= 100
""")
def bit_funcs(spark, sf):
    """Bit family (§2.8)."""
    ev = load_table(spark, sf, "events").filter(F.col("event_id") <= 100)
    e = F.col("event_id")
    return ev.select(
        "event_id",
        e.bitwiseAND(255).alias("low_byte"),
        e.bitwiseOR(16).alias("with_bit4"),
        e.bitwiseXOR(85).alias("xored"),
        F.shiftleft(e, 2).alias("shl2"),
        F.shiftright(e, 3).alias("shr3"),
        F.bit_count(e).alias("popcount"))


@register("enc_funcs", oracle="""
SELECT p_partkey,
       hex(p_partkey)          AS key_hex,
       to_base64(p_brand::BLOB) AS brand_b64,
       cast(ascii(p_name) AS INT) AS first_cp
FROM part WHERE p_partkey <= 30
""")
def enc_funcs(spark, sf):
    """Encoding family: hex/base64/ascii (§2.8)."""
    p = load_table(spark, sf, "part").filter(F.col("p_partkey") <= 30)
    return p.select(
        "p_partkey",
        F.hex("p_partkey").alias("key_hex"),
        F.base64(F.col("p_brand").cast("binary")).alias("brand_b64"),
        F.ascii("p_name").alias("first_cp"))


@register("url_funcs", oracle="""
WITH u AS (
  SELECT p_partkey,
         'https://shop.example.com/parts/' || p_partkey || '?brand=' || replace(p_brand, '#', '-') AS url
  FROM part WHERE p_partkey <= 30)
SELECT p_partkey,
       regexp_extract(url, '^[a-z]+://([^/]+)', 1)  AS host,
       regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, 'brand=([^&]+)', 1)      AS brand_param,
       regexp_extract(url, '^([a-z]+)://', 1)       AS protocol
FROM u
""")
def url_funcs(spark, sf):
    """URL family (§2.8): Spark parse_url vs regexp-based oracle."""
    p = load_table(spark, sf, "part").filter(F.col("p_partkey") <= 30)
    url = F.concat(F.lit("https://shop.example.com/parts/"),
                   F.col("p_partkey").cast("string"),
                   F.lit("?brand="), F.regexp_replace("p_brand", "#", "-"))
    u = p.select("p_partkey", url.alias("url"))
    return u.select(
        "p_partkey",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("brand")).alias("brand_param"),
        F.parse_url("url", F.lit("PROTOCOL")).alias("protocol"))


@register("array_funcs", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents WHERE doc_id <= 30)
SELECT doc_id,
       cast(len(toks) AS INT)                      AS n_toks,
       cast(len(list_distinct(toks)) AS INT)       AS n_uniq,
       list_contains(toks, 'data')                 AS has_data,
       list_sort(toks)[1]                          AS min_tok,
       array_to_string(list_sort(list_distinct(toks))[1:5], ',') AS first5_sorted,
       cast(list_position(toks, 'the') AS INT)     AS pos_the
FROM t
""")
def array_funcs(spark, sf):
    """Array family (§2.8): size/distinct/contains/sort/slice/indexOf.
    Spark array_position and DuckDB list_position both return 0/NULL-safe
    1-based positions (DuckDB returns NULL when absent → coalesce both to 0)."""
    d = load_table(spark, sf, "documents").filter(F.col("doc_id") <= 30)
    toks = F.split("text", " ")
    t = d.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        F.array_contains("toks", "data").alias("has_data"),
        F.array_sort("toks").getItem(0).alias("min_tok"),
        F.array_join(F.slice(F.array_sort(F.array_distinct("toks")), 1, 5), ",")
        .alias("first5_sorted"),
        F.array_position("toks", "the").cast("int").alias("pos_the"))


@register("hof_funcs", oracle="""
SELECT vec_id,
       round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum'), 6)
           AS sum_sq,
       cast(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
       round(list_aggregate(embedding, 'max')::DOUBLE, 6) AS max_dim
FROM embeddings WHERE vec_id <= 40
""")
def hof_funcs(spark, sf):
    """Higher-order functions: arrayMap/arrayFilter/arrayReduce →
    transform/filter/aggregate lambdas (§2.8 arrays)."""
    e = load_table(spark, sf, "embeddings").filter(F.col("vec_id") <= 40)
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.round(F.aggregate(
            F.transform(emb, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v), 6).alias("sum_sq"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
        F.round(F.array_max(emb).cast("double"), 6).alias("max_dim"))


@register("map_funcs", oracle="""
SELECT event_type,
       cast(m['cnt'][1] AS BIGINT) AS cnt_entry,
       round(m2['total'][1], 4) AS total_entry
FROM (
  SELECT event_type,
         map {'cnt': count(*)}            AS m,
         map {'total': sum(value)}        AS m2
  FROM events GROUP BY event_type) t
""")
def map_funcs(spark, sf):
    """Map family (§2.8): create_map / element_at round-trip."""
    ev = load_table(spark, sf, "events")
    g = ev.groupBy("event_type").agg(
        F.create_map(F.lit("cnt"), F.count("*")).alias("m"),
        F.create_map(F.lit("total"), F.sum("value")).alias("m2"))
    return g.select(
        "event_type",
        F.element_at("m", "cnt").alias("cnt_entry"),
        F.round(F.element_at("m2", "total"), 4).alias("total_entry"))


@register("string_distance", oracle="""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       cast(levenshtein(a.p_brand, b.p_brand) AS INT) AS lev
FROM part a JOIN part b ON a.p_partkey < b.p_partkey
WHERE a.p_partkey <= 12 AND b.p_partkey <= 12
""")
def string_distance(spark, sf):
    """String distance family (§2.8): levenshtein (editDistance)."""
    p = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    a, b = p.alias("a"), p.alias("b")
    return (a.join(b, F.col("a.p_partkey") < F.col("b.p_partkey"))
            .filter((F.col("a.p_partkey") <= 12) & (F.col("b.p_partkey") <= 12))
            .select(F.col("a.p_partkey").alias("key_a"),
                    F.col("b.p_partkey").alias("key_b"),
                    F.levenshtein(F.col("a.p_brand"), F.col("b.p_brand")).alias("lev")))


@register("parse_datetime", oracle="""
WITH s AS (SELECT o_orderkey, strftime(o_orderdate, '%d/%m/%Y') AS txt
           FROM orders WHERE o_orderkey <= 60)
SELECT o_orderkey, txt,
       strptime(txt, '%d/%m/%Y') AS parsed,
       try_strptime('not a date', '%d/%m/%Y') IS NULL AS bad_is_null
FROM s
""")
def parse_datetime(spark, sf):
    """parseDateTime / parseDateTimeBestEffort → to_timestamp(fmt) +
    try_to_timestamp fallback (§2.8 conversions; format dialect translated
    from CH %-codes by functions/datetime_fmt.py)."""
    from clickhouse_clickhouse_spark.functions.datetime_fmt import ch_format_to_java
    fmt = ch_format_to_java("%d/%m/%Y")  # -> dd/MM/yyyy
    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") <= 60)
    s = o.select("o_orderkey",
                 F.date_format("o_orderdate", fmt).alias("txt"))
    return s.select(
        "o_orderkey", "txt",
        F.to_timestamp("txt", fmt).alias("parsed"),
        F.try_to_timestamp(F.lit("not a date"), F.lit(fmt)).isNull()
        .alias("bad_is_null"))


@register("round_bankers", oracle="""
SELECT l_orderkey, l_linenumber,
       round_even(l_quantity / 4.0, 1) AS bankers_1dp
FROM lineitem WHERE l_orderkey <= 60
""")
def round_bankers(spark, sf):
    """roundBankers → bround (half-to-even; §2.8 rounding). Operand chosen
    so .x5 boundaries actually occur (quantity/4 has exact binary halves)."""
    li = load_table(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 60)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.bround(F.col("l_quantity") / 4.0, 1).alias("bankers_1dp"))


@register("ch_dialect_demo", oracle="""
SELECT o_orderkey,
       cast(year(o_orderdate) AS INT) AS yr,
       date_trunc('month', o_orderdate) AS mon,
       CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_band,
       round(o_totalprice / 1000.0, 2) AS price_k,
       upper(o_orderstatus) AS status_u,
       cast(isodow(o_orderdate) AS INT) AS dow
FROM orders WHERE o_orderkey <= 100
""")
def ch_dialect_demo(spark, sf):
    """Reference-dialect spelling: the same query written entirely with
    CH-named functions from the ch_functions namespace (toYear,
    toStartOfMonth, if, round, upper, toDayOfWeek)."""
    from clickhouse_clickhouse_spark import ch_functions as ch

    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") <= 100)
    return o.select(
        "o_orderkey",
        ch.toYear("o_orderdate").alias("yr"),
        ch.toStartOfMonth("o_orderdate").alias("mon"),
        ch.if_(F.col("o_totalprice") > 200000, F.lit("big"), F.lit("small"))
        .alias("size_band"),
        ch.round_(F.col("o_totalprice") / 1000.0, 2).alias("price_k"),
        ch.upper("o_orderstatus").alias("status_u"),
        ch.toDayOfWeek("o_orderdate").alias("dow"))


@register("arith_edge_semantics", oracle="""
WITH x AS (SELECT event_id, cast(event_id - 50 AS BIGINT) AS a FROM events
           WHERE event_id <= 100)
SELECT event_id, a,
       a // 7                    AS int_div,
       a % 7                     AS mod_signed,
       cast(a % 7 + 7 AS BIGINT) % 7 AS pmod7,
       -a                        AS negated,
       abs(a)                    AS abs_a
FROM x
""")
def arith_edge_semantics(spark, sf):
    """Negative-operand arithmetic semantics pinned cross-engine (§2.8
    arithmetic; SURVEY.md intDiv note): truncating integer division,
    sign-of-dividend modulo, positive pmod."""
    ev = load_table(spark, sf, "events").filter(F.col("event_id") <= 100)
    a = (F.col("event_id") - 50).cast("long")
    return ev.select(
        "event_id", a.alias("a"),
        F.expr("div(event_id - 50, 7)").alias("int_div"),
        (a % 7).alias("mod_signed"),
        F.pmod(a, F.lit(7)).cast("long").alias("pmod7"),
        (-a).alias("negated"),
        F.abs(a).alias("abs_a"))


@register("misc_presentation_funcs", oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice * 100 >= 1073741824.0
              THEN cast(round(o_totalprice * 100 / 1073741824.0, 2) AS VARCHAR) || ' GiB'
            WHEN o_totalprice * 100 >= 1048576.0
              THEN cast(round(o_totalprice * 100 / 1048576.0, 2) AS VARCHAR) || ' MiB'
            WHEN o_totalprice * 100 >= 1024.0
              THEN cast(round(o_totalprice * 100 / 1024.0, 2) AS VARCHAR) || ' KiB'
            ELSE cast(cast(o_totalprice * 100 AS BIGINT) AS VARCHAR) || ' B' END
           AS readable,
       repeat('#', cast(round(least(greatest(o_totalprice, 0.0), 500000.0)
                              / 500000.0 * 20, 0) AS INT)) AS bar,
       coalesce(CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled' END,
                'other') AS status_name
FROM orders WHERE o_orderkey <= 80
""")
def misc_presentation_funcs(spark, sf):
    """Introspection/presentation family (§2.8): formatReadableSize, bar,
    transform(x, [..], [..], default) via the ch namespace."""
    from clickhouse_clickhouse_spark import ch_functions as ch

    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") <= 80)
    return o.select(
        "o_orderkey",
        ch.formatReadableSize(F.col("o_totalprice") * 100).alias("readable"),
        ch.bar(F.col("o_totalprice"), 0, 500000, width=20).alias("bar"),
        ch.transform("o_orderstatus", ["O", "F"], ["open", "filled"], "other")
        .alias("status_name"))


@register("tz_funcs", oracle="""
SELECT o_orderkey,
       timezone('America/New_York', o_orderdate AT TIME ZONE 'UTC') AS ny_local,
       timezone('Asia/Tokyo', o_orderdate AT TIME ZONE 'UTC')       AS tokyo_local,
       cast(timezone('UTC',
                     timezone('America/New_York', o_orderdate AT TIME ZONE 'UTC')
                       AT TIME ZONE 'America/New_York')
            AS TIMESTAMP)                                           AS back_to_utc
FROM orders WHERE o_orderkey <= 60
""")
def tz_funcs(spark, sf):
    """toTimeZone family (§2.8 date/time): UTC-naive fixture timestamps
    shifted into/out of named zones (from_utc_timestamp/to_utc_timestamp)."""
    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") <= 60)
    return o.select(
        "o_orderkey",
        F.from_utc_timestamp("o_orderdate", "America/New_York").alias("ny_local"),
        F.from_utc_timestamp("o_orderdate", "Asia/Tokyo").alias("tokyo_local"),
        F.to_utc_timestamp(
            F.from_utc_timestamp("o_orderdate", "America/New_York"),
            "America/New_York").alias("back_to_utc"))


@register("array_enumerate", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ')[1:10] AS a
           FROM documents WHERE doc_id <= 20)
SELECT doc_id,
       array_to_string(list_transform(generate_series(1, len(a)),
                                      i -> cast(i AS VARCHAR)), ',') AS enum_idx,
       array_to_string(list_transform(generate_series(1, len(a)),
           i -> cast(len(list_filter(a[1:i], x -> x = a[i])) AS VARCHAR)), ',')
           AS enum_uniq
FROM t
""")
def array_enumerate(spark, sf):
    """arrayEnumerate (1..n) + arrayEnumerateUniq (occurrence index of
    each value) over token prefixes (§2.8 arrays) — emitted as joined int
    strings."""
    d = load_table(spark, sf, "documents").filter(F.col("doc_id") <= 20)
    a = F.slice(F.split("text", " "), 1, 10)
    t = d.select("doc_id", a.alias("a"))
    enum_idx = F.transform(F.sequence(F.lit(1), F.size("a")),
                           lambda i: i.cast("string"))
    enum_uniq = F.transform(
        F.sequence(F.lit(1), F.size("a")),
        lambda i: F.size(F.filter(F.slice("a", 1, i),
                                  lambda x: x == F.element_at(F.col("a"), i)))
        .cast("string"))
    return t.select("doc_id",
                    F.array_join(enum_idx, ",").alias("enum_idx"),
                    F.array_join(enum_uniq, ",").alias("enum_uniq"))


@register("str_search2", oracle="""
SELECT doc_id,
       cast((length(text) - length(replace(text, 'data', ''))) / 4 AS INT)
           AS n_data_occurrences,
       (contains(text, 'spark') OR contains(text, 'query') OR contains(text, 'merge'))
           AS multi_any,
       cast(position('key' IN substring(text, 20)) AS INT) AS pos_from_20
FROM documents WHERE doc_id <= 40
""")
def str_search2(spark, sf):
    """countSubstrings / multiSearchAny / position-with-offset (§2.8
    search family, second batch)."""
    d = load_table(spark, sf, "documents").filter(F.col("doc_id") <= 40)
    t = F.col("text")
    count_sub = ((F.length(t) - F.length(F.replace(t, F.lit("data"), F.lit(""))))
                 / 4).cast("int")
    multi_any = (t.contains("spark") | t.contains("query") | t.contains("merge"))
    return d.select(
        "doc_id",
        count_sub.alias("n_data_occurrences"),
        multi_any.alias("multi_any"),
        F.locate("key", F.substring(t, 20, 1 << 30)).alias("pos_from_20"))


@register("array_mutation_funcs", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ')[1:6] AS a
           FROM documents WHERE doc_id <= 20)
SELECT doc_id,
       array_to_string(list_append(a, 'END'), ',')             AS pushed_back,
       array_to_string(list_prepend('START', a), ',')          AS pushed_front,
       array_to_string(a[1:3], ',')                            AS resized_down,
       array_to_string(a || ['pad', 'pad'], ',')               AS extended,
       array_to_string(list_reverse(a), ',')                   AS reversed
FROM t
""")
def array_mutation_funcs(spark, sf):
    """arrayPushBack/PushFront/Resize/Concat/Reverse (§2.8 arrays,
    mutation-shaped builders)."""
    d = load_table(spark, sf, "documents").filter(F.col("doc_id") <= 20)
    a = F.slice(F.split("text", " "), 1, 6)
    t = d.select("doc_id", a.alias("a"))
    return t.select(
        "doc_id",
        F.array_join(F.concat("a", F.array(F.lit("END"))), ",").alias("pushed_back"),
        F.array_join(F.concat(F.array(F.lit("START")), F.col("a")), ",")
        .alias("pushed_front"),
        F.array_join(F.slice("a", 1, 3), ",").alias("resized_down"),
        F.array_join(F.concat("a", F.array(F.lit("pad"), F.lit("pad"))), ",")
        .alias("extended"),
        F.array_join(F.reverse("a"), ",").alias("reversed"))


@register("map_hof_funcs", oracle="""
WITH g AS (
  SELECT user_id,
         cast(count_if(event_type = 'click') AS BIGINT) AS n_click,
         cast(count_if(event_type = 'view') AS BIGINT)  AS n_view
  FROM events GROUP BY user_id)
SELECT user_id,
       n_click * 2      AS clicks_doubled,
       n_click + n_view AS clicks_plus_views,
       n_view >= 5      AS many_views
FROM g
""")
def map_hof_funcs(spark, sf):
    """Map higher-order functions (§2.8 maps: mapApply/transform_values,
    mapFilter, mapZipWith/map_zip_with): values are transformed inside
    Spark map columns; the oracle checks the extracted results directly."""
    ev = load_table(spark, sf, "events")
    g = ev.groupBy("user_id").agg(
        F.map_from_entries(F.array(
            F.struct(F.lit("click").alias("k"),
                     F.count_if(F.col("event_type") == "click").alias("v")),
            F.struct(F.lit("view").alias("k"),
                     F.count_if(F.col("event_type") == "view").alias("v")),
        )).alias("m"))
    doubled = F.transform_values("m", lambda k, v: v * 2)
    zipped = F.map_zip_with("m", doubled, lambda k, v1, v2: v2 - v1)
    filtered = F.map_filter("m", lambda k, v: v >= 5)
    return g.select(
        "user_id",
        F.element_at(doubled, "click").alias("clicks_doubled"),
        # map_zip_with check folded in: (2m - m)[click] + m[view]
        (F.element_at(zipped, "click") + F.element_at("m", "view"))
        .alias("clicks_plus_views"),
        F.map_contains_key(filtered, "view").alias("many_views"))


@register("udtf_split_words", oracle="""
SELECT doc_id, unnest(string_split(text, ' ')[1:5]) AS word
FROM documents WHERE doc_id <= 10
""")
def udtf_split_words(spark, sf):
    """Python UDTF as a table function (§2.10 executable table function
    analog): splits each doc's first tokens into rows; oracle is plain
    unnest (the UDTF mechanism is what's under test)."""
    from pyspark.sql.functions import udtf

    if not hasattr(udtf_split_words, "_registered"):
        @udtf(returnType="doc_id bigint, word string")
        class SplitWords:
            def eval(self, doc_id: int, text: str):
                for w in text.split(" ")[:5]:
                    yield doc_id, w

        spark.udtf.register("split_words_udtf", SplitWords)
        udtf_split_words._registered = True
    load_table(spark, sf, "documents").filter(F.col("doc_id") <= 10) \
        .createOrReplaceTempView("__docs_udtf")
    return spark.sql("""
        SELECT s.doc_id, s.word
        FROM __docs_udtf d,
             LATERAL split_words_udtf(d.doc_id, d.text) s
    """)


@register("str_regex_backref", oracle="""
SELECT c_custkey,
       regexp_replace(c_name, '(Customer)#0*([0-9]+)', '\\2-\\1') AS reordered,
       regexp_replace(c_name, '[0-9]', '*', 'g')                  AS masked
FROM customer WHERE c_custkey <= 40
""")
def str_regex_backref(spark, sf):
    """replaceRegexpOne/All with capture-group backreferences (§2.8) —
    dialect note: Spark uses $n, DuckDB \\n; same semantics."""
    c = load_table(spark, sf, "customer").filter(F.col("c_custkey") <= 40)
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", r"(Customer)#0*([0-9]+)", r"$2-$1")
        .alias("reordered"),
        F.regexp_replace("c_name", "[0-9]", "*").alias("masked"))


@register("parse_best_effort", oracle="""
WITH s AS (
  SELECT o_orderkey,
         CASE o_orderkey % 3 WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
              WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
              ELSE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') END AS txt
  FROM orders WHERE o_orderkey <= 90)
SELECT o_orderkey, txt,
       coalesce(try_strptime(txt, '%Y-%m-%d'),
                try_strptime(txt, '%d/%m/%Y'),
                try_strptime(txt, '%Y-%m-%dT%H:%M:%S')) AS parsed
FROM s
""")
def parse_best_effort(spark, sf):
    """parseDateTimeBestEffort: fallback chain of try_to_timestamp over
    candidate formats (§2.8 conversions) — mixed-format input column
    parses fully with no errors (ANSI off)."""
    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") <= 90)
    txt = (F.when(F.col("o_orderkey") % 3 == 0,
                  F.date_format("o_orderdate", "yyyy-MM-dd"))
           .when(F.col("o_orderkey") % 3 == 1,
                 F.date_format("o_orderdate", "dd/MM/yyyy"))
           .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss")))
    s = o.select("o_orderkey", txt.alias("txt"))
    best_effort = F.coalesce(
        F.try_to_timestamp("txt", F.lit("yyyy-MM-dd")),
        F.try_to_timestamp("txt", F.lit("dd/MM/yyyy")),
        F.try_to_timestamp("txt", F.lit("yyyy-MM-dd'T'HH:mm:ss")))
    return s.select("o_orderkey", "txt", best_effort.alias("parsed"))


@register("null_semantics", oracle="""
SELECT n_nationkey,
       (cnt = cnt) IS NULL            AS null_eq_is_null,
       cnt + 1 IS NULL                AS null_arith_propagates,
       coalesce(cnt, -1)              AS coalesced,
       cnt IS DISTINCT FROM NULL      AS has_value
FROM nation LEFT JOIN (SELECT c_nationkey, count(*) AS cnt
                       FROM customer GROUP BY c_nationkey) c
  ON n_nationkey = c_nationkey
""")
def null_semantics(spark, sf):
    """Three-valued-logic parity (§2.8 comparison/logical): NULL = NULL is
    NULL, arithmetic propagates NULL, IS DISTINCT FROM, coalesce —
    exercised against real NULLs from an unmatched left join."""
    n = load_table(spark, sf, "nation")
    c = (load_table(spark, sf, "customer").groupBy("c_nationkey")
         .agg(F.count("*").alias("cnt")))
    j = n.join(c, n.n_nationkey == c.c_nationkey, "left")
    return j.select(
        "n_nationkey",
        (F.col("cnt") == F.col("cnt")).isNull().alias("null_eq_is_null"),
        (F.col("cnt") + 1).isNull().alias("null_arith_propagates"),
        F.coalesce("cnt", F.lit(-1)).alias("coalesced"),
        F.col("cnt").isNotNull().alias("has_value"))


@register("collate_case_insensitive", oracle="""
WITH t AS (SELECT p_brand,
                  CASE WHEN p_partkey % 2 = 0 THEN upper(p_name)
                       ELSE p_name END AS name2
           FROM part)
SELECT p_brand,
       CAST(count(DISTINCT name2) AS INT)        AS n_binary,
       CAST(count(DISTINCT lower(name2)) AS INT) AS n_ci,
       min(lower(name2))                         AS first_ci
FROM t GROUP BY p_brand
""")
def collate_case_insensitive(spark, sf):
    """COLLATE (§2.6 — Spark 4 collations): distinct-count and min under
    the UTF8_LCASE collation vs binary collation, over a mixed-case
    column synthesized from p_name. The collated comparison happens
    JVM-side in the agg (no lower() copy of the data); the oracle models
    UTF8_LCASE as lower()."""
    p = load_table(spark, sf, "part")
    name2 = F.when(F.col("p_partkey") % 2 == 0,
                   F.upper("p_name")).otherwise(F.col("p_name"))
    ci = F.collate(name2, "UTF8_LCASE")
    return (p.groupBy("p_brand")
            .agg(F.countDistinct(name2).cast("int").alias("n_binary"),
                 F.countDistinct(ci).cast("int").alias("n_ci"),
                 F.lower(F.min(ci)).cast("string").alias("first_ci")))


@register("enc_morton", oracle="""
WITH m AS (
  SELECT p_partkey, p_size,
         CAST(list_sum(list_transform(range(0, 16),
              i -> (((p_partkey >> i) & 1)::BIGINT << (2 * i))
                   + (((p_size::BIGINT >> i) & 1)::BIGINT << (2 * i + 1))))
              AS BIGINT) AS morton
  FROM part WHERE p_partkey <= 200)
SELECT p_partkey, p_size, morton,
       CAST(list_sum(list_transform(range(0, 16),
            i -> ((morton >> (2 * i)) & 1)::BIGINT << i)) AS BIGINT) AS x_back,
       CAST(list_sum(list_transform(range(0, 16),
            i -> ((morton >> (2 * i + 1)) & 1)::BIGINT << i)) AS BIGINT) AS y_back
FROM m
""")
def enc_morton(spark, sf):
    """mortonEncode/mortonDecode (reference [U] src/Functions/
    mortonEncode.cpp — space-filling-curve locality codes): 16-bit ×
    16-bit bit interleave as a JVM higher-order fold over bit positions,
    plus the decode roundtrip. The morton code is the reference's tool
    for multidimensional range pruning; at scale it doubles as a
    locality-preserving sort/partition key."""
    p = load_table(spark, sf, "part").filter(F.col("p_partkey") <= 200)
    enc = ("aggregate(sequence(0, 15), 0L, (acc, i) -> acc"
           " + shiftleft(shiftright(p_partkey, i) & 1, 2 * i)"
           " + shiftleft(shiftright(cast(p_size AS bigint), i) & 1, 2 * i + 1))")
    dx = ("aggregate(sequence(0, 15), 0L, (acc, i) -> acc"
          " + shiftleft(shiftright(morton, 2 * i) & 1, i))")
    dy = ("aggregate(sequence(0, 15), 0L, (acc, i) -> acc"
          " + shiftleft(shiftright(morton, 2 * i + 1) & 1, i))")
    return (p.select("p_partkey", "p_size", F.expr(enc).alias("morton"))
            .select("p_partkey", "p_size", "morton",
                    F.expr(dx).alias("x_back"), F.expr(dy).alias("y_back")))


@register("json_variant_type", oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INT) AS k_int,
       json_type(json(props)) AS top_type
FROM events WHERE event_id <= 80
""")
def json_variant_type(spark, sf):
    """The reference's semi-structured JSON/Dynamic column type (§1.2)
    on Spark 4's VariantType: parse once with parse_json, then typed
    variant_get extraction + schema introspection — the engine-native
    answer to ClickHouse's JSON object type (vs string re-parsing)."""
    ev = load_table(spark, sf, "events").filter(F.col("event_id") <= 80)
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.regexp_extract(F.schema_of_variant(v), "^([A-Z]+)", 1)
        .alias("top_type"))


@register("extract_key_value_pairs", oracle="""
SELECT o_orderkey,
       o_orderstatus                 AS status_v,
       o_orderpriority               AS prio_v,
       cast(o_custkey AS VARCHAR)    AS cust_v,
       CAST(3 AS INT)                AS n_pairs
FROM orders WHERE o_orderkey <= 200
""")
def extract_key_value_pairs(spark, sf):
    """extractKeyValuePairs (reference src/Functions/keyvaluepair/
    extractKeyValuePairs.cpp): serialize columns into 'k:v,k:v' text, parse
    back with str_to_map (codegen-side), extract by key — the oracle checks
    the round-trip against the source columns."""
    from clickhouse_clickhouse_spark.ch_functions import extractKeyValuePairs
    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") <= 200)
    kv = F.concat_ws(",",
                     F.concat(F.lit("status:"), "o_orderstatus"),
                     F.concat(F.lit("prio:"), "o_orderpriority"),
                     F.concat(F.lit("cust:"), F.col("o_custkey").cast("string")))
    m = extractKeyValuePairs(kv)
    return o.select(
        "o_orderkey",
        m.getItem("status").alias("status_v"),
        m.getItem("prio").alias("prio_v"),
        m.getItem("cust").alias("cust_v"),
        F.size(F.map_keys(m)).alias("n_pairs"))


# -- IPv6 codec family (functions/ip.py) ----------------------------------
# Oracle expectations generated by Python's stdlib `ipaddress` module — an
# independent trusted RFC 5952 implementation — and baked into a VALUES
# oracle; the Spark side computes everything from the raw strings.

def _ipv6_vectors():
    import ipaddress

    addrs = [
        ("2001:0db8:0000:0000:0000:ff00:0042:8329", 32),
        ("2001:db8::ff00:42:8329", 48),
        ("::1", 128),
        ("::", 0),
        ("fe80::204:61ff:fe9d:f156", 10),
        ("::ffff:192.168.100.228", 96),
        ("2001:DB8::8:800:200C:417A", 60),   # uppercase input
        ("0:0:0:0:8:800:200c:417a", 64),     # zero run at start
        ("2001:db8:a::", 126),               # zero run at end
        ("1:0:0:2:0:0:0:3", 17),             # tie-break: longest-left rule
        ("a:b:c:d:1:2:3:4", 128),            # no compression
    ]
    def render(ip):
        # the reference (and RFC 5952 section 5) renders v4-mapped
        # addresses dotted; Python ipaddress prints hex groups instead
        v4 = ip.ipv4_mapped
        return f"::ffff:{v4}" if v4 is not None else str(ip)

    rows = []
    for a, p in addrs:
        ip = ipaddress.IPv6Address(a)
        net = ipaddress.IPv6Network((int(ip) & int(
            ipaddress.IPv6Network(f"::/{p}").netmask), p))
        rows.append((a, p, render(ip), render(net.network_address),
                     render(net.broadcast_address),
                     ip in net))
    return rows


_IPV6_ROWS = _ipv6_vectors()
_IPV6_VALUES = ",\n  ".join(
    f"('{a}', {p}, '{c}', '{lo}', '{hi}', {str(inr).upper()})"
    for a, p, c, lo, hi, inr in _IPV6_ROWS)


@register("ip_funcs_v6", oracle=f"""
SELECT addr, prefix, canonical, range_lo, range_hi, in_range
FROM (VALUES
  {_IPV6_VALUES}
) AS t(addr, prefix, canonical, range_lo, range_hi, in_range)
""")
def ip_funcs_v6(spark, sf):
    """IPv6 codec family (reference FunctionsCodingIP.cpp): parse ->
    binary16, RFC 5952 canonical rendering, CIDR range bounds, range
    membership — all pure JVM column expressions (functions/ip.py), hash-
    checked against Python-ipaddress-generated expectations."""
    from clickhouse_clickhouse_spark.functions.ip import (
        ipv6_string_to_num, with_ipv6_canonical, with_ipv6_cidr_range,
        with_ipv6_in_range,
    )

    df = local_frame(spark, [(a, p) for a, p, *_ in _IPV6_ROWS],
                            "addr string, prefix int")
    d = df.withColumn("__bin", ipv6_string_to_num(F.col("addr")))
    d = with_ipv6_canonical(d, "__bin", "canonical")
    d = with_ipv6_cidr_range(d, "addr", "prefix", "__lo", "__hi")
    d = with_ipv6_canonical(d, "__lo", "range_lo")
    d = with_ipv6_canonical(d, "__hi", "range_hi")
    d = with_ipv6_in_range(
        d, "addr", F.concat_ws("/", F.col("addr"), F.col("prefix")),
        "in_range")
    return d.select("addr", "prefix", "canonical", "range_lo",
                    "range_hi", "in_range")


# -- bit-parity hashes (functions/hashing.py) -----------------------------

def _hash_vector_rows():
    from clickhouse_clickhouse_spark.functions.hashing import (
        cityhash64_py, siphash64_py,
    )

    def sgn(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    inputs = ["", "a", "ab", "abc", "abcd", "hello world",
              "0123456789abcdef",              # 16B boundary
              "0123456789abcdefg",             # 17B
              "x" * 32, "x" * 33, "x" * 64, "x" * 65, "x" * 200,
              "ClickHouse compatibility vector éü中"]
    return [(s, sgn(siphash64_py(s.encode())), sgn(cityhash64_py(s.encode())))
            for s in inputs]


_HASH_ROWS = _hash_vector_rows()
_HASH_VALUES = ",\n  ".join(
    "(" + "'" + s.replace("'", "''") + "'" + f", CAST({sip} AS BIGINT), "
    f"CAST({city} AS BIGINT))" for s, sip, city in _HASH_ROWS)


@register("hash_parity", oracle=f"""
SELECT s, sip_hash64, city_hash64
FROM (VALUES
  {_HASH_VALUES}
) AS t(s, sip_hash64, city_hash64)
""")
def hash_parity(spark, sf):
    """sipHash64 / cityHash64 bit-parity surface (reference [U]
    src/Functions/FunctionsHashing.h): SipHash-2-4 zero-key and CityHash64
    v1.0.2 as Arrow pandas UDFs over fixed test vectors. The SipHash core
    is verified against the official vectors from the SipHash paper
    (tests/test_functions.py); the oracle here pins the distributed UDF
    path to the same bits as the local cores — determinism + plumbing,
    the strongest check possible without the reference engine present."""
    from clickhouse_clickhouse_spark.functions.hashing import (
        city_hash64, sip_hash64,
    )

    df = local_frame(spark, [(s,) for s, *_ in _HASH_ROWS], "s string")
    return df.select("s", sip_hash64(F.col("s")).alias("sip_hash64"),
                     city_hash64(F.col("s")).alias("city_hash64"))


@register("ch_dialect_demo2", oracle="""
SELECT p_partkey,
       cast(gcd(p_partkey, 36) AS BIGINT) AS g,
       cast(lcm(p_partkey % 7 + 1, 6) AS BIGINT) AS l,
       cast(bit_count(xor(p_partkey, p_partkey // 3)) AS INT) AS hamming,
       cast(CASE WHEN p_partkey <= 0 THEN 0
                 ELSE power(2, floor(log2(p_partkey)))::BIGINT END AS BIGINT)
           AS exp2_floor,
       cast(CASE WHEN p_partkey % 50000 >= 36000 THEN 36000
                 WHEN p_partkey % 50000 >= 18000 THEN 18000
                 WHEN p_partkey % 50000 >= 7200 THEN 7200
                 WHEN p_partkey % 50000 >= 3600 THEN 3600
                 WHEN p_partkey % 50000 >= 1800 THEN 1800
                 WHEN p_partkey % 50000 >= 1200 THEN 1200
                 WHEN p_partkey % 50000 >= 600 THEN 600
                 WHEN p_partkey % 50000 >= 300 THEN 300
                 WHEN p_partkey % 50000 >= 240 THEN 240
                 WHEN p_partkey % 50000 >= 180 THEN 180
                 WHEN p_partkey % 50000 >= 120 THEN 120
                 WHEN p_partkey % 50000 >= 60 THEN 60
                 WHEN p_partkey % 50000 >= 30 THEN 30
                 WHEN p_partkey % 50000 >= 10 THEN 10
                 WHEN p_partkey % 50000 >= 1 THEN 1
                 ELSE 0 END AS BIGINT) AS dur,
       cast(CASE WHEN p_partkey % 90 < 1 THEN 0
                 WHEN p_partkey % 90 <= 17 THEN 17
                 WHEN p_partkey % 90 <= 24 THEN 18
                 WHEN p_partkey % 90 <= 34 THEN 25
                 WHEN p_partkey % 90 <= 44 THEN 35
                 WHEN p_partkey % 90 <= 54 THEN 45
                 ELSE 55 END AS BIGINT) AS age_bucket,
       CAST(('0x' || substr(md5(p_name), 1, 16)) AS UBIGINT)::VARCHAR
           AS half_md5,
       round(jaro_winkler_similarity(p_name, p_brand), 6) AS jw
FROM part WHERE p_partkey < 300
""")
def ch_dialect_demo2(spark, sf):
    """Round-2 long-tail dialect surface: gcd/lcm (numpy ufunc Arrow
    batches), bitHammingDistance, roundToExp2/roundDuration/roundAge,
    halfMD5 (JVM-side bit-parity), jaroWinklerSimilarity (public
    algorithm, matches DuckDB's definition)."""
    from clickhouse_clickhouse_spark import ch_functions as ch
    from clickhouse_clickhouse_spark.functions.hashing import jaro_winkler

    p = load_table(spark, sf, "part").filter(F.col("p_partkey") < 300)
    return p.select(
        "p_partkey",
        ch.gcd("p_partkey", F.lit(36)).alias("g"),
        ch.lcm(F.col("p_partkey") % 7 + 1, F.lit(6)).alias("l"),
        ch.bitHammingDistance(
            "p_partkey",
            F.call_function("div", F.col("p_partkey"), F.lit(3)))
        .alias("hamming"),
        ch.roundToExp2("p_partkey").cast("long").alias("exp2_floor"),
        ch.roundDuration(F.col("p_partkey") % 50000).cast("long").alias("dur"),
        ch.roundAge(F.col("p_partkey") % 90).cast("long").alias("age_bucket"),
        ch.halfMD5("p_name").alias("half_md5"),
        F.round(jaro_winkler(F.col("p_name"), F.col("p_brand")), 6)
        .alias("jw"))


@register("ch_dialect_demo3", oracle="""
SELECT p_partkey,
       to_json(list_reverse(list_transform(
         generate_series(1, cast(p_partkey % 4 AS INT) + 1),
         x -> cast(x - 1 AS BIGINT)))) AS rev,
       to_json(list_transform(generate_series(1, cast(p_partkey % 4 AS INT)),
                              x -> cast(x - 1 AS BIGINT))) AS popped,
       to_json([cast(1 AS INT), cast(2 AS INT), cast(1 AS INT)]) AS dense_demo,
       to_json([1, 2, 1]) AS uniq_demo,
       to_json(CASE WHEN p_partkey % 2 = 0 THEN [1, 3, 1] ELSE [1, 3] END)
         AS compact,
       strftime(last_day(DATE '1995-01-01' + cast(p_partkey % 365 AS INT)),
                '%Y-%m-%d') AS last_dom_probe,
       strftime(last_day(DATE '1995-01-01' + cast(p_partkey % 365 AS INT)),
                '%Y-%m-%d') AS last_dom,
       monthname(DATE '1995-01-01' + cast(p_partkey % 365 AS INT)) AS mname,
       dayname(DATE '1995-01-01' + cast(p_partkey % 365 AS INT)) AS dname,
       CASE WHEN (p_partkey * 1000.0) >= 1e9
              THEN cast(floor(p_partkey * 1000.0 / 1e9 * 100) / 100 AS VARCHAR) || ' GB'
            WHEN (p_partkey * 1000.0) >= 1e6
              THEN cast(floor(p_partkey * 1000.0 / 1e6 * 100) / 100 AS VARCHAR) || ' MB'
            WHEN (p_partkey * 1000.0) >= 1e3
              THEN cast(floor(p_partkey * 1000.0 / 1e3 * 100) / 100 AS VARCHAR) || ' KB'
            ELSE cast(cast(p_partkey * 1000.0 AS BIGINT) AS VARCHAR) || ' B'
       END AS readable,
       cast((len(p_name) - len(replace(p_name, 'a', ''))) / 1 AS INT)
         AS n_a,
       cast(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowel,
       NOT (isnan(CASE WHEN p_partkey % 2 = 0
                       THEN cast('Infinity' AS DOUBLE) ELSE 1.0 END)
            OR abs(CASE WHEN p_partkey % 2 = 0
                        THEN cast('Infinity' AS DOUBLE) ELSE 1.0 END)
               = cast('Infinity' AS DOUBLE)) AS finite,
       CASE WHEN p_partkey % 2 = 0 THEN -1.0 ELSE 1.0 END AS fallback,
       (((p_partkey >> 0) & 1) = 1 OR ((p_partkey >> 1) & 1) = 1)
         AS bit_any,
       (((p_partkey >> 0) & 1) = 1 AND ((p_partkey >> 2) & 1) = 1)
         AS bit_all
FROM part
""")
def ch_dialect_demo3(spark, sf):
    """Round-2c dialect batch through real expressions: array editing
    (reverse/pop/resize/compact/enumerate), date names and last-day,
    1000-based readable sizes, substring/regex counting, finiteness
    predicates, multi-position bit tests. The dense/uniq enumerations
    are pinned on a constant array so the oracle row is
    value-transparent. Array outputs emitted as JSON strings (shapes.py
    driver-gate note)."""
    from clickhouse_clickhouse_spark import ch_functions as ch
    from clickhouse_clickhouse_spark.shapes import json_arrays

    p = load_table(spark, sf, "part")
    k = F.col("p_partkey")
    d = F.date_add(F.lit("1995-01-01").cast("date"), (k % 365).cast("int"))
    inf_or_1 = F.when(k % 2 == 0, F.lit(float("inf"))).otherwise(F.lit(1.0))
    out = p.select(
        "p_partkey",
        ch.arrayReverse(ch.range_((k % 4) + 1)).alias("rev"),
        ch.arrayPopBack(ch.range_((k % 4) + 1)).alias("popped"),
        ch.arrayEnumerateDense(F.array(F.lit(10), F.lit(20), F.lit(10)))
          .alias("dense_demo"),
        ch.arrayEnumerateUniq(F.array(F.lit(7), F.lit(7), F.lit(9)))
          .alias("uniq_demo"),
        ch.arrayCompact(F.when(k % 2 == 0,
                               F.array(F.lit(1), F.lit(1), F.lit(3),
                                       F.lit(3), F.lit(1)))
                        .otherwise(F.array(F.lit(1), F.lit(1), F.lit(1),
                                           F.lit(3), F.lit(3))))
          .alias("compact"),
        ch.toLastDayOfMonth(d).cast("string").alias("last_dom_probe"),
        ch.toLastDayOfMonth(d).cast("string").alias("last_dom"),
        ch.monthName(d).alias("mname"),
        ch.dateName("weekday", d).alias("dname"),
        ch.formatReadableDecimalSize(k * 1000.0).alias("readable"),
        ch.countSubstrings(F.col("p_name"), "a").alias("n_a"),
        ch.countMatches(F.col("p_name"), "[aeiou]").alias("n_vowel"),
        ch.isFinite(inf_or_1).alias("finite"),
        ch.ifNotFinite(F.when(k % 2 == 0, F.lit(float("inf")))
                       .otherwise(F.lit(1.0)), F.lit(-1.0)).alias("fallback"),
        ch.bitTestAny(k, 0, 1).alias("bit_any"),
        ch.bitTestAll(k, 0, 2).alias("bit_all"))
    return json_arrays(out, "rev", "popped", "dense_demo", "uniq_demo",
                       "compact")


@register("ch_dialect_demo4", oracle="""
SELECT n_nationkey,
       array_to_string(string_split(n_name, '_'), '-') AS joined,
       to_json(list_reverse(list_transform(
           generate_series(1, cast(n_nationkey % 3 AS INT) + 1),
           x -> cast(x - 1 AS BIGINT)))) AS rev,
       strftime(TIMESTAMP '1995-06-15 10:00:00' + INTERVAL 5 HOUR,
                '%Y-%m-%d %H:%M:%S') AS t5,
       monthname(DATE '1995-06-15') AS mn,
       trim('  pad  ') AS tb,
       'Hello World' AS ic,
       cast(len(regexp_extract_all(n_name, '[AEIOU]')) AS INT) AS vowels,
       true AS fin
FROM nation
""")
def ch_dialect_demo4(spark, sf):
    """Round-2c names through the SQL front end (the _FUNCS mirrors,
    oracle-gated rather than pytest-only): splitByString, guarded
    range, arrayReverse, interval add, month name, trim, initcap,
    regex counting, finiteness. Array output emitted as a JSON string
    (shapes.py driver-gate note)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.shapes import json_arrays

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    return json_arrays(ch_sql(spark, """
        SELECT n_nationkey,
               arrayStringConcat(splitByString('_', n_name), '-') AS joined,
               arrayReverse(range(toInt64(n_nationkey % 3) + 1)) AS rev,
               toString(addHours(toDateTime('1995-06-15 10:00:00'), 5)) AS t5,
               monthName(toDate('1995-06-15')) AS mn,
               trimBoth('  pad  ') AS tb,
               initcap('hello world') AS ic,
               countMatches(n_name, '[AEIOU]') AS vowels,
               isFinite(1.0) AS fin
        FROM nation"""), "rev")


@register("format_readable_time_delta", oracle="""
WITH src AS (
  SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) % 200000 AS s
  FROM orders WHERE o_orderkey < 200),
u AS (
  SELECT o_orderkey, s,
         list_filter([
           CASE WHEN s // 86400 > 0 THEN s // 86400 || ' day' ||
                CASE WHEN s // 86400 > 1 THEN 's' ELSE '' END END,
           CASE WHEN (s % 86400) // 3600 > 0 THEN (s % 86400) // 3600
                || ' hour' ||
                CASE WHEN (s % 86400) // 3600 > 1 THEN 's' ELSE '' END END,
           CASE WHEN (s % 3600) // 60 > 0 THEN (s % 3600) // 60
                || ' minute' ||
                CASE WHEN (s % 3600) // 60 > 1 THEN 's' ELSE '' END END,
           CASE WHEN s % 60 > 0 THEN s % 60 || ' second' ||
                CASE WHEN s % 60 > 1 THEN 's' ELSE '' END END],
           x -> x IS NOT NULL) AS p
  FROM src)
SELECT o_orderkey,
       CASE WHEN len(p) = 0 THEN '0 seconds'
            WHEN len(p) = 1 THEN p[1]
            ELSE array_to_string(p[1:len(p)-1], ', ') || ' and ' || p[-1]
       END AS readable
FROM u
""")
def format_readable_time_delta(spark, sf):
    """formatReadableTimeDelta (reference formatReadable.cpp family):
    seconds → '1 day, 2 hours and 5 seconds' — when-chain + array_join,
    pure expressions."""
    from clickhouse_clickhouse_spark import ch_functions as ch

    o = (load_table(spark, sf, "orders")
         .filter(F.col("o_orderkey") < 200)
         .select("o_orderkey",
                 (F.floor("o_totalprice").cast("long") % 200000).alias("s")))
    return o.select("o_orderkey",
                    ch.formatReadableTimeDelta(F.col("s")).alias("readable"))


@register("ch_dialect_demo5", oracle=r"""
SELECT n_nationkey AS k,
       to_json(string_split_regex(n_name, '\W+')) AS toks,
       to_json([substr(n_name, i, 3)
        for i in generate_series(1, len(n_name) - 2)]) AS ng,
       (contains(n_name, 'ION_1') OR contains(n_name, 'ZZZ')) AS has_any,
       translate(n_name, 'N_', 'n-') AS tr,
       CAST((len(n_name) - len(replace(n_name, 'N', ''))) AS BIGINT)
           AS n_count,
       round(CAST(len(list_intersect(string_split(n_name, '_'),
                                     ['NATION', 'X'])) AS DOUBLE)
             / len(list_distinct(list_concat(
                   string_split(n_name, '_'), ['NATION', 'X']))), 6)
           AS jac,
       regexp_replace(regexp_replace('k = ' || n_nationkey,
                                     '''([^''\\]|\\.)*''', '?', 'g'),
                      '\b\d+(\.\d+)?\b', '?', 'g') AS nq
FROM nation ORDER BY k
""")
def ch_dialect_demo5(spark, sf):
    """Round-5 function long tail through the dialect front end:
    splitByRegexp / ngrams / multiSearchAny / translateUTF8 /
    countSubstrings / arrayJaccardIndex / normalizeQuery — each rewritten
    by the paren-matching scanner into built-in Spark expressions
    (upstream src/Functions/: FunctionsStringArray.cpp, ngrams.cpp,
    MultiSearchAnyImpl, translate.cpp, countSubstrings.cpp,
    arrayJaccardIndex.cpp, normalizeQuery.cpp). Array outputs emitted
    as JSON strings (shapes.py driver-gate note)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.shapes import json_arrays

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    return json_arrays(ch_sql(spark, """
        SELECT n_nationkey AS k,
               tokens(n_name) AS toks,
               ngrams(n_name, 3) AS ng,
               multiSearchAny(n_name, array('ION_1', 'ZZZ')) AS has_any,
               translateUTF8(n_name, 'N_', 'n-') AS tr,
               countSubstrings(n_name, 'N') AS n_count,
               round(arrayJaccardIndex(splitByChar('_', n_name),
                                       array('NATION', 'X')), 6) AS jac,
               normalizeQuery(concat('k = ', toString(n_nationkey))) AS nq
        FROM nation ORDER BY k"""), "toks", "ng")


@register("ch_dialect_demo6", oracle="""
SELECT o_orderkey AS k,
       CAST(CASE WHEN o_totalprice < 0 THEN 0
                 WHEN o_totalprice >= 600000 THEN 11
                 ELSE 1 + floor(o_totalprice / 60000) END AS BIGINT) AS wb,
       concat_ws('-', o_orderstatus, o_orderpriority) AS cws,
       array_to_string(list_transform(
           string_split(lower(o_orderstatus || ' ' || o_orderpriority), ' '),
           w -> upper(w[1]) || w[2:]), ' ') AS ic,
       epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS ms,
       CAST(date_diff('day', DATE '0001-01-01', o_orderdate) + 366
            AS BIGINT) AS d0,
       to_json([CAST(strpos(o_orderpriority, 'E') AS BIGINT),
                CAST(strpos(o_orderpriority, 'URGENT') AS BIGINT)]) AS msap,
       replace(replace(replace(replace(replace(substr(o_orderpriority, 1, 20),
           '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
           '"', '&quot;'), '''', '&apos;') AS xml,
       regexp_matches('10.0.0.' || CAST(o_orderkey % 300 AS VARCHAR),
           '^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$')
           AS ip4
FROM orders WHERE o_orderkey < 200 ORDER BY k
""")
def ch_dialect_demo6(spark, sf):
    """Round-5 late function batch through the dialect front end:
    widthBucket / concatWithSeparator / initcapUTF8 /
    toUnixTimestamp64Milli / toDaysSinceYearZero /
    multiSearchAllPositions / encodeXMLComponent / isIPv4String — each
    rewritten by the paren-matching scanner into built-in Spark
    expressions (upstream src/Functions/: widthBucket.cpp, concat.cpp,
    initcap.cpp, FunctionsConversion, toDaysSinceYearZero.cpp,
    MultiSearchAllPositionsImpl, XMLEncode, isIPv4String). Array output
    emitted as a JSON string (shapes.py driver-gate note)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.shapes import json_arrays

    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    return json_arrays(ch_sql(spark, """
        SELECT o_orderkey AS k,
               widthBucket(o_totalprice, 0, 600000, 10) AS wb,
               concatWithSeparator('-', o_orderstatus, o_orderpriority) AS cws,
               initcapUTF8(lower(concat(o_orderstatus, ' ',
                                        o_orderpriority))) AS ic,
               toUnixTimestamp64Milli(toDateTime(o_orderdate)) AS ms,
               toDaysSinceYearZero(o_orderdate) AS d0,
               multiSearchAllPositions(o_orderpriority,
                                       ['E', 'URGENT']) AS msap,
               encodeXMLComponent(substring(o_orderpriority, 1, 20)) AS xml,
               isIPv4String(concat('10.0.0.',
                                   toString(o_orderkey % 300))) AS ip4
        FROM orders WHERE o_orderkey < 200 ORDER BY k
    """), "msap")


@register("projection_routed_agg", oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 6) AS sv,
       min(value) AS mn,
       max(value) AS mx
FROM events GROUP BY event_type
""")
def projection_routed_agg(spark, sf):
    """Aggregate-projection routing end-to-end (upstream
    ProjectionsDescription.cpp + optimizeUseAggregateProjection.cpp):
    ADD PROJECTION keyed (event_type, user_id) materializes partial
    states; the coarser GROUP BY event_type query answers from the
    projection (merge of partials — verified identical to the base scan
    by the oracle). Rounding on both sides absorbs partial-merge
    summation order."""
    import uuid

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    view = f"events_proj_{uuid.uuid4().hex[:8]}"
    load_table(spark, sf, "events").createOrReplaceTempView(view)
    ch_statement(spark, f"""
        ALTER TABLE {view} ADD PROJECTION p_rt
        (SELECT event_type, user_id, count() AS n, sum(value) AS sv,
                min(value) AS mn, max(value) AS mx
         GROUP BY event_type, user_id)""")
    routed = ch_sql(spark, f"""
        SELECT event_type, count() AS n, sum(value) AS sv,
               min(value) AS mn, max(value) AS mx
        FROM {view} GROUP BY event_type""")
    assert any("ch_proj" in f for f in routed.inputFiles()), \
        "projection did not route"
    ch_statement(spark, f"ALTER TABLE {view} DROP PROJECTION p_rt")
    return routed.select("event_type", "n", F.round("sv", 6).alias("sv"),
                         "mn", "mx")


@register("projection_routed_having", oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 6) AS sv
FROM events GROUP BY event_type HAVING count(*) > 1000
""")
def projection_routed_having(spark, sf):
    """Projection routing WITH a HAVING clause over routed aggregates
    (round-5 advice item 3): the filter applies to the merged partials
    post-aggregation — identical rows to the base plan, hash-verified."""
    import uuid

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    view = f"events_projh_{uuid.uuid4().hex[:8]}"
    load_table(spark, sf, "events").createOrReplaceTempView(view)
    ch_statement(spark, f"""
        ALTER TABLE {view} ADD PROJECTION p_hv
        (SELECT event_type, user_id, count() AS n, sum(value) AS sv
         GROUP BY event_type, user_id)""")
    routed = ch_sql(spark, f"""
        SELECT event_type, count() AS n, sum(value) AS sv
        FROM {view} GROUP BY event_type HAVING n > 1000""")
    assert any("ch_proj" in f for f in routed.inputFiles()), \
        "projection did not route with HAVING"
    ch_statement(spark, f"ALTER TABLE {view} DROP PROJECTION p_hv")
    return routed.select("event_type", "n", F.round("sv", 6).alias("sv"))


@register("projection_routed_uniq", oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS exact_uu,
       TRUE AS uu_ok, TRUE AS p90_ok
FROM events GROUP BY event_type
""")
def projection_routed_uniq(spark, sf):
    """Sketch-measure projection routing (round-5 advice item 3): uniq
    routes through HLL partial states (hll_sketch_agg per part,
    hll_union_agg + estimate at read), quantile through a KLL sketch
    with the query's p applied at READ time (the projection stored
    quantile(0.5); the query asks 0.9). Sketch outputs can't hash-match
    an oracle, so the hash-checked surface is the routed estimates'
    accuracy invariants vs exact values computed off the base table:
    HLL within 5% relative (measured max 0.4%), KLL p90 within 5% of the
    value range (measured max 1.5%). The inputFiles assertion still pins
    that the sketch projection actually served the read."""
    import uuid

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    view = f"events_projU_{uuid.uuid4().hex[:8]}"
    ev = load_table(spark, sf, "events")
    ev.createOrReplaceTempView(view)
    ch_statement(spark, f"""
        ALTER TABLE {view} ADD PROJECTION p_u
        (SELECT event_type, user_id, uniq(user_id) AS uu,
                quantile(0.5)(value) AS qv
         GROUP BY event_type, user_id)""")
    routed = ch_sql(spark, f"""
        SELECT event_type, uniq(user_id) AS uu,
               quantile(0.9)(value) AS p90
        FROM {view} GROUP BY event_type""")
    assert any("ch_proj" in f for f in routed.inputFiles()), \
        "sketch measures did not route"
    ch_statement(spark, f"ALTER TABLE {view} DROP PROJECTION p_u")
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_uu"),
                  F.percentile("value", F.lit(0.9)).alias("e90"),
                  (F.max("value") - F.min("value")).alias("rng")))
    return (routed.join(exact, "event_type")
            .select("event_type", "exact_uu",
                    (F.abs(F.col("uu") - F.col("exact_uu"))
                     / F.col("exact_uu") <= 0.05).alias("uu_ok"),
                    (F.abs(F.col("p90") - F.col("e90"))
                     <= 0.05 * F.col("rng") + 1e-9).alias("p90_ok")))


@register("ch_dialect_demo7", oracle="""
SELECT n_nationkey AS k,
       CAST(make_date(2020 + (n_nationkey % 5)::INT,
                      1 + (n_nationkey % 12)::INT,
                      1 + (n_nationkey % 28)::INT) AS TIMESTAMP) AS md,
       CAST(strftime(make_timestamp(2024, 1, 2, 3, 4,
                                    (n_nationkey % 60)::DOUBLE),
                     '%Y%m%d%H%M%S') AS BIGINT) AS t14,
       CAST(make_date(((20200101 + n_nationkey * 10000) // 10000)::INT,
                      (((20200101 + n_nationkey * 10000) // 100) % 100)::INT,
                      ((20200101 + n_nationkey * 10000) % 100)::INT)
            AS TIMESTAMP) AS ymd,
       CAST(len(n_name) AS BIGINT) AS lb,
       n_name[-3:] AS r3,
       CAST(strpos(n_name, 'AN') AS BIGINT) AS loc,
       NOT (n_name LIKE 'A%') AS nl,
       CASE WHEN n_name LIKE '%A' THEN n_name ELSE n_name || 'A' END AS atc,
       CAST(len(list_filter([n_regionkey, 2, 2], x -> x = 2))
            AS INT) AS ce2,
       list_filter([n_regionkey, n_regionkey + 2, 9],
                   x -> x > 1)[1] AS af
FROM nation ORDER BY k
""")
def ch_dialect_demo7(spark, sf):
    """Round-5 batch-3 names through the dialect front end: makeDate /
    makeDateTime / toYYYYMMDDhhmmss / YYYYMMDDToDate / lengthBytes /
    rightUTF8 / locate (MySQL arg order) / notLike /
    appendTrailingCharIfAbsent / alphaTokens / arrayFirst."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    return ch_sql(spark, """
        SELECT n_nationkey AS k,
               toDateTime(makeDate(2020 + n_nationkey % 5,
                                   1 + n_nationkey % 12,
                                   1 + n_nationkey % 28)) AS md,
               toYYYYMMDDhhmmss(makeDateTime(2024, 1, 2, 3, 4,
                                             n_nationkey % 60)) AS t14,
               toDateTime(YYYYMMDDToDate(20200101 + n_nationkey * 10000))
                   AS ymd,
               lengthBytes(n_name) AS lb,
               rightUTF8(n_name, 3) AS r3,
               locate('AN', n_name) AS loc,
               notLike(n_name, 'A%') AS nl,
               appendTrailingCharIfAbsent(n_name, 'A') AS atc,
               toInt32(countEqual([n_regionkey, 2, 2], 2)) AS ce2,
               arrayFirst(x -> x > 1,
                          [n_regionkey, n_regionkey + 2, 9]) AS af
        FROM nation ORDER BY k
    """)


@register("matview_insert_trigger", oracle="""
WITH b1 AS (
  SELECT n_regionkey AS k, CAST(sum(n_nationkey) AS BIGINT) AS s
  FROM nation WHERE n_nationkey < 10 GROUP BY n_regionkey),
b2 AS (
  SELECT n_regionkey AS k, CAST(sum(n_nationkey) AS BIGINT) AS s
  FROM nation WHERE n_nationkey >= 10 GROUP BY n_regionkey)
SELECT * FROM b1 UNION ALL SELECT * FROM b2
""")
def matview_insert_trigger(spark, sf):
    """Batch materialized view (upstream StorageMaterializedView): the
    INSERT trigger transforms each inserted BLOCK independently — two
    inserts yield two partial aggregates per key, exactly the reference's
    per-block MV output (query-time reaggregation merges them). Oracle
    reproduces the two blocks explicitly."""
    import uuid

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    sfx = uuid.uuid4().hex[:8]
    src, tgt, mv = f"mvq_src_{sfx}", f"mvq_tgt_{sfx}", f"mvq_mv_{sfx}"
    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    ch_statement(spark, f"CREATE TABLE {src} (n_nationkey Int64, "
                        f"n_regionkey Int64) ENGINE = Memory")
    ch_statement(spark, f"CREATE MATERIALIZED VIEW {mv} TO {tgt} AS "
                        f"SELECT n_regionkey AS k, "
                        f"toInt64(sum(n_nationkey)) AS s "
                        f"FROM {src} GROUP BY n_regionkey")
    ch_statement(spark, f"INSERT INTO {src} SELECT n_nationkey, "
                        f"n_regionkey FROM nation WHERE n_nationkey < 10")
    ch_statement(spark, f"INSERT INTO {src} SELECT n_nationkey, "
                        f"n_regionkey FROM nation WHERE n_nationkey >= 10")
    out = ch_sql(spark, f"SELECT k, s FROM {tgt}")
    ch_statement(spark, f"DROP VIEW {mv}")
    return out


@register("matview_refreshable", oracle="""
SELECT n_regionkey AS k, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_nationkey) AS BIGINT) AS s
FROM nation GROUP BY n_regionkey
""")
def matview_refreshable(spark, sf):
    """Refreshable materialized view (round-6; upstream 23.12
    RefreshTask): full-query re-run + parquet snapshot swap, NOT an
    insert trigger. The query creates the MV over a PARTIAL source,
    inserts the rest (snapshot stays stale — verified), then SYSTEM
    REFRESH VIEW picks up everything; the oracle is the full-source
    rollup."""
    import uuid

    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    sfx = uuid.uuid4().hex[:8]
    src, mv = f"rmvq_src_{sfx}", f"rmvq_mv_{sfx}"
    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    ch_statement(spark, f"CREATE TABLE {src} (n_nationkey Int64, "
                        f"n_regionkey Int64) ENGINE = Memory")
    ch_statement(spark, f"INSERT INTO {src} SELECT n_nationkey, "
                        f"n_regionkey FROM nation WHERE n_nationkey < 10")
    ch_statement(spark, f"""
        CREATE MATERIALIZED VIEW {mv} REFRESH EVERY 1 HOUR AS
        SELECT n_regionkey AS k, toInt64(count()) AS n,
               toInt64(sum(n_nationkey)) AS s
        FROM {src} GROUP BY n_regionkey""")
    ch_statement(spark, f"INSERT INTO {src} SELECT n_nationkey, "
                        f"n_regionkey FROM nation WHERE n_nationkey >= 10")
    stale = ch_sql(spark, f"SELECT toInt64(sum(n)) AS t FROM {mv}") \
        .collect()[0].t
    assert stale == 10, "snapshot must not see post-create inserts"
    ch_statement(spark, f"SYSTEM REFRESH VIEW {mv}")
    out = ch_sql(spark, f"SELECT k, n, s FROM {mv}")
    ch_statement(spark, f"DROP TABLE {mv}")
    ch_statement(spark, f"DROP TABLE {src}")
    return out


@register("ch_dialect_demo8", oracle="""
SELECT n_nationkey AS k,
       strftime(make_timestamp(2024, 3, 5, 6, 7,
                               (n_nationkey % 60)::DOUBLE),
                '%Y/%m/%d %H:%M:%S') AS f,
       strptime('2024-03-' || lpad(CAST(1 + n_nationkey % 28 AS VARCHAR),
                                   2, '0'), '%Y-%m-%d') AS p,
       array_to_string(list_slice(string_split(n_name, 'A'), 1, 2), 'A')
           AS si,
       CAST(CASE WHEN n_nationkey % 3 = 0 THEN 0
            ELSE 17 % (n_nationkey % 3) END AS BIGINT) AS mz,
       CAST(CASE WHEN n_nationkey % 3 = 0 THEN 0
            ELSE 17 // (n_nationkey % 3) END AS BIGINT) AS dz,
       CAST(greatest(n_nationkey, 12) AS BIGINT) AS mx,
       CAST(least(n_nationkey, 12) AS BIGINT) AS mn,
       round(power(2, n_nationkey % 8), 4) AS e2,
       CAST(~n_nationkey AS BIGINT) AS bn,
       make_timestamp(((CAST(n_nationkey AS BIGINT) * 4194304
                        + 1426981144257900544 >> 22)
                       + 1288834974657) * 1000) AS sf,
       CAST(DATE '2024-01-30' + ((n_nationkey % 5) || ' days')::INTERVAL
            AS TIMESTAMP) AS da
FROM nation
""")
def ch_dialect_demo8(spark, sf):
    """Round-6 dialect long-tail batch through ch_sql: formatDateTime /
    parseDateTime (%-code translation at translate time),
    substringIndex, moduloOrZero/intDivOrZero, max2/min2, exp2, bitNot,
    snowflakeToDateTime, dateAdd — every name oracle-exercised."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    return ch_sql(spark, """
        SELECT n_nationkey AS k,
               formatDateTime(makeDateTime(2024, 3, 5, 6, 7,
                                           n_nationkey % 60),
                              '%Y/%m/%d %H:%M:%S') AS f,
               parseDateTime(concat('2024-03-',
                                    leftPad(toString(1 + n_nationkey % 28),
                                            2, '0')), '%Y-%m-%d') AS p,
               substringIndex(n_name, 'A', 2) AS si,
               toInt64(moduloOrZero(17, n_nationkey % 3)) AS mz,
               toInt64(intDivOrZero(17, n_nationkey % 3)) AS dz,
               toInt64(max2(n_nationkey, 12)) AS mx,
               toInt64(min2(n_nationkey, 12)) AS mn,
               round(exp2(n_nationkey % 8), 4) AS e2,
               toInt64(bitNot(n_nationkey)) AS bn,
               snowflakeToDateTime(toInt64(n_nationkey) * 4194304
                                   + 1426981144257900544) AS sf,
               dateAdd(DAY, n_nationkey % 5, toDate('2024-01-30')) AS da
        FROM nation""")


@register("ch_sql_dictionary", oracle="""
SELECT CAST(n.n_nationkey AS BIGINT) AS k,
       r.r_name AS rname,
       coalesce(r.r_name, 'none') AS rname2,
       (r.r_name IS NOT NULL) AS h
FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
""")
def ch_sql_dictionary(spark, sf):
    """Round-7: CREATE DICTIONARY DDL + dictGet/dictGetOrDefault/
    dictHas in dialect SQL ([U] src/Dictionaries/,
    FunctionsExternalDictionaries.h): the dictionary registers against
    its source TABLE and dictGet translates to a correlated scalar
    subquery — Catalyst plans it as a broadcast left join (the RAM-
    dictionary analog; network sources refuse loudly). Oracle = the
    equivalent LEFT JOIN."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf, "region").createOrReplaceTempView("region")
    ch_statement(spark, """
        CREATE DICTIONARY IF NOT EXISTS q_region_dict
        (r_regionkey UInt64, r_name String)
        PRIMARY KEY r_regionkey
        SOURCE(CLICKHOUSE(TABLE 'region'))
        LAYOUT(HASHED()) LIFETIME(MIN 0 MAX 300)""")
    out = ch_sql(spark, """
        SELECT toInt64(n_nationkey) AS k,
               dictGet('q_region_dict', 'r_name', n_regionkey) AS rname,
               dictGetOrDefault('q_region_dict', 'r_name',
                                n_regionkey, 'none') AS rname2,
               dictHas('q_region_dict', n_regionkey) AS h
        FROM nation""")
    return out


@register("ch_sql_dict_range", oracle="""
WITH tiers AS (
  SELECT r_regionkey AS pid, CAST(r_regionkey * 5 AS BIGINT) AS lo,
         CAST(r_regionkey * 5 + 4 AS BIGINT) AS hi,
         r_name AS tier
  FROM region)
SELECT CAST(n.n_nationkey AS BIGINT) AS k,
       t.tier AS tier,
       coalesce(t.tier, 'none') AS tier_d,
       (t.tier IS NOT NULL) AS h
FROM nation n
LEFT JOIN tiers t
  ON n.n_regionkey = t.pid
 AND t.lo <= n.n_nationkey AND t.hi >= n.n_nationkey
""")
def ch_sql_dict_range(spark, sf):
    """Round-8: LAYOUT(RANGE_HASHED()) dictionaries ([U]
    src/Dictionaries/RangeHashedDictionary.h) — dictGet takes a range
    point and matches rmin <= point <= rmax (overlaps resolve to the
    latest interval start via MAX_BY, a deterministic refinement of
    upstream's unspecified pick). The correlated scalar AGGREGATE
    decorrelates to a join; the inner projection renames every
    dictionary column so outer expressions can never be shadowed
    (round-8 fix). Oracle = the equivalent range LEFT JOIN (intervals
    are non-overlapping per key here, so MAX_BY equals the unique
    match)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf, "region").createOrReplaceTempView("region")
    ch_sql(spark, """
        SELECT r_regionkey AS pid,
               toInt64(r_regionkey * 5) AS lo,
               toInt64(r_regionkey * 5 + 4) AS hi,
               r_name AS tier
        FROM region""").createOrReplaceTempView("q_rng_src")
    ch_statement(spark, """
        CREATE DICTIONARY IF NOT EXISTS q_rng_dict
        (pid UInt64, lo Int64, hi Int64, tier String)
        PRIMARY KEY pid
        SOURCE(CLICKHOUSE(TABLE 'q_rng_src'))
        LAYOUT(RANGE_HASHED()) RANGE(MIN lo MAX hi)""")
    return ch_sql(spark, """
        SELECT toInt64(n_nationkey) AS k,
               dictGet('q_rng_dict', 'tier', n_regionkey,
                       n_nationkey) AS tier,
               dictGetOrDefault('q_rng_dict', 'tier', n_regionkey,
                                n_nationkey, 'none') AS tier_d,
               dictHas('q_rng_dict', n_regionkey, n_nationkey) AS h
        FROM nation""")


@register("ch_sql_dict_hierarchy", oracle="""
WITH nodes AS (
  SELECT CAST(n_nationkey AS BIGINT) AS id,
         CAST(n_regionkey + 100 AS BIGINT) AS parent
  FROM nation)
SELECT n.id AS k,
       to_json([n.id, n.parent]) AS path,
       (n.parent = 102) AS in_r2,
       true AS in_self
FROM nodes n
""")
def ch_sql_dict_hierarchy(spark, sf):
    """Round-8: dictGetHierarchy/dictIsIn as dialect SQL over a
    HIERARCHICAL dictionary attribute: nation -> region (+100 offset)
    -> root sentinel 0. The closure view builds via bounded broadcast
    self-joins (no driver collect); the path keeps the dangling root
    parent id, matching operators/dictionary.HierarchicalDictionary.
    Oracle spells the two-level chain explicitly. Array output emitted
    as a JSON string (shapes.py driver-gate note)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement
    from clickhouse_clickhouse_spark.shapes import json_arrays

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf, "region").createOrReplaceTempView("region")
    ch_sql(spark, """
        SELECT toInt64(r_regionkey + 100) AS id,
               CAST(NULL AS BIGINT) AS parent
        FROM region
        UNION ALL
        SELECT toInt64(n_nationkey), toInt64(n_regionkey + 100)
        FROM nation""").createOrReplaceTempView("q_hier_src")
    ch_statement(spark, """
        CREATE DICTIONARY IF NOT EXISTS q_hier_dict
        (id UInt64, parent UInt64 HIERARCHICAL)
        PRIMARY KEY id
        SOURCE(CLICKHOUSE(TABLE 'q_hier_src'))
        LAYOUT(HASHED())""")
    return json_arrays(ch_sql(spark, """
        SELECT toInt64(n_nationkey) AS k,
               dictGetHierarchy('q_hier_dict', toInt64(n_nationkey))
                 AS path,
               dictIsIn('q_hier_dict', toInt64(n_nationkey),
                        toInt64(102)) AS in_r2,
               dictIsIn('q_hier_dict', toInt64(n_nationkey),
                        toInt64(n_nationkey)) AS in_self
        FROM nation"""), "path")


@register("ch_sql_scalar_tail_r9", oracle="""
SELECT event_id,
       CAST(ts - INTERVAL 2 MONTH AS TIMESTAMP) AS sub2m,
       time_bucket(INTERVAL '30 minutes', ts) AS slot,
       CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
            AS INT) AS rel_day,
       CAST(bit_count(event_id) AS INT) AS bc,
       CAST((event_id >> 2) & 1 AS INT) AS bt,
       CASE WHEN NOT (event_id >= 1) THEN 0
            ELSE CAST(pow(2, floor(log2(CAST(event_id AS DOUBLE))))
                      AS BIGINT) END AS exp2,
       CASE WHEN NOT (value * 100 >= 1) THEN 0
            WHEN value * 100 < 10 THEN 1 WHEN value * 100 < 30 THEN 10
            WHEN value * 100 < 60 THEN 30 WHEN value * 100 < 120 THEN 60
            WHEN value * 100 < 180 THEN 120 WHEN value * 100 < 240 THEN 180
            WHEN value * 100 < 300 THEN 240 WHEN value * 100 < 600 THEN 300
            WHEN value * 100 < 1200 THEN 600 WHEN value * 100 < 1800 THEN 1200
            WHEN value * 100 < 3600 THEN 1800 WHEN value * 100 < 7200 THEN 3600
            WHEN value * 100 < 18000 THEN 7200
            WHEN value * 100 < 36000 THEN 18000
            ELSE 36000 END AS dur,
       round(acos(least(greatest(
           sin(radians(value)) * sin(radians(value + 1))
           + cos(radians(value)) * cos(radians(value + 1))
           * cos(radians(1.5)), -1.0), 1.0)) * 6371000.0, 2) AS gcd,
       CAST(CAST(isinf(1.0 / nullif(value - value, 1)) AS BOOLEAN)
            AS VARCHAR) AS inf
FROM events WHERE event_id < 500
""")
def ch_sql_scalar_tail_r9(spark, sf):
    """Round-9 scalar tail in dialect SQL — subtract/add*, timeSlot,
    toRelative*Num, bitCount/bitTest, roundToExp2/roundDuration,
    greatCircleDistance, isInfinite — each replayed value-exactly by the
    DuckDB oracle ([U] src/Functions/{timeSlots,roundToExp2,
    roundDuration,greatCircleDistance}.cpp)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return ch_sql(spark, """
        SELECT event_id,
               subtractMonths(ts, 2) AS sub2m,
               timeSlot(ts) AS slot,
               toRelativeDayNum(ts) AS rel_day,
               CAST(bitCount(event_id) AS INT) AS bc,
               bitTest(event_id, 2) AS bt,
               roundToExp2(event_id) AS exp2,
               roundDuration(value * 100) AS dur,
               round(greatCircleDistance(value, value, 1.5 + value,
                                         value + 1), 2) AS gcd,
               toString(isInfinite(1.0 / nullif(value - value, 1)))
                   AS inf
        FROM events WHERE event_id < 500""")


@register("ch_sql_string_distance_tail", oracle="""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       cast(damerau_levenshtein(a.p_brand, b.p_brand) AS BIGINT)
           AS dam_brand,
       cast(damerau_levenshtein(a.p_type, b.p_type) AS BIGINT) AS dam_type,
       round(jaro_similarity(a.p_type, b.p_type), 8) AS jaro_type,
       round(jaro_winkler_similarity(a.p_type, b.p_type), 8) AS jw_type,
       to_base64(encode(a.p_brand)) AS b64
FROM part a JOIN part b ON a.p_partkey < b.p_partkey
WHERE a.p_partkey <= 15 AND b.p_partkey <= 15
""")
def ch_sql_string_distance_tail(spark, sf):
    """Round-9 string-distance tail in dialect SQL —
    damerauLevenshteinDistance (restricted/OSA DP as nested SQL folds),
    jaroSimilarity / jaroWinklerSimilarity (greedy in-window matching
    fold), base64Encode — each hash-matched against DuckDB's native
    damerau_levenshtein / jaro_similarity / jaro_winkler_similarity /
    to_base64 implementations, a fully independent oracle ([U]
    src/Functions/StringDistance.cpp)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "part").createOrReplaceTempView("part")
    return ch_sql(spark, """
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
               CAST(damerauLevenshteinDistance(a.p_brand, b.p_brand)
                    AS BIGINT) AS dam_brand,
               CAST(damerauLevenshteinDistance(a.p_type, b.p_type)
                    AS BIGINT) AS dam_type,
               round(jaroSimilarity(a.p_type, b.p_type), 8) AS jaro_type,
               round(jaroWinklerSimilarity(a.p_type, b.p_type), 8)
                   AS jw_type,
               base64Encode(a.p_brand) AS b64
        FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        WHERE a.p_partkey <= 15 AND b.p_partkey <= 15""")


@register("ch_sql_scalar_tail3_r9", oracle="""
SELECT p_partkey,
       cast(strpos(lower(p_name), 'red') AS BIGINT) AS pci,
       cast(length(regexp_replace(cast(p_partkey AS VARCHAR),
                                  '[^0-9]', '', 'g')) AS BIGINT) AS cd,
       cast(((p_partkey - 20) % 7 + 7) % 7 AS BIGINT) AS pm,
       cast(1 AS BIGINT) << (p_partkey % 20) AS ie2,
       format('{}-{}', p_brand, p_size) AS fmt,
       cast(p_partkey * 1000 + 5 AS BIGINT) // 16777216 % 256
         || '.' || cast(p_partkey * 1000 + 5 AS BIGINT) // 65536 % 256
         || '.' || cast(p_partkey * 1000 + 5 AS BIGINT) // 256 % 256
         || '.' || cast(p_partkey * 1000 + 5 AS BIGINT) % 256 AS i2s,
       lower(concat_ws(':',
         lpad(to_hex(cast(p_partkey * 99999 AS BIGINT) // 1099511627776 % 256), 2, '0'),
         lpad(to_hex(cast(p_partkey * 99999 AS BIGINT) // 4294967296 % 256), 2, '0'),
         lpad(to_hex(cast(p_partkey * 99999 AS BIGINT) // 16777216 % 256), 2, '0'),
         lpad(to_hex(cast(p_partkey * 99999 AS BIGINT) // 65536 % 256), 2, '0'),
         lpad(to_hex(cast(p_partkey * 99999 AS BIGINT) // 256 % 256), 2, '0'),
         lpad(to_hex(cast(p_partkey * 99999 AS BIGINT) % 256), 2, '0'))) AS mac,
       coalesce(array_to_string(list_transform(list_filter([0, 1, 2, 3, 4, 5],
         k -> (cast(p_partkey % 64 AS BIGINT) & (cast(1 AS BIGINT) << k)) != 0),
         k -> cast(cast(1 AS BIGINT) << k AS VARCHAR)), ','), '') AS bml,
       regexp_extract(p_name, '([^/ ]*)$', 1) AS bn,
       time_bucket(INTERVAL 1 HOUR,
                   TIMESTAMP '2024-02-15 00:00:00'
                   + p_partkey * INTERVAL 7 MINUTE) AS tst
FROM part WHERE p_partkey <= 40
""")
def ch_sql_scalar_tail3_r9(spark, sf):
    """Round-9 scalar tail 3 in dialect SQL — positionCaseInsensitive,
    countDigits, positiveModulo, intExp2, format placeholders,
    IPv4NumToString, MACNumToString, bitmaskToList, basename,
    tumbleStart — each replayed value-exactly by the DuckDB oracle
    (format/time_bucket native, IPv4/MAC/bitmask by independent
    arithmetic)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "part").createOrReplaceTempView("part")
    return ch_sql(spark, """
        SELECT p_partkey,
               positionCaseInsensitive(p_name, 'RED') AS pci,
               countDigits(p_partkey) AS cd,
               CAST(positiveModulo(p_partkey - 20, 7) AS BIGINT) AS pm,
               intExp2(p_partkey % 20) AS ie2,
               format('{}-{}', p_brand, p_size) AS fmt,
               IPv4NumToString(p_partkey * 1000 + 5) AS i2s,
               MACNumToString(p_partkey * 99999) AS mac,
               bitmaskToList(p_partkey % 64) AS bml,
               extract(p_name, '([^/ ]*)$') AS bn,
               tumbleStart(CAST('2024-02-15 00:00:00' AS TIMESTAMP)
                           + make_interval(0, 0, 0, 0, 0,
                                           p_partkey * 7, 0),
                           INTERVAL 1 HOUR) AS tst
        FROM part WHERE p_partkey <= 40""")


@register("ch_sql_scalar_tail_r10", oracle="""
SELECT n_nationkey AS k,
       levenshtein(n_name, 'ALGERIA') AS ed,
       substr(n_name, 2, 3) AS bs,
       round(jaccard(n_name, 'ARGENTINA'), 6) AS sji,
       hamming(substr(n_name, 1, 3), 'ARG') AS bhd,
       regexp_matches(n_name, 'N.*' || (n_nationkey % 10)) AS hs,
       COALESCE(list_min(list_filter([position('TI' in n_name),
                                      position('ON' in n_name),
                                      position('ZZ' in n_name)],
                                     x -> x > 0)), 0) AS msfp,
       strftime(TIMESTAMP '2020-02-29 10:00:00', '%B') AS dnm,
       make_timestamp(2024, 1, (n_nationkey % 28) + 1, 0, 0, 0) AS cd,
       TIMESTAMP '2021-02-28 10:30:00' AS cy
FROM nation
""")
def ch_sql_scalar_tail_r10(spark, sf):
    """Round-10 resolve-probe scalar batch in dialect SQL —
    editDistanceUTF8, byteSlice, stringJaccardIndex (char-set Jaccard,
    DuckDB's native jaccard agrees), byteHammingDistance (DuckDB native
    hamming), hasSubsequence (subsequence regex replay),
    multiSearchFirstPosition (min positive locate),
    dateName, changeDay (varying day, all valid), changeYear (Feb-29
    clamp to Feb-28, time preserved). soundex / mapSort /
    arrayEnumerateDense / ngramSearch are battery-tested
    (test_round10_resolve_probe_batch) — DuckDB lacks independent
    equivalents with matching order/definitions."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    return ch_sql(spark, """
        SELECT n_nationkey AS k,
               CAST(editDistanceUTF8(n_name, 'ALGERIA') AS BIGINT) AS ed,
               byteSlice(n_name, 2, 3) AS bs,
               round(stringJaccardIndex(n_name, 'ARGENTINA'), 6) AS sji,
               byteHammingDistance(byteSlice(n_name, 1, 3), 'ARG') AS bhd,
               hasSubsequence(n_name,
                              concat('N', toString(n_nationkey % 10)))
                   AS hs,
               multiSearchFirstPosition(n_name, ['TI', 'ON', 'ZZ'])
                   AS msfp,
               dateName('month', toDateTime('2020-02-29 10:00:00'))
                   AS dnm,
               changeDay(toDate('2024-01-31'), n_nationkey % 28 + 1)
                   AS cd,
               changeYear(toDateTime('2020-02-29 10:30:00'), 2021) AS cy
        FROM nation""")


@register("ch_sql_round14_tail", oracle="""
SELECT CAST(user_id % 3 AS BIGINT) AS g,
       to_json(['a', 'b', 'n.x']) AS paths,
       CAST(min(ts) AS TIMESTAMP) AS sf64_rt,
       0 AS tzoff,
       'UTC' AS stz
FROM (SELECT user_id, time_bucket(INTERVAL '1 second', ts) AS ts
      FROM events)
GROUP BY 1
""")
def ch_sql_round14_tail(spark, sf):
    """Round-14 probe closures: distinctJSONPaths (dotted leaf paths
    across a group's JSON docs — every cohort sees both row shapes, so
    the union is constructively known), dateTime64ToSnowflakeID /
    snowflakeIDToDateTime64 round trip (second-truncated — the 22-bit
    shift preserves ms and the fixture carries sub-ms), timezoneOffset
    and serverTimeZone under the pinned-UTC session. Array output
    emitted as a JSON string (shapes.py driver-gate note)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.shapes import json_arrays

    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return json_arrays(ch_sql(spark, """
        SELECT toInt64(user_id % 3) AS g,
               distinctJSONPaths(CASE WHEN event_id % 2 = 0
                   THEN concat('{"a": ', toString(event_id),
                               ', "n": {"x": 1}}')
                   ELSE '{"b": [1, 2]}' END) AS paths,
               min(snowflakeIDToDateTime64(dateTime64ToSnowflakeID(
                   toStartOfSecond(ts)))) AS sf64_rt,
               timezoneOffset(toDateTime('2024-01-01 00:00:00'))
                   AS tzoff,
               serverTimeZone() AS stz
        FROM events GROUP BY g"""), "paths")


@register("ch_sql_ipv6_cidr", oracle="""
SELECT n_nationkey AS k,
       CASE WHEN n_nationkey = 0 THEN '2001:db8::'
            ELSE '2001:db8:' || printf('%x', n_nationkey) || '::'
       END AS lo48,
       '2001:db8:' || printf('%x', n_nationkey)
           || ':ffff:ffff:ffff:ffff:ffff' AS hi48,
       '2001:db8::' AS lo32,
       true AS in32,
       (n_nationkey < 2) AS in48
FROM nation
""")
def ch_sql_ipv6_cidr(spark, sf):
    """IPv6CIDRToRange + isIPAddressInRange v6 path (round-14 refusal
    conversions, [U] src/Functions/FunctionsCoding.h): byte-wise CIDR
    masking in the ipcodecs compat family
    (functions/ipcodecs.ipv6_cidr_range_py), RFC 5952 canonical text.
    The oracle replays the nibble-aligned /48 and /32 blocks by string
    construction (the zero group at key 0 compresses per RFC 5952);
    membership booleans replay as key predicates."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    return ch_sql(spark, """
        SELECT n_nationkey AS k,
               IPv6CIDRToRange(toIPv6(concat('2001:db8:',
                   lower(hex(n_nationkey)), '::1')), 48)._1 AS lo48,
               IPv6CIDRToRange(toIPv6(concat('2001:db8:',
                   lower(hex(n_nationkey)), '::1')), 48)._2 AS hi48,
               IPv6CIDRToRange(toIPv6(concat('2001:db8:',
                   lower(hex(n_nationkey)), '::1')), 32)._1 AS lo32,
               isIPAddressInRange(concat('2001:db8:',
                   lower(hex(n_nationkey)), '::1'),
                   '2001:db8::/32') AS in32,
               isIPAddressInRange(concat('2001:db8:',
                   lower(hex(n_nationkey)), '::1'),
                   concat('2001:db8:', lower(hex(n_nationkey % 2)),
                          '::/48')) AS in48
        FROM nation""")


@register("ch_sql_scalar_tail2_r10", oracle="""
SELECT k,
       CAST(CASE WHEN v >= 9223372036854775808::HUGEINT
            THEN v - 18446744073709551616::HUGEINT ELSE v END
            AS BIGINT) AS hm,
       regexp_escape(nm || '.*') AS rqm,
       json_valid('{"k": ' || k || '}') AS vj1,
       json_valid(nm) AS vj0,
       CAST(CASE WHEN k % 3 = 0 THEN true WHEN k % 3 = 1 THEN false
            ELSE NULL END AS VARCHAR) AS tb,
       '<' || nm || '&' AS dh,
       nm AS eth,
       to_json([[k, k + 1], [k + 1, k + 2]]) AS ash,
       '01234567-89ab-cdef-0123-456789abcdef' AS uu
FROM (
  SELECT n_nationkey AS k, n_name AS nm,
         list_reduce(list_transform(generate_series(1, 16),
           i -> (strpos('0123456789abcdef',
                        substr(md5(n_name), i, 1)) - 1)::HUGEINT),
           (a, b) -> a * 16 + b) AS v
  FROM nation)
""")
def ch_sql_scalar_tail2_r10(spark, sf):
    """Round-10 batch 2 oracle — halfMD5 (DuckDB replays the big-endian
    first-8-bytes UInt64 reading via a Horner hex-digit fold in HUGEINT
    with the exact signed wrap), regexpQuoteMeta (RE2 QuoteMeta
    agreement on the exercised metachars), isValidJSON (json_valid),
    toBool, decodeHTMLComponent, extractTextFromHTML (tag+entity strip
    recovers the raw name), arrayShingles, UUID string<->bytes round
    trip. mapAdd/arrayFill/arraySplit/initializeAggregation are
    battery-tested (test_round10_resolve_probe_batch2) with upstream
    doc examples — DuckDB lacks matching natives. Array output emitted
    as a JSON string (shapes.py driver-gate note)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.shapes import json_arrays

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    return json_arrays(ch_sql(spark, """
        SELECT n_nationkey AS k,
               halfMD5(n_name) AS hm,
               regexpQuoteMeta(concat(n_name, '.*')) AS rqm,
               isValidJSON(concat('{"k": ', toString(n_nationkey), '}'))
                   AS vj1,
               isValidJSON(n_name) AS vj0,
               toString(toBool(CASE WHEN n_nationkey % 3 = 0 THEN 'yes'
                                    WHEN n_nationkey % 3 = 1 THEN 'off'
                                    ELSE 'xx' END)) AS tb,
               decodeHTMLComponent(concat('&lt;', n_name, '&amp;'))
                   AS dh,
               extractTextFromHTML(concat('<b>', n_name,
                   '</b><script>var x;</script>')) AS eth,
               arrayShingles([n_nationkey, n_nationkey + 1,
                              n_nationkey + 2], 2) AS ash,
               UUIDNumToString(UUIDStringToNum(
                   '01234567-89ab-cdef-0123-456789abcdef')) AS uu
        FROM nation"""), "ash")


@register("ch_sql_scalar_tail3_r10", oracle="""
SELECT o_orderkey AS k,
       CAST(strftime(o_orderdate, '%U') AS INT) AS w0,
       CAST(weekofyear(o_orderdate) AS INT) AS w3,
       CAST(year(ws) * 100 + CAST(strftime(ws, '%U') AS INT) AS INT)
           AS yw0,
       CAST(CAST(strftime(o_orderdate, '%G') AS INT) * 100
            + weekofyear(o_orderdate) AS INT) AS yw3,
       round(pow(list_sum(list_transform(
           [CAST(o_orderkey % 7 AS DOUBLE), 4.0],
           x -> pow(abs(x), 3.0))), 1.0 / 3.0), 6) AS lp,
       to_json(list_sort(list_distinct([o_orderkey % 5, o_orderkey % 3, 2])))
           AS au,
       [o_orderkey % 7 + 1, NULL][CAST(o_orderkey % 3 AS INT) + 1]
           AS aeo,
       CASE WHEN o_orderkey % 2 = 0
            THEN '01234567-89ab-cdef-0123-456789abcdef' END AS uu
FROM (SELECT o_orderkey, o_orderdate,
             o_orderdate - INTERVAL (dayofweek(o_orderdate)) DAY AS ws
      FROM orders WHERE o_orderkey < 800)
""")
def ch_sql_scalar_tail3_r10(spark, sf):
    """Round-10 batch 3 oracle on REAL multi-year dates — toWeek mode 0
    (MySQL/C strftime %U Sunday weeks, DuckDB replays natively), mode 3
    (ISO), toYearWeek modes 0 (week's-Sunday year) and 3 (ISO %G),
    LpNorm, arrayUnion (sorted — set semantics), arrayElementOrNull
    (out-of-bounds → NULL both engines), toUUIDOrNull/Zero. byteSwap /
    meanZTest / WKT / tuple DIV are battery-tested with hand values.
    Array output emitted as a JSON string (shapes.py driver-gate
    note)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.shapes import json_arrays

    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    return json_arrays(ch_sql(spark, """
        SELECT o_orderkey AS k,
               toWeek(o_orderdate) AS w0,
               toWeek(o_orderdate, 3) AS w3,
               toYearWeek(o_orderdate) AS yw0,
               CAST(toYearWeek(o_orderdate, 3) AS INT) AS yw3,
               round(LpNorm([CAST(o_orderkey % 7 AS DOUBLE), 4.0], 3), 6)
                   AS lp,
               arraySort(arrayUnion([o_orderkey % 5, o_orderkey % 3],
                                    [2])) AS au,
               arrayElementOrNull([o_orderkey % 7 + 1],
                                  o_orderkey % 3 + 1) AS aeo,
               toUUIDOrNull(CASE WHEN o_orderkey % 2 = 0
                   THEN '01234567-89AB-CDEF-0123-456789abcdef'
                   ELSE 'not-a-uuid' END) AS uu
        FROM orders WHERE o_orderkey < 800"""), "au")


@register("ch_sql_text_codecs", oracle="""
SELECT n_nationkey AS k,
       true AS pc_rt, true AS idna_rt, true AS b58_rt,
       CAST(len(n_name) + 1 AS INT) AS nfc_len,
       CAST(len(n_name) + 2 AS INT) AS nfd_len,
       'Mnchen-3ya' AS pe,
       'xn--strae-oqa.xn--mnchen-3ya.de' AS ie,
       '3dc8KtHrwM' AS be
FROM nation
""")
def ch_sql_text_codecs(spark, sf):
    """Round-10 stdlib text codecs in dialect SQL
    (functions/textcodecs.py; upstream src/Functions/{punycode,idna}.cpp,
    FunctionBase58Conversion.h, normalizeUTF8.h): encode->decode round
    trips over per-row non-ASCII strings as hash-checked TRUE columns,
    NFC/NFD length laws on a combining-mark suffix, and the upstream
    doc-example literals (punycode 'München', IDNA 'straße.münchen.de',
    base58 'Encoded') the oracle states verbatim."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    return ch_sql(spark, """
        SELECT n_nationkey AS k,
               punycodeDecode(punycodeEncode(s)) = s AS pc_rt,
               idnaDecode(idnaEncode(concat(s, '.example.com')))
                   = concat(s, '.example.com') AS idna_rt,
               base58Decode(base58Encode(s)) = s AS b58_rt,
               toInt32(length(normalizeUTF8NFC(concat(n_name, 'é'))))
                   AS nfc_len,
               toInt32(length(normalizeUTF8NFD(concat(n_name, 'é'))))
                   AS nfd_len,
               punycodeEncode('München') AS pe,
               idnaEncode('straße.münchen.de') AS ie,
               base58Encode('Encoded') AS be
        FROM (SELECT n_nationkey,  n_name,
                     concat(lower(n_name), 'üß',
                            toString(n_nationkey)) AS s
              FROM nation)""")


def _morton16_oracle(x_sql: str, y_sql: str) -> str:
    """DuckDB twin of mortonEncode for 16-bit coords: the same
    disjoint-bit interleave, unrolled from the same convention
    (bit j of input i lands at bit 2*j + i)."""
    terms = []
    for j in range(16):
        terms.append(f"((({x_sql} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({y_sql} >> {j}) & 1) << {2 * j + 1})")
    return "(" + " | ".join(terms) + ")"


from clickhouse_clickhouse_spark.functions.geo import geohash_oracle_expr

_R10_GEO_ORACLE = (
    "round(acos(least(greatest("
    "sin(radians(lat)) * sin(radians(0.0)) + cos(radians(lat)) "
    "* cos(radians(0.0)) * cos(radians(0.0 - lon)), -1.0), 1.0)) "
    "* sqrt((40680631590769.0 * cos(radians(lat / 2.0)) "
    "* 40680631590769.0 * cos(radians(lat / 2.0)) "
    "+ 40408299984661.453 * sin(radians(lat / 2.0)) "
    "* 40408299984661.453 * sin(radians(lat / 2.0))) "
    "/ (40680631590769.0 * cos(radians(lat / 2.0)) "
    "* cos(radians(lat / 2.0)) + 40408299984661.453 "
    "* sin(radians(lat / 2.0)) * sin(radians(lat / 2.0)))), 3)")


@register("ch_sql_round10_curves", oracle=f"""
SELECT event_id AS k,
       gcd(event_id, user_id) AS g,
       lcm(event_id % 1000, user_id % 100) AS l,
       round(1.0 / (1.0 + exp(-value / 100.0)), 6) AS sg,
       {_morton16_oracle("(event_id % 65536)", "(user_id % 65536)")} AS me,
       true AS mrt, true AS hrt, CAST(31 AS BIGINT) AS h34,
       CAST(ceil((event_id % 100 + 0.5) * 1024) AS BIGINT) AS pr,
       chr(CAST(65 + event_id % 26 AS INT))
           || chr(CAST(97 + user_id % 26 AS INT)) AS ch,
       event_type AS fl,
       {geohash_oracle_expr("lon", "lat", 4)} AS ge,
       {_R10_GEO_ORACLE} AS gd
FROM (SELECT *, CAST(event_id % 360 - 180 + 0.25 AS DOUBLE) AS lon,
             CAST(user_id % 170 - 85 + 0.25 AS DOUBLE) AS lat
      FROM events)
""")
def ch_sql_round10_curves(spark, sf):
    """Round-10 batch 4 in dialect SQL over `events`: gcd/lcm (DuckDB
    natives — fully independent oracle), sigmoid, mortonEncode (oracle
    re-derives the interleave bit-by-bit) + decode roundtrip,
    hilbertEncode/Decode roundtrip + the upstream docs literal
    hilbertEncode(3,4)=31, parseReadableSize on per-row '<n>.5 KiB'
    strings, multi-arg char(), firstLine, geohashEncode (shared-formula
    oracle via functions/geo.geohash_oracle_expr), geoDistance (WGS-84
    local-radius haversine twin). Upstream [U] src/Functions/{{gcd,lcm,
    mortonEncode,hilbertEncode2DLUT,parseReadableSize,geohash}}."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return ch_sql(spark, """
        SELECT event_id AS k,
               gcd(event_id, user_id) AS g,
               lcm(event_id % 1000, user_id % 100) AS l,
               round(sigmoid(value / 100.0), 6) AS sg,
               mortonEncode(event_id % 65536, user_id % 65536) AS me,
               (mortonDecode(2, mortonEncode(event_id % 65536,
                                             user_id % 65536))
                    = tuple(event_id % 65536, user_id % 65536)) AS mrt,
               (hilbertDecode(2, hilbertEncode(event_id % 32768,
                                               user_id % 32768))
                    = tuple(event_id % 32768, user_id % 32768)) AS hrt,
               hilbertEncode(3, 4) AS h34,
               parseReadableSize(concat(toString(event_id % 100),
                                        '.5 KiB')) AS pr,
               char(65 + event_id % 26, 97 + user_id % 26) AS ch,
               firstLine(concat(event_type, '\\n', props)) AS fl,
               geohashEncode(lon, lat, 4) AS ge,
               round(geoDistance(lon, lat, 0.0, 0.0), 3) AS gd
        FROM (SELECT *,
                     CAST(event_id % 360 - 180 + 0.25 AS Float64) AS lon,
                     CAST(user_id % 170 - 85 + 0.25 AS Float64) AS lat
              FROM events)""")


@register("ch_sql_ipv6_time_ids", oracle="""
SELECT event_id AS k,
       '2001:db8::' || lower(hex(1 + event_id % 65535)) AS canon,
       true AS is6, false AS not6,
       '::ffff:' || CAST(1 + event_id % 254 AS VARCHAR) || '.'
           || CAST(user_id % 256 AS VARCHAR) || '.0.1' AS v46,
       '2001:db8::' AS cut8,
       date_trunc('milliseconds', ts) AS sf_rt,
       TIMESTAMP '2024-04-22 12:02:48.616' AS u7,
       round(greatest(coalesce((value - lag(value) OVER w)
           / nullif(date_part('epoch', ts)
                    - date_part('epoch', lag(ts) OVER w), 0), 0), 0), 4)
           AS nnd
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def ch_sql_ipv6_time_ids(spark, sf):
    """IPv6 codec family (stdlib inet_pton/ntop — RFC 5952 canonical
    like upstream src/Functions/FunctionsCoding.h), snowflake-ID
    round trip (unix-epoch family, [U] src/Functions/
    snowflakeIDToDateTime.cpp), UUIDv7 timestamp extraction, and the
    nonNegativeDerivative window pre-pass over per-user event series
    (deterministic ORDER BY ts, event_id; ties and first rows → 0)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return ch_sql(spark, """
        SELECT event_id AS k,
               IPv6NumToString(IPv6StringToNum(s6)) AS canon,
               isIPv6String(s6) AS is6,
               isIPv6String(event_type) AS not6,
               IPv6NumToString(IPv4ToIPv6(IPv4StringToNum(s4))) AS v46,
               cutIPv6(IPv6StringToNum(s6), 8, 0) AS cut8,
               snowflakeIDToDateTime(dateTimeToSnowflakeID(ts)) AS sf_rt,
               UUIDv7ToDateTime(
                   '018f05af-f4a8-778f-beee-1bedbc95c93b') AS u7,
               round(nonNegativeDerivative(value, ts)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
                   AS nnd
        FROM (SELECT *,
                     concat('2001:db8::',
                            lower(hex(1 + event_id % 65535))) AS s6,
                     concat(toString(1 + event_id % 254), '.',
                            toString(user_id % 256), '.0.1') AS s4
              FROM events)""")


@register("ch_sql_round10_tail5", oracle="""
SELECT event_id AS k,
       value / 2.0 AS td1,
       user_id * 3 AS tm2,
       round(2 * abs(value), 6) AS l1,
       round(value * value + 4.0, 6) AS l2s,
       round(greatest(abs(value), 1.0), 6) AS li,
       true AS ha, true AS hy, true AS hs,
       to_json([event_id % 7, 0, 0]) AS ar,
       1 + event_id % 10 + user_id % 10 AS cs_last,
       user_id % 100 - event_id % 100 AS ad2,
       to_json(CASE WHEN event_id % 2 = 0 THEN [1, 0, 5]
               ELSE [1, 5] END) AS ac,
       bit_count(xor(event_id, user_id)) AS bh,
       trunc(value * 100) / 100 AS tr,
       'http://ex' || CAST(event_id % 10 AS VARCHAR) || '.com/p' AS cw,
       'http://x.com/?c=d' AS cp,
       to_json(['https://ex.com/',
        'https://ex.com/a' || CAST(event_id % 5 AS VARCHAR) || '/',
        'https://ex.com/a' || CAST(event_id % 5 AS VARCHAR) || '/b'])
           AS uh,
       to_json(range(event_id % 4)) AS rg,
       DATE '2020-01-31'
           + to_months(CAST(3 * (event_id % 8) AS INT)) AS aq
FROM events
""")
def ch_sql_round10_tail5(spark, sf):
    """Round-10 batch 5 in dialect SQL over `events`: tuple scalar
    arithmetic (divide → Float64 like upstream), L-norm family tail
    (L1/L2Squared/Linf norms+distances), hasAll/hasAny/hasSubstr,
    arrayResize/arrayCumSum/arrayDifference/arrayCompact,
    bitHammingDistance, truncate, cutWWW/cutURLParameter/URLHierarchy
    (upstream docs examples pinned in the pytest battery), multi-arg
    range, addQuarters. Upstream [U] src/Functions/{tupleArithmetic,
    array/*, bitHammingDistance, URL/*}. Array outputs emitted as JSON
    strings (shapes.py driver-gate note)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.shapes import json_arrays

    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return json_arrays(ch_sql(spark, """
        SELECT event_id AS k,
               tupleDivide((value, value * 2), (2, 4))._1 AS td1,
               tupleMultiplyByNumber((event_id, user_id), 3)._2 AS tm2,
               round(L1Norm(array(value, -value)), 6) AS l1,
               round(L2SquaredNorm(array(value, 2.0)), 6) AS l2s,
               round(LinfDistance(array(value, 0.0), array(0.0, 1.0)),
                     6) AS li,
               hasAll(array(user_id % 5, 7), array(7)) AS ha,
               hasAny(array(user_id % 5), array(0, 1, 2, 3, 4)) AS hy,
               hasSubstr(array(1, user_id % 5, 9),
                         array(user_id % 5, 9)) AS hs,
               arrayResize(array(event_id % 7), 3, 0) AS ar,
               arrayElement(arrayCumSum(array(1, event_id % 10,
                                              user_id % 10)), 3)
                   AS cs_last,
               arrayElement(arrayDifference(array(event_id % 100,
                                                  user_id % 100)), 2)
                   AS ad2,
               arrayCompact(array(1, 1, event_id % 2, event_id % 2, 5))
                   AS ac,
               bitHammingDistance(event_id, user_id) AS bh,
               truncate(value, 2) AS tr,
               cutWWW(concat('http://www.ex', toString(event_id % 10),
                             '.com/p')) AS cw,
               cutURLParameter(concat('http://x.com/?a=',
                                      toString(event_id), '&c=d'),
                               'a') AS cp,
               URLHierarchy(concat('https://ex.com/a',
                                   toString(event_id % 5), '/b')) AS uh,
               range(event_id % 4) AS rg,
               toDateTime(addQuarters(DATE'2020-01-31', event_id % 8))
                   AS aq
        FROM events"""), "ar", "ac", "uh", "rg")


@register("ch_sql_round10_tail6", oracle="""
SELECT event_id AS k,
       2 AS sbu,
       round(-((na / nn) * log2(na / nn) + (nb / nn) * log2(nb / nn)),
             6) AS sbe,
       true AS b32rt,
       value / nullif(CAST(event_id % 3 AS DOUBLE), 0) AS dor,
       event_id % 3 = 0 AS izn,
       CASE event_id % 3 WHEN 0 THEN 'z' WHEN 1 THEN 'o'
            ELSE 'm' END AS cwe,
       date_trunc('month', ts) AS dt,
       ts + INTERVAL 2 DAY AS ad,
       ts - INTERVAL 2 DAY AS sd,
       (event_id % 16) << 2 AS bsl,
       CASE 1 + event_id % 3 WHEN 1 THEN 'a' WHEN 2 THEN 'a.b'
            ELSE 'a.b.c' END AS si,
       TIMESTAMP '2020-02-29 10:11:00'
           + to_seconds(CAST(event_id % 60 AS INT)) AS mdt,
       CAST(CAST(event_id * 1000000 AS DECIMAL(38, 0)) AS VARCHAR) AS i128
FROM (SELECT *,
             CAST(1 + event_id % 5 AS DOUBLE) AS na,
             CAST(1 + user_id % 3 AS DOUBLE) AS nb,
             CAST(2 + event_id % 5 + user_id % 3 AS DOUBLE) AS nn
      FROM events)
""")
def ch_sql_round10_tail6(spark, sf):
    """Round-10 batch 6 in dialect SQL over `events`: byte-level string
    statistics (stringBytesUniq/stringBytesEntropy vs the closed-form
    two-symbol entropy the oracle states), base32 round trip,
    divideOrNull/isZeroOrNull, caseWithExpression, dateTrunc/addDate/
    subDate, bitShiftLeft, substringIndexUTF8, makeDateTime64,
    Int128 → DECIMAL(38,0). crc64/toBFloat16 are pytest-pinned to
    external vectors (CRC-64/XZ check value; bfloat16 rounding).
    The i128 column is emitted as its decimal STRING rendering: the
    driver gate hashes Spark's ``Decimal`` objects differently from
    DuckDB's float64 lowering (round-13 hash mismatch), and doubles
    can't hold the full Int128 range — strings preserve it exactly."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return ch_sql(spark, """
        SELECT event_id AS k,
               stringBytesUniq(s) AS sbu,
               round(stringBytesEntropy(s), 6) AS sbe,
               base32Decode(base32Encode(props)) = props AS b32rt,
               divideOrNull(value, event_id % 3) AS dor,
               isZeroOrNull(event_id % 3) AS izn,
               caseWithExpression(event_id % 3, 0, 'z', 1, 'o', 'm')
                   AS cwe,
               dateTrunc('month', ts) AS dt,
               addDate(ts, INTERVAL 2 DAY) AS ad,
               subDate(ts, INTERVAL 2 DAY) AS sd,
               bitShiftLeft(event_id % 16, 2) AS bsl,
               substringIndexUTF8('a.b.c', '.',
                                  CAST(1 + event_id % 3 AS Int32)) AS si,
               makeDateTime64(2020, 2, 29, 10, 11, event_id % 60) AS mdt,
               toString(toInt128(event_id * 1000000)) AS i128
        FROM (SELECT *,
                     concat(repeat('a', CAST(1 + event_id % 5 AS Int32)),
                            repeat('b', CAST(1 + user_id % 3 AS Int32)))
                         AS s
              FROM events)""")


@register("ch_sql_round10_bitmaps", oracle="""
SELECT event_id AS k,
       to_json(list_sort(list_distinct([1, 2, CAST(event_id % 5 AS BIGINT)])))
           AS bb,
       CAST(len(list_intersect(
           list_distinct([1, 2, CAST(event_id % 5 AS BIGINT)]),
           [2, 3])) AS BIGINT) AS bac,
       to_json(list_sort(list_distinct([1, 2, CAST(event_id % 5 AS BIGINT),
                                        3]))) AS bor,
       list_contains(list_distinct([1, 2,
           CAST(event_id % 5 AS BIGINT)]), 2) AS bc,
       CAST(CASE event_id % 5 WHEN 0 THEN 0 WHEN 3 THEN 2
                 WHEN 4 THEN 3 ELSE 1 END AS BIGINT) AS bmin,
       to_json(list_sort(list_filter(list_distinct([1, 2,
           CAST(event_id % 5 AS BIGINT)]), x -> x >= 2))) AS bsir,
       round(value * 2, 6) AS w_med,
       user_id AS sm
FROM events
""")
def ch_sql_round10_bitmaps(spark, sf):
    """Round-10 bitmap family + aggregate tail in dialect SQL over
    `events`: bitmapBuild/And/Or cardinalities and subsets over the
    sorted-distinct-array representation ([U] src/Functions/
    FunctionsBitmap.h), quantileTDigestWeighted (exact weighted pick —
    inside the upstream sketch's accuracy envelope), and sumMap's
    two-array spelling (per-group sum keyed by constant 1 replayed as
    user_id*2 via a 2-row group). Array outputs emitted as JSON strings
    (shapes.py driver-gate note)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.shapes import json_arrays

    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return json_arrays(ch_sql(spark, """
        SELECT event_id AS k,
               bitmapBuild(array(1, 2, event_id % 5)) AS bb,
               bitmapAndCardinality(bitmapBuild(array(1, 2,
                   event_id % 5)), bitmapBuild(array(2, 3))) AS bac,
               bitmapToArray(bitmapOr(bitmapBuild(array(1, 2,
                   event_id % 5)), bitmapBuild(array(3)))) AS bor,
               bitmapContains(bitmapBuild(array(1, 2, event_id % 5)),
                              2) AS bc,
               bitmapMin(bitmapBuild(array(1, 2, event_id % 5)))
                   + bitmapMax(bitmapBuild(array(1, 2, event_id % 5)))
                   - 2 AS bmin,
               bitmapToArray(bitmapSubsetInRange(bitmapBuild(
                   array(1, 2, event_id % 5)), 2, 100)) AS bsir,
               round(quantileTDigestWeighted(0.5)(value, 2)
                     + quantileTDigestWeighted(0.5)(value, 3), 6)
                   AS w_med,
               mapValues(sumMap(array(1), array(user_id)))[1] AS sm
        FROM events
        GROUP BY event_id, value, user_id"""), "bb", "bor", "bsir")


@register("ch_sql_round10_stmt_tail", oracle="""
SELECT k, n, cnt, q50, udm, mi, tn, c2
FROM (
  SELECT DISTINCT ON (k) k, n, cnt, q50, udm, mi, tn, c2
  FROM (
    SELECT user_id % 7 AS k, event_id AS n,
           CAST(count(*) OVER (PARTITION BY user_id % 7) AS BIGINT)
               AS cnt,
           round(CAST(quantile_cont(value, 0.5)
               OVER (PARTITION BY user_id % 7) AS DOUBLE), 6) AS q50,
           (SELECT CAST(count(DISTINCT (user_id % 5, event_id % 3))
                        AS BIGINT) FROM events) AS udm,
           CAST(event_id % 3 AS BIGINT) AS mi,
           'Int32' AS tn,
           42 AS c2
    FROM events)
  ORDER BY k, n)
ORDER BY k
""")
def ch_sql_round10_stmt_tail(spark, sf):
    """Round-10 statement tail on the DuckDB gate: DISTINCT ON (DuckDB
    has it natively — an independent oracle), MOD infix, bare
    quantileExact (p = 0.5) as a window aggregate twin, multi-arg
    uniqExact (DuckDB count(DISTINCT (a, b))), toTypeName reference
    names, two-arg CAST."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return ch_sql(spark, """
        SELECT DISTINCT ON (k) k, n, cnt, q50, udm, mi, tn, c2
        FROM (
          SELECT user_id % 7 AS k, event_id AS n,
                 count(*) OVER (PARTITION BY user_id % 7) AS cnt,
                 round(quantileExact(value)
                     OVER (PARTITION BY user_id % 7), 6) AS q50,
                 (SELECT uniqExact(user_id % 5, event_id % 3)
                  FROM events) AS udm,
                 event_id MOD 3 AS mi,
                 toTypeName(CAST(1 AS Int32)) AS tn,
                 CAST('42', 'Int64') AS c2
          FROM events)
        ORDER BY k, n""")


@register("ch_sql_float64_literals", oracle="""
SELECT n_nationkey,
       CAST(0.1e0 + 0.2e0 = 0.3e0 AS INT)        AS eq_sum,
       0.1e0 + 0.2e0                             AS s,
       n_nationkey * 1.1e0                       AS scaled,
       CAST(n_nationkey + 0.1e0 + 0.2e0 > n_nationkey + 0.3e0
            AS INT)                              AS gt_row,
       2.675e0 * 100                             AS snap,
       1e0 / 3e0                                 AS third
FROM nation
""")
def ch_sql_float64_literals(spark, sf):
    """Round-11 verdict item 1: bare non-integer literals type as
    Float64 ([U] src/Parsers — number literals parse to Float64 fields),
    closed by the translate-time D-suffix pass. The oracle spells every
    fractional literal with DuckDB's e0 DOUBLE form (DuckDB's own bare
    fractional literals are DECIMAL — verified), so both engines run
    IEEE double math and the hash compare is bit-exact."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    return ch_sql(spark, """
        SELECT n_nationkey,
               CAST(0.1 + 0.2 = 0.3 AS Int32)                AS eq_sum,
               0.1 + 0.2                                     AS s,
               n_nationkey * 1.1                             AS scaled,
               CAST(n_nationkey + 0.1 + 0.2 > n_nationkey + 0.3
                    AS Int32)                                AS gt_row,
               2.675 * 100                                   AS snap,
               1.0 / 3                                       AS third
        FROM nation""")


@register("ch_sql_empty_set_defaults", oracle="""
SELECT CAST(0 AS BIGINT) AS s,
       CAST(0 AS BIGINT) AS u,
       1                 AS a_nan,
       CAST(0 AS BIGINT) AS c,
       CAST(0 AS BIGINT) AS si
""")
def ch_sql_empty_set_defaults(spark, sf):
    """Round-11 verdict item 5: upstream no-GROUP-BY aggregates over an
    empty set return type defaults (sum -> 0, uniq -> 0, avg -> nan
    Float64), not ANSI NULL ([U] aggregate-function empty-set
    semantics). COALESCE wrap, scalar non-window positions only
    (ch_sql._empty_set_defaults_pass). The oracle IS the literal
    upstream defaults — DuckDB itself returns NULLs here, so agreement
    can only come from the compat wrap."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "lineitem").createOrReplaceTempView(
        "esd_lineitem")
    return ch_sql(spark, """
        SELECT sum(l_orderkey)                          AS s,
               uniqExact(l_partkey)                     AS u,
               CAST(isNaN(avg(l_extendedprice)) AS Int32) AS a_nan,
               count(*)                                 AS c,
               sumIf(l_orderkey, l_orderkey > 0)        AS si
        FROM esd_lineitem WHERE l_orderkey < 0""")


@register("ch_sql_to_timezone", oracle="""
SELECT e.event_id,
       timezone('Asia/Tokyo', e.ts::TIMESTAMPTZ)       AS tok,
       CAST(hour(timezone('Asia/Tokyo', e.ts::TIMESTAMPTZ)) AS INT)
                                                       AS tok_h,
       timezone('America/New_York', e.ts::TIMESTAMPTZ) AS ny
FROM events e WHERE e.event_id <= 200
""")
def ch_sql_to_timezone(spark, sf):
    """Round-11 verdict item 6: toTimezone carries the display-shift
    semantics via CONVERT_TIMEZONE ([U] toTimezone keeps the instant,
    changes the rendering tz; here the wall-clock shifts because Spark
    timestamps have no tz attribute — component extraction matches
    upstream). DuckDB oracle: timezone(tz, ts::TIMESTAMPTZ) under a UTC
    session, instant-preserving wall-clock in tz — independent ground
    truth including DST (America/New_York)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "events").createOrReplaceTempView("tz_events")
    return ch_sql(spark, """
        SELECT event_id,
               toTimezone(ts, 'Asia/Tokyo') AS tok,
               toHour(toTimezone(ts, 'Asia/Tokyo')) AS tok_h,
               toTimeZone(ts, 'America/New_York') AS ny
        FROM tz_events WHERE event_id <= 200""")


@register("ch_sql_pr_auc", oracle="""
WITH pts AS (
  SELECT user_id % 5 AS g, value AS score,
         CAST(event_id % 2 AS INT) AS lab
  FROM events WHERE event_id <= 1200
), w AS (
  SELECT g, score,
         SUM(lab) OVER (PARTITION BY g ORDER BY score DESC
                        RANGE BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)        AS tp_ge,
         COUNT(*) OVER (PARTITION BY g ORDER BY score DESC
                        RANGE BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)        AS cnt_ge,
         SUM(lab) OVER (PARTITION BY g, score)  AS tie_tp,
         SUM(lab) OVER (PARTITION BY g)         AS p_tot,
         ROW_NUMBER() OVER (PARTITION BY g, score ORDER BY score)
                                                AS rn
  FROM pts
)
SELECT g, round(CAST(SUM(
           (tp_ge - (tp_ge - tie_tp)) * tp_ge / cnt_ge / p_tot
       ) AS DOUBLE), 6) AS ap
FROM w WHERE rn = 1
GROUP BY g ORDER BY g
""")
def ch_sql_pr_auc(spark, sf):
    """Round-11: arrayPrAUC ([U] src/Functions/array/arrayPrAUC.cpp) —
    area under the precision-recall curve by the right-endpoint
    rectangle sum over distinct-score thresholds (threshold-grouped
    average precision). The DuckDB oracle is an INDEPENDENT window-
    function construction of the same curve (RANGE frames group score
    ties; one representative row per distinct threshold), so the
    SQL-fold and the window algebra must agree exactly. The fold is
    order-free (every term is a >=/>-count), so groupArray's
    nondeterministic ordering cannot flip the result."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "events").createOrReplaceTempView(
        "prauc_events")
    return ch_sql(spark, """
        SELECT g, round(arrayPrAUC(groupArray(score),
                                   groupArray(lab)), 6) AS ap
        FROM (SELECT user_id % 5 AS g, value AS score,
                     event_id % 2 AS lab
              FROM prauc_events WHERE event_id <= 1200)
        GROUP BY g ORDER BY g""")


@register("ch_sql_round11_batch7", oracle="""
SELECT r_regionkey,
       to_json(regexp_extract_all('a1b2c3', '(\\d)', 1)) AS rea,
       greatest(1, least(r_regionkey + 10, 3))      AS cl,
       CAST(((DATE '2024-02-15' - DATE '1970-01-01') + 7
             - (isodow(DATE '2024-02-15') - 1)) // 7 AS INT)
                                                    AS relweek,
       upper('61f0c4045cb311e7907ba6006ad3dba0')    AS un,
       TRUE                                         AS pin,
       FALSE                                        AS pout,
       'x'                                          AS tr3,
       strftime(to_timestamp(1700000000), '%Y-%m-%d') AS joda
FROM region
""")
def ch_sql_round11_batch7(spark, sf):
    """Round-11 batch-7 names on the DuckDB gate: regexpExtractAll
    (duck regexp_extract_all), clamp (greatest/least twin),
    toRelativeWeekNum (duck isodow arithmetic — independent
    construction of the Monday-start epoch week), UUIDToNum hex bytes,
    pointInPolygon literal ray casts, 3-arg transform passthrough,
    fromUnixTimestampInJodaSyntax (duck strftime). Array output emitted
    as a JSON string (shapes.py driver-gate note)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.shapes import json_arrays

    load_table(spark, sf, "region").createOrReplaceTempView(
        "b7_region")
    return json_arrays(ch_sql(spark, """
        SELECT r_regionkey,
               regexpExtractAll('a1b2c3', '(\\\\d)') AS rea,
               clamp(r_regionkey + 10, 1, 3) AS cl,
               toRelativeWeekNum(toDate('2024-02-15')) AS relweek,
               hex(UUIDToNum(
                   toUUID('61f0c404-5cb3-11e7-907b-a6006ad3dba0')))
                   AS un,
               pointInPolygon((0.5, 0.5),
                   [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)])
                   AS pin,
               pointInPolygon((2.0, 0.5),
                   [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)])
                   AS pout,
               transform('x', ['a'], ['b']) AS tr3,
               fromUnixTimestampInJodaSyntax(1700000000, 'yyyy-MM-dd')
                   AS joda
        FROM b7_region"""), "rea")


@register("ch_sql_round11_batch7b", oracle="""
SELECT r_regionkey,
       CAST(json_extract('{"a":{"b":1}}', '$.a') AS VARCHAR)  AS raw_obj,
       CAST(json_extract('{"a":"x"}', '$.a') AS VARCHAR)      AS raw_str,
       CAST(json_extract('{"a":[5,6]}', '$.a[1]') AS VARCHAR) AS raw_idx,
       CAST(to_json([1, 2, 3]) AS VARCHAR)                    AS tjs,
       'Int64'                                                AS jt,
       1193046                                                AS oui
FROM region
""")
def ch_sql_round11_batch7b(spark, sf):
    """Round-11 batch 7b on the DuckDB gate: JSONExtractRaw (duck
    json_extract keeps string quoting — an independent raw-JSON
    oracle), toJSONString (duck to_json), JSONType literal, and
    MACStringToOUI vs the upstream docs constant."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "region").createOrReplaceTempView(
        "b7b_region")
    return ch_sql(spark, """
        SELECT r_regionkey,
               JSONExtractRaw('{"a":{"b":1}}', 'a') AS raw_obj,
               JSONExtractRaw('{"a":"x"}', 'a') AS raw_str,
               JSONExtractRaw('{"a":[5,6]}', 'a', 2) AS raw_idx,
               toJSONString([1, 2, 3]) AS tjs,
               JSONType('{"a":1}', 'a') AS jt,
               CAST(MACStringToOUI('12:34:56:78:9C:DE') AS Int32)
                   AS oui
        FROM b7b_region""")


@register("ch_sql_round11_batch8", oracle="""
SELECT r_regionkey,
       levenshtein('kitten', 'sitting')                    AS ed,
       jaccard('abc', 'bcd')                               AS sj,
       CAST(make_date(2024, 2, 15) AS VARCHAR)             AS d32,
       CAST(isnan(COALESCE(CAST(NULL AS DOUBLE),
                           'nan'::DOUBLE)) AS INT)         AS nin,
       TIMESTAMP '2024-02-15 02:00:00'                     AS toutc,
       TIMESTAMP '2024-02-15 18:00:00'                     AS fromutc,
       TIMESTAMP '2024-02-15 10:00:00'
           + INTERVAL 1500 MILLISECONDS                    AS msadd,
       (WITH seg(a, b) AS (VALUES (1, 3), (2, 5), (10, 12)),
             o AS (SELECT a, b,
                          max(b) OVER (ORDER BY a, b
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS pe
                   FROM seg)
        SELECT CAST(sum(greatest(b - greatest(a, coalesce(pe, a)), 0))
                    AS DOUBLE) FROM o)                     AS ils,
       (SELECT CAST(quantile_disc(n_nationkey, 0.5) AS DOUBLE)
        FROM nation)                                       AS gkq
FROM region
""")
def ch_sql_round11_batch8(spark, sf):
    """Round-11 batch-8 names on the DuckDB gate: editDistance (duck
    levenshtein), stringJaccardIndexUTF8 (duck jaccard — same char-set
    Jaccard), YYYYMMDDToDate32 (duck make_date), nanIfNull (duck
    coalesce-to-nan twin), toUTCTimestamp/fromUTCTimestamp (wall-clock
    shift pins: Asia/Shanghai is UTC+8, no DST), toIntervalMillisecond
    (duck INTERVAL ... MILLISECONDS — independent), intervalLengthSum
    (duck window-sweep union length — independent construction of the
    same sweep), quantilesGK at high accuracy on 25 ints (exact; duck
    quantile_disc)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "region").createOrReplaceTempView("b8_region")
    load_table(spark, sf, "nation").createOrReplaceTempView("b8_nation")
    return ch_sql(spark, """
        SELECT r_regionkey,
               editDistance('kitten', 'sitting') AS ed,
               stringJaccardIndexUTF8('abc', 'bcd') AS sj,
               CAST(YYYYMMDDToDate32(20240215) AS STRING) AS d32,
               CAST(isNaN(nanIfNull(CAST(NULL AS Float64))) AS Int32)
                   AS nin,
               toUTCTimestamp(toDateTime('2024-02-15 10:00:00'),
                              'Asia/Shanghai') AS toutc,
               fromUTCTimestamp(toDateTime('2024-02-15 10:00:00'),
                                'Asia/Shanghai') AS fromutc,
               toDateTime('2024-02-15 10:00:00')
                   + toIntervalMillisecond(1500) AS msadd,
               (SELECT intervalLengthSum(a, b)
                FROM VALUES (1, 3), (2, 5), (10, 12) AS s(a, b)) AS ils,
               (SELECT CAST(ELEMENT_AT(
                    quantilesGK(10000, 0.5)(n_nationkey), 1)
                    AS Float64)
                FROM b8_nation) AS gkq
        FROM b8_region""")


@register("ch_sql_round11_batch8b", oracle="""
SELECT r_regionkey,
       -- FIPS 180-4 SHA-512/256 test vector for 'abc'
       '53048e2681941ef99b2e29b76b4c7dabe4c2d0c634fc6d46e0e2f13107e7af23'
                                                           AS sha,
       -- SipHash-2-4 paper appendix vector: key 000102..0f, input ''
       8246050544436514353                                 AS sipk,
       -- Java's documented "abc".hashCode()
       96354                                               AS jh,
       -- murmur2(seed 0x9747b28c) of 'test', sign-masked; pinned and
       -- re-derived by an independent reimplementation in tests
       716234879                                           AS kmm,
       -- OpenSSL CLI-derived pin: aes-256-cbc, key/iv below, 'secret'
       'e9b7bd65fef7fdd6fc45ae09610fc6ce'                  AS aes_cbc,
       TRUE                                                AS aes_rt,
       TRUE                                                AS aes_ecb_rt,
       2                                                   AS nk,
       'b'                                                 AS nv,
       TRUE                                                AS tukey_hit,
       0.0                                                 AS tukey_in,
       4.0                                                 AS fftp
FROM region
""")
def ch_sql_round11_batch8b(spark, sf):
    """Round-11 batch 8b: digest/hash vectors pinned to their PUBLISHED
    test values (NIST FIPS 180-4 for SHA-512/256, the SipHash paper's
    appendix vector for sipHash64Keyed, the Java Language Spec
    hashCode example), AES encrypt->decrypt roundtrips (GCM and ECB),
    nested() field access, Tukey outlier scores, FFT period of a clean
    4-sample cycle. The CBC ciphertext is pinned to the OpenSSL
    CLI-derived bytes (the reference encrypts via OpenSSL): the
    encrypt mapping strips Spark's embedded-IV prefix so ciphertexts
    are byte-identical to the reference's external-IV convention."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "region").createOrReplaceTempView(
        "b8b_region")
    return ch_sql(spark, """
        SELECT r_regionkey,
               SHA512_256('abc') AS sha,
               sipHash64Keyed((506097522914230528,
                               1084818905618843912), '') AS sipk,
               javaHashUTF16LE('abc') AS jh,
               kafkaMurmurHash('test') AS kmm,
               lower(hex(encrypt('aes-256-cbc', 'secret',
                       '32byteskey32byteskey32byteskey32',
                       'theiv16bytes!!!!'))) AS aes_cbc,
               decrypt('aes-256-gcm',
                       encrypt('aes-256-gcm', 'secret',
                               '32byteskey32byteskey32byteskey32',
                               'gcm12byteiv!'),
                       '32byteskey32byteskey32byteskey32',
                       'gcm12byteiv!')
                   = CAST('secret' AS BINARY) AS aes_rt,
               tryDecrypt('aes-128-ecb',
                          encrypt('aes-128-ecb', 'hi',
                                  '16byteslongkey!!'),
                          '16byteslongkey!!')
                   = CAST('hi' AS BINARY) AS aes_ecb_rt,
               nested(['k', 'v'], [1, 2], ['a', 'b'])[2].k AS nk,
               nested(['k', 'v'], [1, 2], ['a', 'b'])[2].v AS nv,
               ELEMENT_AT(seriesOutliersDetectTukey(
                   [1.0, 2.0, 1.5, 100.0, 1.2, 1.8]), 4) > 90.0
                   AS tukey_hit,
               ELEMENT_AT(seriesOutliersDetectTukey(
                   [1.0, 2.0, 1.5, 100.0, 1.2, 1.8]), 1) AS tukey_in,
               seriesPeriodDetectFFT(
                   [1.0, 0.0, -1.0, 0.0, 1.0, 0.0, -1.0, 0.0,
                    1.0, 0.0, -1.0, 0.0]) AS fftp
        FROM b8b_region""")


@register("ch_sql_round11_batch8c", oracle="""
SELECT TRUE  AS pois_ok,
       TRUE  AS chisq_ok,
       TRUE  AS t_ok,
       TRUE  AS f_ok,
       TRUE  AS binom_ok,
       TRUE  AS negbin_ok,
       TRUE  AS logn_ok,
       'Int64'        AS vt_int,
       'Float64'      AS vt_float,
       'String'       AS vt_str,
       'Array(Int64)' AS vt_arr,
       'None'         AS vt_null,
       123            AS ve_int
""")
def ch_sql_round11_batch8c(spark, sf):
    """Round-11 batch 8c: the random-distribution tail as MOMENT GATES
    (each |sample mean - analytic mean| bound is ~14 sigma at n=20k, so
    the booleans are deterministic-in-practice like the ANN recall
    gates), plus Variant/Dynamic introspection pins. Analytic means:
    Poisson(4)=4, chi2(5)=5, t(10)=0, F(10,20)=20/18, Binomial(10,.3)=3,
    NegBin(5,.5)=5, LogNormal(0,.5)=exp(.125)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    return ch_sql(spark, """
        SELECT ABS(AVG(pois) - 4.0) < 0.2       AS pois_ok,
               ABS(AVG(chisq) - 5.0) < 0.3      AS chisq_ok,
               ABS(AVG(t)) < 0.15               AS t_ok,
               ABS(AVG(f) - 1.1111) < 0.2       AS f_ok,
               ABS(AVG(binom) - 3.0) < 0.15     AS binom_ok,
               ABS(AVG(negbin) - 5.0) < 0.3     AS negbin_ok,
               ABS(AVG(logn) - 1.1331) < 0.1    AS logn_ok,
               ANY_VALUE(variantType(parse_json('123')))   AS vt_int,
               ANY_VALUE(variantType(parse_json('1.5')))   AS vt_float,
               ANY_VALUE(variantType(parse_json('"x"')))   AS vt_str,
               ANY_VALUE(variantType(parse_json('[1,2]'))) AS vt_arr,
               ANY_VALUE(variantType(parse_json('null')))  AS vt_null,
               ANY_VALUE(variantElement(parse_json('123'), 'Int64'))
                   AS ve_int
        FROM (SELECT randPoisson(4.0) AS pois,
                     randChiSquared(5) AS chisq,
                     randStudentT(10) AS t,
                     randFisherF(10, 20) AS f,
                     randBinomial(10, 0.3) AS binom,
                     randNegativeBinomial(5, 0.5) AS negbin,
                     randLogNormal(0.0, 0.5) AS logn
              FROM RANGE(20000))""")


@register("ch_sql_round11_batch9", oracle="""
SELECT r_regionkey,
       'ab'                          AS cutz,
       0                             AS d_int,
       ''                            AS d_str,
       16909060                      AS ip_ok,
       0                             AS ip_bad,
       3                             AS zun,
       50.0                          AS area,
       30.0                          AS perim,
       90.0                          AS wkt_area,
       4                             AS wkt_n
FROM region
""")
def ch_sql_round11_batch9(spark, sf):
    """Round-11 probe batch 9 on the gate: toStringCutToZero,
    defaultValueOfTypeName, toIPv4OrZero (parse-or-zero in the UInt32
    convention), arrayZipUnaligned null-padding, cartesian polygon
    area (shoelace) / perimeter folds, and the WKT ring parser feeding
    the same folds (POLYGON((1 0, 10 0, 10 10, 1 10)) is a 9x10
    rectangle)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "region").createOrReplaceTempView("b9_region")
    return ch_sql(spark, """
        SELECT r_regionkey,
               toStringCutToZero(CONCAT('ab', CHAR(0), 'cd')) AS cutz,
               defaultValueOfTypeName('Int32') AS d_int,
               defaultValueOfTypeName('String') AS d_str,
               toIPv4OrZero('1.2.3.4') AS ip_ok,
               toIPv4OrZero('not-an-ip') AS ip_bad,
               SIZE(arrayZipUnaligned([1, 2, 3], ['a'])) AS zun,
               polygonAreaCartesian([(0.0, 0.0), (10.0, 0.0),
                                     (10.0, 5.0), (0.0, 5.0)]) AS area,
               polygonPerimeterCartesian(
                   [(0.0, 0.0), (10.0, 0.0),
                    (10.0, 5.0), (0.0, 5.0)]) AS perim,
               polygonAreaCartesian(readWKTPolygon(
                   'POLYGON((1 0, 10 0, 10 10, 1 10))')) AS wkt_area,
               SIZE(readWKTPolygon(
                   'POLYGON((1 0, 10 0, 10 10, 1 10))')) AS wkt_n
        FROM b9_region""")


@register("ch_sql_qualify", oracle="""
SELECT n_regionkey, n_name,
       row_number() OVER (PARTITION BY n_regionkey
                          ORDER BY n_nationkey) AS rn
FROM nation QUALIFY rn <= 2
ORDER BY n_regionkey, rn
""")
def ch_sql_qualify(spark, sf):
    """QUALIFY post-window filter — DuckDB supports QUALIFY natively,
    so this is a true differential oracle (same clause, independent
    engine). Trailing ORDER BY applies after the filter on both
    sides."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "nation").createOrReplaceTempView("q_nation")
    return ch_sql(spark, """
        SELECT n_regionkey, n_name,
               row_number() OVER (PARTITION BY n_regionkey
                                  ORDER BY n_nationkey) AS rn
        FROM q_nation QUALIFY rn <= 2
        ORDER BY n_regionkey, rn""")


@register("ch_sql_star_transformers", oracle="""
SELECT n_nationkey, n_regionkey * 10 AS n_regionkey
FROM nation ORDER BY n_nationkey LIMIT 5
""")
def ch_sql_star_transformers(spark, sf):
    """Select-list column transformers ([U] select * EXCEPT/REPLACE):
    ch_sql resolves the FROM schema lazily and rebuilds the select
    list, so REPLACE expressions run through the normal dialect
    translation; names follow upstream (fn(col) for APPLY). DuckDB has
    EXCLUDE/REPLACE but the oracle here spells the final projection
    directly — an independent construction."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "nation").createOrReplaceTempView("st_nation")
    return ch_sql(spark, """
        SELECT * EXCEPT (n_name)
               REPLACE (n_regionkey * 10 AS n_regionkey)
        FROM st_nation ORDER BY n_nationkey LIMIT 5""")


@register("ch_sql_create_function", oracle="""
SELECT n_nationkey, n_nationkey * 10 + 7 AS lin,
       CAST(n_nationkey * n_nationkey AS BIGINT) AS sq
FROM nation ORDER BY n_nationkey LIMIT 10
""")
def ch_sql_create_function(spark, sf):
    """CREATE FUNCTION name AS (params) -> expr ([U]
    UserDefinedSQLFunctionVisitor — SQL-lambda UDFs): calls expand by
    macro substitution at translate time, so the body's dialect
    functions translate through the normal path, nested UDF calls
    compose, and the oracle spells the arithmetic inline."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    load_table(spark, sf, "nation").createOrReplaceTempView("cf_nation")
    ch_statement(spark, "DROP FUNCTION IF EXISTS __q_lin")
    ch_statement(spark, "DROP FUNCTION IF EXISTS __q_sq")
    ch_statement(spark,
                 "CREATE FUNCTION __q_lin AS (x, k, b) -> k * x + b")
    ch_statement(spark,
                 "CREATE FUNCTION __q_sq AS (x) -> toInt64(x * x)")
    return ch_sql(spark, """
        SELECT n_nationkey, __q_lin(n_nationkey, 10, 7) AS lin,
               __q_sq(n_nationkey) AS sq
        FROM cf_nation ORDER BY n_nationkey LIMIT 10""")


@register("ch_sql_system_functions", oracle="""
SELECT TRUE AS has_quantile, TRUE AS has_summap, TRUE AS many,
       'System' AS org
""")
def ch_sql_system_functions(spark, sf):
    """system.functions ([U] StorageSystemFunctions): the resolvable
    name registry as a queryable table — invariant pins (named entries
    present, surface >900 names) since the exact count moves with
    every batch."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    return ch_sql(spark, """
        SELECT SUM(IF(name = 'quantileGK', 1, 0)) > 0 AS has_quantile,
               SUM(IF(name = 'sumMapFiltered', 1, 0)) > 0 AS has_summap,
               count() > 900 AS many,
               ANY_VALUE(IF(name = 'quantileGK', origin, NULL),
                         TRUE) AS org
        FROM system.functions""")


@register("ch_sql_distinct_on_ordered", oracle="""
SELECT DISTINCT ON (l_orderkey)
       l_orderkey, CAST(l_linenumber AS INT) AS ln, l_extendedprice AS px
FROM lineitem WHERE l_orderkey < 2000
ORDER BY l_orderkey, l_extendedprice DESC, l_linenumber
""")
def ch_sql_distinct_on_ordered(spark, sf):
    """Round-12 verdict item 5: DISTINCT ON with a top-level ORDER BY
    must pick a DETERMINISTIC, oracle-tracking survivor — the query's
    ORDER BY keys feed the LIMIT-1-BY window's ORDER BY, so the first
    row per key under (price DESC, linenumber) survives in both engines
    identically (no seed pinning; l_linenumber breaks price ties).
    DuckDB's native DISTINCT ON is the independent rendering."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "lineitem") \
        .createOrReplaceTempView("don_lineitem")
    return ch_sql(spark, """
        SELECT DISTINCT ON (l_orderkey)
               l_orderkey, CAST(l_linenumber AS INT) AS ln,
               l_extendedprice AS px
        FROM don_lineitem WHERE l_orderkey < 2000
        ORDER BY l_orderkey, l_extendedprice DESC, l_linenumber""")


@register("ch_sql_minhash_tuples", oracle="""
SELECT doc_id, TRUE AS inv_utf8, TRUE AS inv_ci, TRUE AS inv_perm,
       TRUE AS inv_arg_sub, TRUE AS neq_far
FROM documents WHERE doc_id < 300
""")
def ch_sql_minhash_tuples(spark, sf):
    """Round-12 verdict item 6: ngramMinHash*/wordShingleMinHash*
    signature contract, checked via CONSTRUCTIVE invariants (the gram
    hash is xxhash64 — upstream's CRC kernel is engine-specific, so
    bit parity is out of scope; determinism and near-dup behavior are
    the testable surface): UTF8 twin == base; CaseInsensitive is
    case-blind; size-1 word shingles are word-ORDER-invariant (minhash
    over a distinct gram set); *Arg grams are substrings of the text;
    and an unrelated constant string never collides (fixture-exact —
    a flip would be an actual 64-bit hash collision). DuckDB emits the
    expected TRUE per row."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "documents") \
        .createOrReplaceTempView("mh_documents")
    return ch_sql(spark, """
        SELECT doc_id,
               ngramMinHash(text) = ngramMinHashUTF8(text) AS inv_utf8,
               ngramMinHashCaseInsensitive(UPPER(text)) =
                   ngramMinHashCaseInsensitive(text) AS inv_ci,
               wordShingleMinHash(CONCAT_WS(' ',
                   REVERSE(SPLIT(text, ' '))), 1, 4) =
                   wordShingleMinHash(text, 1, 4) AS inv_perm,
               FORALL(ngramMinHashArg(text, 3, 2)._1,
                      __g -> INSTR(text, __g) > 0) AS inv_arg_sub,
               ngramMinHash(text)._1 !=
                   ngramMinHash(REPEAT('z', 40))._1 AS neq_far
        FROM mh_documents WHERE doc_id < 300""")


@register("ch_sql_aes_stream", oracle="""
SELECT doc_id, TRUE AS rt_ctr, TRUE AS rt_ofb, TRUE AS rt_cfb8,
       TRUE AS len_eq, TRUE AS ct_differs
FROM documents WHERE doc_id < 100
""")
def ch_sql_aes_stream(spark, sf):
    """Round 12: aes-*-ctr/ofb/cfb stream modes (the former 'no Spark
    carrier' refusal) via the cryptography-backed __aes_stream UDF —
    OpenSSL keystreams, byte-parity pinned against the library in
    tests/test_advice_r12.py. Oracle invariants per doc: decrypt ∘
    encrypt is identity, ciphertext length equals plaintext length
    (stream modes pad nothing), and the ciphertext differs from the
    plaintext (keystream is never all-zero for this key/iv — fixture-
    exact)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "documents") \
        .createOrReplaceTempView("aes_documents")
    return ch_sql(spark, """
        SELECT doc_id,
               CAST(decrypt('aes-256-ctr',
                    encrypt('aes-256-ctr', text, k, v), k, v)
                    AS STRING) = text AS rt_ctr,
               CAST(decrypt('aes-256-ofb',
                    encrypt('aes-256-ofb', text, k, v), k, v)
                    AS STRING) = text AS rt_ofb,
               CAST(decrypt('aes-128-cfb8',
                    encrypt('aes-128-cfb8', text, SUBSTRING(k, 1, 16),
                            v), SUBSTRING(k, 1, 16), v)
                    AS STRING) = text AS rt_cfb8,
               LENGTH(encrypt('aes-256-ctr', text, k, v)) =
                   LENGTH(CAST(text AS BINARY)) AS len_eq,
               encrypt('aes-256-ctr', text, k, v) !=
                   CAST(text AS BINARY) AS ct_differs
        FROM (SELECT doc_id, text,
                     '32byteskey32byteskey32byteskey32' AS k,
                     'theiv16bytes!!!!' AS v
              FROM aes_documents WHERE doc_id < 100)""")


@register("ch_sql_json_merge_patch", oracle="""
WITH j AS (
  SELECT event_id,
         '{"a":' || CAST(event_id AS VARCHAR) ||
           ',"b":{"x":' || CAST(user_id AS VARCHAR) || '},"r":1}' AS t,
         '{"b":{"y":' || CAST(user_id % 7 AS VARCHAR) ||
           '},"r":null,"c":"z"}' AS p
  FROM events WHERE event_id < 500)
SELECT event_id,
       CAST(json_extract_string(json_merge_patch(t, p), '$.a')
            AS BIGINT) AS a,
       CAST(json_extract_string(json_merge_patch(t, p), '$.b.x')
            AS BIGINT) AS bx,
       CAST(json_extract_string(json_merge_patch(t, p), '$.b.y')
            AS BIGINT) AS by,
       json_extract_string(json_merge_patch(t, p), '$.r') AS r,
       json_extract_string(json_merge_patch(t, p), '$.c') AS c
FROM j
""")
def ch_sql_json_merge_patch(spark, sf):
    """Round 12: JSONMergePatch (RFC 7386, former refusal) —
    field-extracted differential against DuckDB's native
    json_merge_patch over per-row constructed documents: recursive
    object merge (b.x survives, b.y arrives), null removal (r), and a
    plain add (c). Extraction (not raw-string compare) keeps the check
    key-order-independent."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "events").createOrReplaceTempView("jmp_events")
    return ch_sql(spark, """
        WITH j AS (
          SELECT event_id,
                 CONCAT('{"a":', CAST(event_id AS STRING),
                        ',"b":{"x":', CAST(user_id AS STRING),
                        '},"r":1}') AS t,
                 CONCAT('{"b":{"y":', CAST(user_id % 7 AS STRING),
                        '},"r":null,"c":"z"}') AS p
          FROM jmp_events WHERE event_id < 500)
        SELECT event_id,
               JSONExtractInt(JSONMergePatch(t, p), 'a') AS a,
               JSONExtractInt(JSONExtractRaw(
                   JSONMergePatch(t, p), 'b'), 'x') AS bx,
               JSONExtractInt(JSONExtractRaw(
                   JSONMergePatch(t, p), 'b'), 'y') AS by,
               JSONExtractString(JSONMergePatch(t, p), 'r') AS r,
               JSONExtractString(JSONMergePatch(t, p), 'c') AS c
        FROM j""")


@register("ch_sql_normalized_gini", oracle="""
WITH e AS (
  SELECT user_id % 8 AS g, CAST(event_id % 97 AS DOUBLE) AS p,
         CAST(event_id % 3 = 0 AS INT) AS l
  FROM events WHERE event_id < 2000),
r AS (
  SELECT g, l, SUM(l) OVER (PARTITION BY g ORDER BY p DESC, l
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM e),
a AS (SELECT g, SUM(cum) AS scum, SUM(l) AS tot, COUNT(*) AS n
      FROM r GROUP BY g),
rl AS (
  SELECT g, SUM(l) OVER (PARTITION BY g ORDER BY l DESC, p
                         ROWS UNBOUNDED PRECEDING) AS cuml
  FROM e),
al AS (SELECT g, SUM(cuml) AS scuml FROM rl GROUP BY g)
SELECT a.g AS g,
       round((scum / tot - (n + 1) / 2.0) / n, 8) AS gp,
       round((scuml / tot - (n + 1) / 2.0) / n, 8) AS gl,
       round(((scum / tot - (n + 1) / 2.0) / n)
             / ((scuml / tot - (n + 1) / 2.0) / n), 8) AS ng
FROM a JOIN al ON a.g = al.g
""")
def ch_sql_normalized_gini(spark, sf):
    """Round 12: arrayNormalizedGini (former refusal) — per-group
    arrays of predicted keys + 0/1 labels, replayed by DuckDB as
    UNNEST-free window algebra (cumulative label sums over the
    descending key order). Round 13: keys now REPEAT (event_id % 97)
    to exercise the total tie-break (key DESC, other field ASC) on
    both sides — COLLECT_LIST's order nondeterminism must not leak
    through ties (r12 advisor finding)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "events").createOrReplaceTempView("ng_events")
    return ch_sql(spark, """
        WITH arr AS (
          SELECT user_id % 8 AS g,
                 groupArray(CAST(event_id % 97 AS Float64)) AS ps,
                 groupArray(CAST(CAST(event_id % 3 = 0 AS INT)
                                 AS Float64)) AS ls
          FROM ng_events WHERE event_id < 2000
          GROUP BY user_id % 8)
        SELECT g,
               round(arrayNormalizedGini(ps, ls)._1, 8) AS gp,
               round(arrayNormalizedGini(ps, ls)._2, 8) AS gl,
               round(arrayNormalizedGini(ps, ls)._3, 8) AS ng
        FROM arr""")


@register("ch_sql_siphash128", oracle="""
SELECT 'a3817f04ba25a8e66df67214c7550293' AS ref_keyed_empty,
       'da87c1d86b99af44347659119b22fc45' AS ref_keyed_1b,
       CAST(32 AS BIGINT) AS legacy_len,
       CAST(32 AS BIGINT) AS ref_len,
       CAST(1 AS BIGINT) AS legacy_distinct
""")
def ch_sql_siphash128(spark, sf):
    """Round 13 (former refusal): sipHash128 family. The reference
    variant is pinned to the PUBLISHED vectors_sip128 test vectors
    (SipHash reference implementation, key bytes 00..0f = (k0, k1)
    below; inputs '' and '\\x00') — real cross-engine constants, not a
    twin replay. The legacy variant ([U] src/Common/SipHash.h get128)
    has no public vector; its xor-of-halves == sipHash64 inheritance
    is pinned in pytest, here only shape-checked."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    return ch_sql(spark, """
        SELECT sipHash128ReferenceKeyed(
                   (506097522914230528, 1084818905618843912),
                   '') AS ref_keyed_empty,
               sipHash128ReferenceKeyed(
                   (506097522914230528, 1084818905618843912),
                   char(0)) AS ref_keyed_1b,
               length(sipHash128('abc')) AS legacy_len,
               length(sipHash128Reference('abc')) AS ref_len,
               CAST(sipHash128('abc') != sipHash128('abd') AS BIGINT)
                   AS legacy_distinct""")


@register("ch_sql_series_stl", oracle="""
WITH e AS (
  SELECT user_id % 4 AS g, event_id,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE event_id < 400),
a AS (SELECT g, COUNT(*) AS n FROM e GROUP BY g)
SELECT g, n, CAST(1 AS BIGINT) AS recon_ok,
       CAST(1 AS BIGINT) AS len_ok,
       CAST(1 AS BIGINT) AS baseline_ok
FROM a
""")
def ch_sql_series_stl(spark, sf):
    """Round 13 (former refusal): seriesDecomposeSTL. DuckDB cannot run
    STL, so the oracle pins the decomposition CONTRACT as constants —
    exact reconstruction (seasonal + trend + residue == input to 1e-6),
    all four component arrays sized like the input, baseline ==
    seasonal + trend — plus the series length n, which DuckDB derives
    independently from the same rows (catches dropped elements).
    Component-recovery quality is pinned in pytest on a synthetic
    series with known parts."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "events").createOrReplaceTempView("stl_events")
    return ch_sql(spark, """
        WITH arr AS (
          SELECT user_id % 4 AS g,
                 groupArraySorted(400)(named_struct(
                     'k', event_id,
                     'v', CAST(value AS Float64))) AS pts
          FROM stl_events WHERE event_id < 400 GROUP BY user_id % 4),
        d AS (
          SELECT g, arrayMap(x -> x.v, pts) AS v,
                 seriesDecomposeSTL(arrayMap(x -> x.v, pts), 12) AS c
          FROM arr)
        SELECT g, CAST(size(v) AS BIGINT) AS n,
               CAST(round(arrayMax(arrayMap((x, i) ->
                        abs(x - (c[1][i] + c[2][i] + c[3][i])),
                        v, arrayEnumerate(v))), 6) = 0 AS BIGINT)
                   AS recon_ok,
               CAST(size(c[1]) = size(v) AND size(c[2]) = size(v)
                    AND size(c[3]) = size(v) AND size(c[4]) = size(v)
                    AS BIGINT) AS len_ok,
               CAST(round(arrayMax(arrayMap((b, i) ->
                        abs(b - (c[1][i] + c[2][i])),
                        c[4], arrayEnumerate(c[4]))), 9) = 0
                    AS BIGINT) AS baseline_ok
        FROM d""")


@register("ch_sql_jump_hash", oracle="""
SELECT CAST(1 AS BIGINT) AS in_range,
       CAST(0 AS BIGINT) AS moved_wrong,
       CAST(32 AS BIGINT) AS used
""")
def ch_sql_jump_hash(spark, sf):
    """Round 13 (former refusal): jumpConsistentHash — the published
    Lamport-Veach 2014 paper algorithm. The oracle pins the paper's
    DEFINING properties over the full events key set: every bucket in
    [0, n); growing n -> n+1 never moves a key to any bucket except
    the NEW one (minimal-disruption consistency, the reason the
    function exists); all 32 buckets populated (uniformity at this
    key count — event_id is distinct per row, so coverage is
    overwhelming at every fixture sf)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    load_table(spark, sf, "events").createOrReplaceTempView("jh_events")
    return ch_sql(spark, """
        WITH b AS (
          SELECT jumpConsistentHash(xxHash64(CAST(event_id AS String)),
                                    32) AS b32,
                 jumpConsistentHash(xxHash64(CAST(event_id AS String)),
                                    33) AS b33
          FROM jh_events)
        SELECT CAST(SUM(CAST(b32 >= 0 AND b32 < 32 AND b33 >= 0
                             AND b33 < 33 AS INT)) = COUNT(*) AS BIGINT)
                   AS in_range,
               CAST(SUM(CAST(b33 != b32 AND b33 != 32 AS INT))
                   AS BIGINT) AS moved_wrong,
               CAST(COUNT(DISTINCT b32) AS BIGINT) AS used
        FROM b""")


@register("ch_sql_ulid", oracle="""
SELECT CAST(100 AS BIGINT) AS n_distinct,
       CAST(1 AS BIGINT) AS all_wellformed,
       CAST(1 AS BIGINT) AS ts_current
""")
def ch_sql_ulid(spark, sf):
    """Round 13 (former refusals): generateULID +
    ULIDStringToDateTime. Contract oracle: 100 generated ULIDs are
    distinct (80 random bits), 26-char Crockford-well-formed, and
    decode (via ULIDStringToDateTime, the Horner base32 fold) to a
    timestamp within 5 minutes of the session clock."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    return ch_sql(spark, """
        WITH u AS (SELECT generateULID() AS ulid FROM numbers(100))
        SELECT CAST(COUNT(DISTINCT ulid) AS BIGINT) AS n_distinct,
               CAST(SUM(CAST(ulid RLIKE '^[0-9A-HJKMNP-TV-Z]{26}$'
                             AS INT)) = 100 AS BIGINT)
                   AS all_wellformed,
               CAST(SUM(CAST(abs(CAST(ULIDStringToDateTime(ulid)
                                      AS DOUBLE)
                             - CAST(current_timestamp() AS DOUBLE))
                             < 300 AS INT)) = 100 AS BIGINT)
                   AS ts_current
        FROM u""")


@register("ch_sql_scalar_tail_r14c", oracle="""
SELECT doc_id AS k,
       source AS b58_rt,
       '' AS b58_bad,
       CAST(len(regexp_extract_all(upper(text), '(?i)the')) AS BIGINT)
           AS cm_ci,
       CAST(0 AS BIGINT) AS cm_cs,
       CASE WHEN doc_id % 2 = 0
            THEN 'www.d' || CAST(doc_id AS VARCHAR) || '.com'
            ELSE 'd' || CAST(doc_id AS VARCHAR) || '.com' END AS fsd_www,
       'd' || CAST(doc_id AS VARCHAR) || '.com' AS fsd_cut,
       to_json(list_transform(
           [(n_chars + 0.0) / 1.2999953::DOUBLE, (doc_id % 7) - 2.7000011::DOUBLE, 3.3000007::DOUBLE],
           x -> printf('%.6f', x / (abs((n_chars + 0.0) / 1.2999953::DOUBLE)
                + abs((doc_id % 7) - 2.7000011::DOUBLE) + 3.3000007::DOUBLE) + 0.0))) AS l1n,
       to_json(list_transform(
           [(n_chars + 0.0) / 1.2999953::DOUBLE, (doc_id % 7) - 2.7000011::DOUBLE, 3.3000007::DOUBLE],
           x -> printf('%.6f', x / sqrt(((n_chars + 0.0) / 1.2999953::DOUBLE)
                * ((n_chars + 0.0) / 1.2999953::DOUBLE) + ((doc_id % 7) - 2.7000011::DOUBLE)
                * ((doc_id % 7) - 2.7000011::DOUBLE) + 3.3000007::DOUBLE * 3.3000007::DOUBLE) + 0.0))) AS l2n
FROM documents
WHERE doc_id < 500
""")
def ch_sql_scalar_tail_r14c(spark, sf):
    """Round-14 second resolve-probe closures (the four genuine misses
    of the 192-name sweep): tryBase58Decode ([U]
    src/Functions/FunctionBase58Conversion.h try form — roundtrip plus
    the empty-string error contract), countMatchesCaseInsensitive
    ([U] src/Functions/countMatches.h — vs its case-sensitive twin on
    the same uppercased text), cutToFirstSignificantSubdomainWithWWW
    ([U] src/Functions/URL/ExtractFirstSignificantSubdomain.h
    keep_www), and L1Normalize/L2Normalize ([U]
    src/Functions/vectorFunctions.cpp — %.6f-JSON serialized per the
    shapes.py driver-gate convention). The deliberately messy
    1.2999953/2.7000011/3.3000007 constants keep the norm nonzero AND
    every quotient clear of %.6f rendering ties: round constants put
    quotients ON 6-dp half-boundaries three separate ways (3/384
    dyadic-exact; 1.7+3.3 double errors CANCELLING to an exact 5.0
    norm; 78/1.3 ROUNDING to exactly 60.0), where Java — which rounds
    the shortest round-trip digits — and C printf — which rounds the
    exact binary value — disagree (see shapes.fmt_double_array). The
    oracle replays base58/FSD constructively (DuckDB has neither),
    the normalizations by the same left-to-right fold arithmetic, and
    casts its float literals ::DOUBLE (bare 2.7 is DECIMAL(2,1) in
    DuckDB — decimal-exact arithmetic diverges from Spark's
    doubles)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.shapes import json_double_arrays

    load_table(spark, sf, "documents").createOrReplaceTempView(
        "documents")
    return json_double_arrays(ch_sql(spark, """
        SELECT doc_id AS k,
               tryBase58Decode(base58Encode(source)) AS b58_rt,
               tryBase58Decode(concat(source, '!')) AS b58_bad,
               toInt64(countMatchesCaseInsensitive(upper(text), 'the'))
                   AS cm_ci,
               toInt64(countMatches(upper(text), 'the')) AS cm_cs,
               cutToFirstSignificantSubdomainWithWWW(
                   concat('https://', if(doc_id % 2 = 0, 'www.', ''),
                          'd', toString(doc_id), '.com/x')) AS fsd_www,
               cutToFirstSignificantSubdomain(
                   concat('https://', if(doc_id % 2 = 0, 'www.', ''),
                          'd', toString(doc_id), '.com/x')) AS fsd_cut,
               L1Normalize([toFloat64(n_chars) / 1.2999953,
                            toFloat64(doc_id % 7) - 2.7000011, 3.3000007]) AS l1n,
               L2Normalize([toFloat64(n_chars) / 1.2999953,
                            toFloat64(doc_id % 7) - 2.7000011, 3.3000007]) AS l2n
        FROM documents
        WHERE doc_id < 500"""), "l1n", "l2n")


@register("ch_sql_probe_r14d", oracle="""
SELECT n_nationkey AS k,
       to_json(list_filter([1, 2, 3], i ->
           regexp_matches(n_name, ['^A', 'IA$', 'R'][i]))) AS mmai,
       (len(list_filter(['ar', 'IA'], n ->
           contains(lower(n_name), lower(n)))) > 0) AS ms_ci,
       CAST(COALESCE(list_position(list_transform([2, 4, 6], x ->
           x > n_nationkey % 5), true), 0) AS BIGINT) AS afi,
       CAST(strptime('2024-02-29 10:30', '%Y-%m-%d %H:%M')
            AS TIMESTAMP) AS pj,
       CAST(n_nationkey + 1 AS BIGINT) AS idn,
       CAST(3017643002 AS BIGINT) AS mm3_abc,
       CAST(324500635 AS BIGINT) AS mm2s_abc,
       CAST(-7148968302806999301 AS BIGINT) AS mm2l_abc
FROM nation
""")
def ch_sql_probe_r14d(spark, sf):
    """Round-14 probe-batch-2 closures: multiMatchAllIndices (1-based
    matching-pattern indices, [U] src/Functions/MultiMatchAllIndices
    Impl.h — JSON-serialized per shapes.py), multiSearchAnyCase
    Insensitive, arrayFirstIndex (0 when no match), parseDateTimeIn
    JodaSyntax (Spark's native pattern dialect IS the Joda-descended
    JDK one; the oracle replays via strptime's C formats), identity
    (upstream's optimizer barrier — a no-op here), and the murmur
    dialect names as pinned literals: murmurHash3_32 is externally
    verified (published vectors + Spark-builtin differential,
    tests/test_probe_r14b.py) so its 'abc' pin is parity; the
    murmurHash2_32/64 pins are kernel-stability contracts (murmur2
    has no independent implementation in this environment — the
    32-bit kernel is tied to the Kafka-vector-pinned kafka_murmur2
    by a shared-kernel test)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.shapes import json_arrays

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    return json_arrays(ch_sql(spark, """
        SELECT n_nationkey AS k,
               multiMatchAllIndices(n_name, ['^A', 'IA$', 'R']) AS mmai,
               multiSearchAnyCaseInsensitive(n_name, ['ar', 'IA'])
                   AS ms_ci,
               toInt64(arrayFirstIndex(x -> x > n_nationkey % 5,
                                       [2, 4, 6])) AS afi,
               parseDateTimeInJodaSyntax('2024-02-29 10:30',
                                         'yyyy-MM-dd HH:mm') AS pj,
               toInt64(identity(n_nationkey) + 1) AS idn,
               murmurHash3_32('abc') AS mm3_abc,
               murmurHash2_32('abc') AS mm2s_abc,
               murmurHash2_64('abc') AS mm2l_abc
        FROM nation"""), "mmai")
