"""Write path / formats / mutations tests (SURVEY.md §2.1, §3.2)."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.ch_sql import ch_statement
from clickhouse_clickhouse_spark.sources.formats import read_any, write_any
from clickhouse_clickhouse_spark.sources.write import (
    insert_partitioned, optimize_compact,
)


@pytest.fixture
def sample(spark):
    return spark.createDataFrame(
        [(i, i % 3, float(i) * 1.5, f"row{i}") for i in range(100)],
        "id long, part int, val double, name string")


def test_insert_partitioned_layout_and_roundtrip(spark, sample, tmp_path):
    path = str(tmp_path / "t")
    insert_partitioned(sample, path, partition_by=["part"], sort_by=["id"])
    back = spark.read.parquet(path)
    assert back.count() == 100
    # partition dirs exist -> partition pruning is a directory skip
    import os
    assert sorted(d for d in os.listdir(path) if d.startswith("part=")) == \
        ["part=0", "part=1", "part=2"]
    # pruned read touches one partition only
    assert back.filter(F.col("part") == 1).count() == 33


def test_format_roundtrips(spark, sample, tmp_path):
    for fmt in ("parquet", "orc", "csv", "json", "xml"):
        p = str(tmp_path / fmt)
        write_any(sample, p, fmt)
        back = read_any(spark, p, fmt, schema=sample.schema if fmt != "csv" else None)
        assert back.count() == 100, fmt
        got = {r.id for r in back.select("id").collect()}
        assert got == set(range(100)), fmt


def test_format_needs_jars_raises(spark, sample, tmp_path):
    with pytest.raises(NotImplementedError):
        write_any(sample, str(tmp_path / "x"), "delta")
    with pytest.raises(ValueError):
        write_any(sample, str(tmp_path / "x"), "bogus")
    # avro no longer gates (round-5 from-scratch codec): full round trip
    from clickhouse_clickhouse_spark.sources.formats import read_any

    p = str(tmp_path / "a")
    write_any(sample, p, "avro")
    back = read_any(spark, p, "avro")
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, sample.collect()))


@pytest.fixture
def sample_table(spark, sample, data_dir):
    """``sample`` in a file-backed MergeTree table partitioned by
    ``part``; yields the table's directory."""
    sample.createOrReplaceTempView("src_sample")
    ch_statement(spark, "CREATE TABLE src_mut (id Int64, part Int32, "
                        "val Float64, name String) ENGINE = MergeTree "
                        "PARTITION BY part ORDER BY id")
    ch_statement(spark, "INSERT INTO src_mut SELECT * FROM src_sample")
    yield data_dir / "src_mut"
    ch_statement(spark, "DROP TABLE src_mut")


def test_alter_update_rewrites_parts(spark, sample_table):
    ch_statement(spark, "ALTER TABLE src_mut UPDATE val = -1.0 "
                        "WHERE id < 10")
    for back in (spark.table("src_mut"),
                 spark.read.parquet(str(sample_table))):
        assert back.filter(F.col("val") == -1.0).count() == 10
        assert back.count() == 100


def test_alter_delete_empties_partition(spark, sample_table):
    ch_statement(spark, "ALTER TABLE src_mut DELETE WHERE part = 0")
    back = spark.table("src_mut")
    assert back.count() == 66
    assert back.filter(F.col("part") == 0).count() == 0
    assert sorted(d.name for d in sample_table.iterdir()
                  if d.name.startswith("part=")) == ["part=1", "part=2"]


def test_alter_update_leaves_no_side_directory(spark, data_dir):
    # the rewrite writes aside and swaps: neither the new parts' staging
    # directory nor the replaced parts stay behind
    ch_statement(spark, "CREATE TABLE src_swap (id Int64, v Int32) "
                        "ENGINE = MergeTree ORDER BY id")
    ch_statement(spark, "INSERT INTO src_swap VALUES " + ", ".join(
        f"({i}, 1)" for i in range(10)))
    ch_statement(spark, "ALTER TABLE src_swap UPDATE v = 2 WHERE id > 5")
    assert sorted(p.name for p in data_dir.iterdir()) == ["src_swap"]
    assert spark.read.parquet(str(data_dir / "src_swap")) \
        .filter("v = 2").count() == 4
    ch_statement(spark, "DROP TABLE src_swap")


def test_optimize_compact(spark, sample, tmp_path):
    path = str(tmp_path / "t")
    sample.repartition(8).write.parquet(path)
    optimize_compact(spark, path, sort_by=["id"])
    back = spark.read.parquet(path)
    assert back.count() == 100
    import glob
    assert len(glob.glob(path + "/*.parquet")) == 1


def test_write_compression_codecs(spark, sample, tmp_path):
    import glob
    for codec, ext in [("zstd", ".zstd.parquet"), ("gzip", ".gz.parquet")]:
        p = str(tmp_path / f"c_{codec}")
        write_any(sample, p, "parquet", compression=codec)
        files = glob.glob(p + "/*.parquet")
        assert files and any(ext in f for f in files), (codec, files)
        assert spark.read.parquet(p).count() == 100


def test_bloom_filter_skip_index(spark, sample, tmp_path):
    """bloom_filter skip-index analog: the parquet footer carries a bloom
    filter for the flagged column, and point lookups still read correctly."""
    path = str(tmp_path / "bf")
    insert_partitioned(sample, path, sort_by=["id"],
                       bloom_filter_cols=["name"])
    assert spark.read.parquet(path).filter(F.col("name") == "row42").count() == 1
    # bloom filter bytes make the flagged file strictly larger than an
    # identical write without it (pyarrow in this env doesn't expose the
    # bloom offset in metadata, so compare footprints)
    import glob, os
    plain = str(path) + "_plain"
    insert_partitioned(sample, plain, sort_by=["id"])
    size_bf = sum(os.path.getsize(f) for f in glob.glob(path + "/*.parquet"))
    size_plain = sum(os.path.getsize(f) for f in glob.glob(plain + "/*.parquet"))
    assert size_bf > size_plain


def test_system_tables_surface(spark, sf_dir, tmp_path):
    from clickhouse_clickhouse_spark.sources.system_tables import (
        apply_ch_settings, system_columns, system_numbers, system_one,
        system_parts, system_settings, system_tables,
    )

    assert system_one(spark).collect() == [Row(dummy=0)]
    assert system_numbers(spark, 5).agg(F.sum("number")).collect()[0][0] == 10

    spark.createDataFrame([(1, "x")], "k int, v string") \
         .createOrReplaceTempView("sys_probe")
    tables = system_tables(spark)
    assert tables.filter(F.col("name") == "sys_probe").count() == 1
    cols = {r.name: r.type for r in
            system_columns(spark, "sys_probe").collect()}
    assert cols == {"k": "int", "v": "string"}

    path = str(tmp_path / "pt")
    spark.read.parquet(f"{sf_dir}/nation.parquet") \
         .write.partitionBy("n_regionkey").parquet(path)
    parts = system_parts(spark, path, table="nation")
    rows = parts.collect()
    assert len(rows) >= 5 and all(r.bytes_on_disk > 0 for r in rows)
    assert parts.agg(F.sum("rows")).collect()[0][0] == 25

    assert system_settings(spark).filter(
        F.col("name") == "spark.sql.shuffle.partitions").count() == 1

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    applied = apply_ch_settings(
        spark, {"max_bytes_in_join_to_broadcast": 12345678})
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "12345678"
    assert applied["max_bytes_in_join_to_broadcast"][0] == \
        "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    try:
        apply_ch_settings(spark, {"definitely_unknown": 1})
        raise AssertionError("should have raised")
    except KeyError:
        pass


def test_partition_attach_detach_drop(spark, sf_dir, tmp_path):
    from clickhouse_clickhouse_spark.sources.write import (
        attach_partition, detach_partition, drop_partition,
    )

    path = str(tmp_path / "adm")
    spark.read.parquet(f"{sf_dir}/nation.parquet") \
         .write.partitionBy("n_regionkey").parquet(path)
    assert spark.read.parquet(path).count() == 25

    detach_partition(path, "n_regionkey", 2)
    assert spark.read.option("basePath", path).parquet(path).count() == 20
    attach_partition(path, "n_regionkey", 2)
    assert spark.read.parquet(path).count() == 25
    drop_partition(path, "n_regionkey", 2)
    assert spark.read.parquet(path).count() == 20


def test_column_ttl_nulls_expired_columns(spark, tmp_path):
    import datetime

    from clickhouse_clickhouse_spark.sources.write import apply_column_ttl

    T0 = datetime.datetime(2024, 1, 1)
    rows = [(i, T0 + datetime.timedelta(days=i), f"pii{i}", float(i))
            for i in range(6)]
    path = str(tmp_path / "ttl")
    spark.createDataFrame(rows, "k int, ts timestamp, pii string, v double") \
         .write.parquet(path)
    apply_column_ttl(spark, path, "ts",
                     F.lit(T0 + datetime.timedelta(days=3)), ["pii"])
    out = {r.k: (r.pii, r.v) for r in spark.read.parquet(path).collect()}
    assert all(out[k][0] is None for k in (0, 1, 2))      # expired: nulled
    assert all(out[k][0] == f"pii{k}" for k in (3, 4, 5))  # fresh: kept
    assert all(out[k][1] == float(k) for k in range(6))    # other col intact


def test_sort_projection_routing_and_pruning(spark, sf_dir, tmp_path):
    from clickhouse_clickhouse_spark.plans.sort_projection import (
        SortProjection, route_scan,
    )

    base = spark.read.parquet(f"{sf_dir}/orders.parquet")
    proj = SortProjection(path=str(tmp_path / "by_cust"),
                          order_by=("o_custkey",))
    proj.build(base)

    routed = route_scan(spark, base, [proj], ["o_custkey"])
    got = routed.filter(F.col("o_custkey") == 371) \
                .agg(F.count("*"), F.sum("o_totalprice")).collect()
    want = base.filter(F.col("o_custkey") == 371) \
               .agg(F.count("*"), F.sum("o_totalprice")).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # routes back to base when keys don't match
    assert route_scan(spark, base, [proj], ["o_orderdate"]) is base


def test_optimize_deduplicate_rewrites_parts(spark, data_dir):
    ch_statement(spark, "CREATE TABLE src_dedup (k Int64, s String, "
                        "v Int64) ENGINE = MergeTree ORDER BY k")
    ch_statement(spark, "INSERT INTO src_dedup VALUES (1, 'a', 5), "
                        "(1, 'a', 5), (1, 'b', 9), (2, 'a', 7)")
    parts = str(data_dir / "src_dedup")
    # all-columns dedup drops only the exact-duplicate row
    ch_statement(spark, "OPTIMIZE TABLE src_dedup DEDUPLICATE")
    assert sorted(tuple(r) for r in spark.read.parquet(parts).collect()) \
        == [(1, "a", 5), (1, "b", 9), (2, "a", 7)]
    # keyed dedup keeps one row per k
    ch_statement(spark, "OPTIMIZE TABLE src_dedup DEDUPLICATE BY k")
    for back in (spark.table("src_dedup"), spark.read.parquet(parts)):
        assert sorted(r.k for r in back.collect()) == [1, 2]
    ch_statement(spark, "DROP TABLE src_dedup")


def test_modify_column_type(spark, tmp_path):
    from clickhouse_clickhouse_spark.sources.write import modify_column_type

    p = str(tmp_path / "t")
    spark.createDataFrame([(1, "a", 5), (1, "b", 9), (2, "a", 7)],
                          "k long, s string, v long").write.parquet(p)
    # MODIFY COLUMN v -> reference type name maps through types_map
    modify_column_type(spark, p, "v", "Float64")
    assert dict(spark.read.parquet(p).dtypes)["v"] == "double"
    assert {r.v for r in spark.read.parquet(p).collect()} == {5.0, 7.0, 9.0}


def test_system_formats(spark):
    from clickhouse_clickhouse_spark.sources.system_tables import (
        system_formats,
    )

    f = {r.name: (r.is_output, r.is_input)
         for r in system_formats(spark).collect()}
    assert f["JSONEachRow"] == (True, True)
    assert f["Regexp"] == (False, True)
    assert f["Pretty"] == (True, False)
    assert len(f) >= 20


def test_system_query_log(spark):
    """system.query_log records dialect statements with normalized
    forms, queryable from dialect SQL itself."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    spark.createDataFrame([(1,)], "k int") \
        .createOrReplaceTempView("__ql_t")
    ch_sql(spark, "SELECT k FROM __ql_t WHERE k = 42")
    ch_statement(spark, "DESCRIBE __ql_t")
    log = ch_sql(spark, "SELECT query_kind, normalized_query "
                        "FROM system.query_log").collect()
    kinds = [r.query_kind for r in log]
    assert "Select" in kinds and "Describe" in kinds
    assert any(r.normalized_query == "SELECT k FROM __ql_t WHERE k = ?"
               for r in log)
    # repeated parameterized calls share one normalized form
    ch_sql(spark, "SELECT k FROM __ql_t WHERE k = 77")
    log2 = ch_sql(spark, "SELECT count() AS n FROM system.query_log "
                         "WHERE normalized_query = "
                         "'SELECT k FROM __ql_t WHERE k = ?'").collect()
    assert log2[0].n >= 2


def test_arrow_ipc_roundtrip(spark, sf_dir, tmp_path):
    """Arrow IPC format: per-partition IPC files round-trip through
    write_any/read_any with schema inference from the file footer."""
    from clickhouse_clickhouse_spark.sources.formats import (
        read_any,
        write_any,
    )
    from clickhouse_clickhouse_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice")
    p = str(tmp_path / "arrow")
    write_any(o, p, "arrow")
    back = read_any(spark, p, "arrow")
    assert sorted(map(str, back.collect())) == \
        sorted(map(str, o.collect()))


# sources/ codec and format regressions

PROTO = "message M { uint64 a = 1; }"


def test_avro_null_last_union_decodes(spark):
    """Foreign writers may order unions [T, "null"]; the decoder
    previously hardcoded null-first and decoded every present value as
    NULL (and vice versa)."""
    from clickhouse_clickhouse_spark.sources.avro import (
        _avro_json_fields, _decode_block)

    sch = ('{"type":"record","name":"r","fields":'
           '[{"name":"x","type":["long","null"]}]}')
    fields = _avro_json_fields(sch)
    assert fields == [("x", "long", None, 2)]
    # null-LAST wire form: union idx 0x00 = present, 0x02 = null
    buf = np.frombuffer(bytes([0x00, 0x0A, 0x02, 0x00, 0x0C]),
                        dtype=np.uint8)
    out = _decode_block(buf, fields, 3)
    assert list(out["x"]) == [5, None, 6]
    # our own writer's null-FIRST form still decodes identically
    sch2 = ('{"type":"record","name":"r","fields":'
            '[{"name":"x","type":["null","long"]}]}')
    f2 = _avro_json_fields(sch2)
    assert f2 == [("x", "long", None, 1)]
    buf2 = np.frombuffer(bytes([0x02, 0x0A, 0x00, 0x02, 0x0C]),
                         dtype=np.uint8)
    out2 = _decode_block(buf2, f2, 3)
    assert list(out2["x"]) == [5, None, 6]


def test_avro_null_timestamp_next_to_extreme_double(spark, tmp_path):
    """Logical conversion ran on speculative garbage of masked rows
    BEFORE null-masking — a NULL timestamp followed by an extreme
    double raised OutOfBoundsDatetime on a correctly written file."""
    import datetime as dt

    from clickhouse_clickhouse_spark.sources.avro import (
        read_avro, write_avro)

    rows = [(dt.datetime(2024, 1, 1), 1.5), (None, -1e300),
            (dt.datetime(2024, 6, 1), -1e300)]
    df = spark.createDataFrame(rows, "ts timestamp, x double")
    p = str(tmp_path / "a")
    write_avro(df, p).collect()
    back = read_avro(spark, p).orderBy("x", "ts").collect()
    assert [r.ts for r in back if r.ts is None] == [None]
    assert sorted(r.x for r in back) == [-1e300, -1e300, 1.5]


def test_csv_read_with_schema_skips_header(spark, tmp_path):
    from clickhouse_clickhouse_spark.sources.formats import (
        read_any, write_any)

    df = spark.range(10).withColumn("s", F.lit("v"))
    p = str(tmp_path / "c")
    write_any(df, p, "csv")
    back = read_any(spark, p, "csv", schema=df.schema)
    assert back.count() == 10
    assert back.filter(F.col("s") == "s").count() == 0


def test_write_any_overwrite_custom_formats(spark, tmp_path):
    """'overwrite' silently APPENDED for the custom writers — a re-run
    doubled every row on read."""
    from clickhouse_clickhouse_spark.sources.formats import (
        read_any, write_any)

    df = spark.range(20).withColumn("s", F.lit("x"))
    p = str(tmp_path / "n")
    write_any(df, p, "native")
    write_any(df, p, "native")           # overwrite, not append
    assert read_any(spark, p, "native", schema=df.schema).count() == 20
    write_any(df, p + "2", "msgpack")
    with pytest.raises(FileExistsError):
        write_any(df, p + "2", "msgpack", mode="error")
    with pytest.raises(ValueError, match="compression"):
        write_any(df, p + "3", "native", compression="zstd")


def test_protobuf_null_cell_and_uint64_guard(spark):
    from clickhouse_clickhouse_spark.sources.protobuf import (
        protobuf_decode)

    # NULL cell -> all-null row (was: TypeError in the executor)
    df = spark.createDataFrame([(None,), (bytes([0x02, 0x08, 0x07]),)],
                               "pb binary")
    got = protobuf_decode(df, PROTO).orderBy("a").collect()
    assert [r.a for r in got] == [None, 7]   # asc = NULLS FIRST
    # uint64 >= 2^63 refuses loudly instead of wrapping negative
    big = (1 << 63)
    u = big
    varint = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        varint.append(b | 0x80 if u else b)
        if not u:
            break
    cell = bytes([1 + len(varint), 0x08]) + bytes(varint)
    bad = spark.createDataFrame([(cell,)], "pb binary")
    with pytest.raises(Exception, match="2\\^63"):
        protobuf_decode(bad, PROTO).collect()


def test_native_long_strings_window_growth(spark, tmp_path):
    """Strings far longer than the initial 16-bytes-per-row window must
    still decode exactly (the windowed varint chain doubles until the
    chain provably fits)."""
    from clickhouse_clickhouse_spark.sources.formats import (
        read_any, write_any)

    df = spark.range(8).select(
        "id", F.concat(F.lit("x" * 5000), F.col("id").cast("string"))
        .alias("s"))
    p = str(tmp_path / "n")
    write_any(df, p, "native")
    back = read_any(spark, p, "native", schema=df.schema)
    assert sorted((r.id, len(r.s)) for r in back.collect()) == \
        [(i, 5001) for i in range(8)]
