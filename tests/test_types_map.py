"""Type-system mapping tests (SURVEY.md §1.2 table, executable)."""

import pytest
from pyspark.sql import types as T

from clickhouse_clickhouse_spark.types_map import ch_schema_to_struct, parse_ch_type


@pytest.mark.parametrize("ch,expected,nullable", [
    ("Int8", T.ByteType(), False),
    ("UInt32", T.LongType(), False),
    ("Float64", T.DoubleType(), False),
    ("String", T.StringType(), False),
    ("Date", T.DateType(), False),
    ("DateTime", T.TimestampType(), False),
    ("DateTime64(3)", T.TimestampType(), False),
    ("Nullable(Int64)", T.LongType(), True),
    ("LowCardinality(String)", T.StringType(), False),
    ("LowCardinality(Nullable(String))", T.StringType(), True),
    ("Array(Float32)", T.ArrayType(T.FloatType(), False), False),
    ("Array(Nullable(Int32))", T.ArrayType(T.IntegerType(), True), False),
    ("Map(String, UInt32)", T.MapType(T.StringType(), T.LongType(), False), False),
    ("Decimal(18, 4)", T.DecimalType(18, 4), False),
    ("Decimal64(2)", T.DecimalType(18, 2), False),
    ("FixedString(16)", T.BinaryType(), False),
    ("Enum8('a' = 1)", T.StringType(), False),
    ("UUID", T.StringType(), False),
    ("SimpleAggregateFunction(sum, Int64)", T.LongType(), False),
])
def test_parse_simple(ch, expected, nullable):
    dt, null = parse_ch_type(ch)
    assert dt == expected and null == nullable


def test_parse_tuple_named_and_positional():
    dt, _ = parse_ch_type("Tuple(a Int8, b String)")
    assert dt == T.StructType([T.StructField("a", T.ByteType(), False),
                               T.StructField("b", T.StringType(), False)])
    dt2, _ = parse_ch_type("Tuple(Int8, Array(String))")
    assert dt2.fieldNames() == ["_1", "_2"]
    assert isinstance(dt2["_2"].dataType, T.ArrayType)


def test_parse_nested():
    dt, _ = parse_ch_type("Nested(x Int32, y String)")
    assert isinstance(dt, T.ArrayType)
    assert dt.elementType.fieldNames() == ["x", "y"]


def test_unsupported_types_raise():
    with pytest.raises(ValueError):
        parse_ch_type("Decimal(76, 10)")
    with pytest.raises(ValueError):     # base with no storable state
        parse_ch_type("AggregateFunction(sequenceMatch, String)")
    with pytest.raises(ValueError):
        parse_ch_type("SomethingMadeUp")


def test_aggregate_function_state_types():
    """Round 10: AggregateFunction(f, T) maps to the -State rendering's
    storage type (AggregatingMergeTree column contract)."""
    assert parse_ch_type("AggregateFunction(sum, Int32)") \
        == (T.LongType(), False)
    assert parse_ch_type("AggregateFunction(sum, Float64)") \
        == (T.DoubleType(), False)
    assert parse_ch_type("AggregateFunction(quantile(0.9), Float64)") \
        == (T.BinaryType(), False)
    assert parse_ch_type("AggregateFunction(uniq, Int64)") \
        == (T.BinaryType(), False)
    dt, _ = parse_ch_type("AggregateFunction(quantileExact, Float64)")
    assert dt == T.ArrayType(T.DoubleType(), True)
    dt, _ = parse_ch_type("AggregateFunction(uniqExact, Int64)")
    assert dt == T.ArrayType(T.LongType(), True)
    dt, _ = parse_ch_type("AggregateFunction(avg, Float64)")
    assert dt.fieldNames() == ["s", "c"]
    dt, _ = parse_ch_type("AggregateFunction(argMax, String, Int64)")
    assert dt.fieldNames() == ["a", "k"]
    assert dt["a"].dataType == T.StringType()


def test_schema_ddl_roundtrip(spark):
    schema = ch_schema_to_struct(
        "id UInt64, name Nullable(String), tags Array(String), "
        "price Decimal(12, 2), ts DateTime64(6), props Map(String, Int32)")
    df = spark.createDataFrame([], schema)
    assert df.schema == schema
    assert [f.name for f in schema] == ["id", "name", "tags", "price", "ts", "props"]
    assert schema["name"].nullable and not schema["id"].nullable


def test_enum_labels_with_bracket_and_comma_keep_later_columns(spark):
    """Enum labels are string literals: a '(' or ',' inside one must not
    end the column list split (it dropped every column after ``e``)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_statement

    ch_statement(spark, "DROP TABLE IF EXISTS tm_enum_t")
    ch_statement(spark, "CREATE TABLE tm_enum_t (e Enum8('a(' = 1, "
                        "'b,c' = 2), x Int32) ENGINE = Memory")
    rows = ch_statement(spark, "DESCRIBE tm_enum_t").collect()
    assert [r[0] for r in rows] == ["e", "x"]
    ch_statement(spark, "DROP TABLE tm_enum_t")


def test_schema_ddl_comments_are_whitespace():
    schema = ch_schema_to_struct(
        "x Int32, -- the key, really\n y String /* a, b */")
    assert [f.name for f in schema] == ["x", "y"]
