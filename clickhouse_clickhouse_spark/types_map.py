"""Reference type-system → Spark type mapping, executable (SURVEY.md §1.2).

``parse_ch_type`` turns a reference type string (``Nullable(Int64)``,
``Array(Float32)``, ``DateTime64(3)``, ``Map(String, UInt32)``,
``Tuple(a Int8, b String)``, ``LowCardinality(String)``, ...) into a Spark
``DataType`` (+ nullability), and ``ch_schema_to_struct`` maps a full DDL
column list. Documented losses follow the survey table: UInt64→Long
(wraparound >2^63), DateTime64(9)→µs truncation, Decimal P>38 unsupported.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from clickhouse_clickhouse_spark import sqltext

_SIMPLE: dict[str, T.DataType] = {
    "Int8": T.ByteType(), "Int16": T.ShortType(), "Int32": T.IntegerType(),
    "Int64": T.LongType(),
    "UInt8": T.ShortType(), "UInt16": T.IntegerType(), "UInt32": T.LongType(),
    "UInt64": T.LongType(),          # documented wraparound beyond 2^63
    "Float32": T.FloatType(), "Float64": T.DoubleType(),
    "String": T.StringType(), "UUID": T.StringType(),
    "IPv4": T.StringType(), "IPv6": T.StringType(),
    "Date": T.DateType(), "Date32": T.DateType(),
    "DateTime": T.TimestampType(),
    "Bool": T.BooleanType(),
    "JSON": T.StringType(),
    "Nothing": T.NullType(),
}


def parse_ch_type(s: str,
                  uint64_as_decimal: bool = False) -> tuple[T.DataType, bool]:
    """Return (spark_type, nullable). Reference columns are NOT NULL by
    default; only Nullable(...) flips it.

    ``uint64_as_decimal=True`` opts UInt64 into ``DecimalType(20, 0)``
    so the FULL unsigned range (2^63..2^64-1) round-trips losslessly
    through casts and the binary text formats (RowBinary/MsgPack honor
    it); the default LongType wraps above 2^63 (documented §1.2 loss —
    faster arithmetic, the right default for key columns)."""
    s = s.strip()
    m = re.match(r"^(\w+)\s*\((.*)\)$", s, re.DOTALL)
    if not m:
        if s == "UInt64" and uint64_as_decimal:
            return T.DecimalType(20, 0), False
        if s in _SIMPLE:
            return _SIMPLE[s], False
        if s.startswith("Enum"):
            return T.StringType(), False
        raise ValueError(f"unsupported reference type: {s!r}")
    head, inner = m.group(1), m.group(2)
    u64 = uint64_as_decimal
    if head == "Nullable":
        dt, _ = parse_ch_type(inner, u64)
        return dt, True
    if head == "LowCardinality":
        return parse_ch_type(inner, u64)
    if head == "SimpleAggregateFunction":
        # SimpleAggregateFunction(f, T) stores plain T (§1.2)
        return parse_ch_type(sqltext.split_top(inner)[-1], u64)
    if head == "Array":
        dt, null = parse_ch_type(inner, u64)
        return T.ArrayType(dt, containsNull=null), False
    if head == "Map":
        k, v = sqltext.split_top(inner)
        kt, _ = parse_ch_type(k, u64)
        vt, vnull = parse_ch_type(v, u64)
        return T.MapType(kt, vt, valueContainsNull=vnull), False
    if head == "Tuple":
        fields = []
        for i, part in enumerate(sqltext.split_top(inner)):
            nm = re.match(r"^(\w+)\s+(.+)$", part.strip(), re.DOTALL)
            if nm and not re.match(r"^(\w+)\s*\(", part.strip()):
                name, typ = nm.group(1), nm.group(2)
            else:
                name, typ = f"_{i + 1}", part
            dt, null = parse_ch_type(typ, u64)
            fields.append(T.StructField(name, dt, null))
        return T.StructType(fields), False
    if head == "Nested":
        inner_struct, _ = parse_ch_type(f"Tuple({inner})", u64)
        return T.ArrayType(inner_struct, containsNull=False), False
    if head == "Decimal":
        p, sc = [int(x) for x in sqltext.split_top(inner)]
        if p > 38:
            raise ValueError(f"Decimal precision {p} > 38 unsupported (documented)")
        return T.DecimalType(p, sc), False
    if head in ("Decimal32", "Decimal64", "Decimal128"):
        scale = int(inner)
        prec = {"Decimal32": 9, "Decimal64": 18, "Decimal128": 38}[head]
        return T.DecimalType(prec, scale), False
    if head == "DateTime64":
        # scale 9 (ns) truncates to Spark's µs — documented loss
        return T.TimestampType(), False
    if head == "DateTime":
        return T.TimestampType(), False
    if head == "FixedString":
        return T.BinaryType(), False
    if head.startswith("Enum"):
        return T.StringType(), False
    if head == "AggregateFunction":
        # AggregateFunction(f[, params], T...) — the AggregatingMergeTree
        # state column ([U] src/DataTypes/DataTypeAggregateFunction.cpp).
        # The Spark type is the state shape the dialect's -State
        # templates render (ch_sql._STATE_MERGE/_PARAMETRIC_STATE_MERGE),
        # so `INSERT ... SELECT fState(x)` lands in a column that
        # `fMerge(col)` reads back in a later statement. Parameters
        # (quantile(0.9)) don't change the state type.
        parts = sqltext.split_top(inner)
        fm = re.match(r"^\s*(\w+)", parts[0])
        if not fm:
            raise ValueError(f"unsupported reference type: {s!r}")
        fname = fm.group(1)
        argts = [parse_ch_type(p, u64)[0] for p in parts[1:]]
        return _agg_state_type(fname, argts, s), False
    raise ValueError(f"unsupported reference type: {s!r}")


def _agg_state_type(fname: str, argts: list[T.DataType],
                    full: str) -> T.DataType:
    """Spark storage type of an AggregateFunction state, matching the
    dialect -State renderings exactly (see parse_ch_type)."""
    def arg(i: int = 0) -> T.DataType:
        if i >= len(argts):
            raise ValueError(f"{full!r}: AggregateFunction needs the "
                             "argument type(s) after the function name")
        return argts[i]

    def widened(dt: T.DataType) -> T.DataType:
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            return T.LongType()
        return dt

    moments = T.StructType([T.StructField("n", T.LongType(), False),
                            T.StructField("s", T.DoubleType(), True),
                            T.StructField("s2", T.DoubleType(), True)])
    if fname in ("quantile", "quantileTDigest", "quantiles", "uniq",
                 "uniqCombined", "uniqHLL12", "uniqTheta"):
        return T.BinaryType()          # KLL / Datasketches HLL / Theta
    if fname in ("quantileExact", "median", "groupArray",
                 "groupUniqArray", "uniqExact", "groupBitmap"):
        inner = T.DoubleType() if fname in ("quantileExact", "median") \
            else arg()
        return T.ArrayType(inner, containsNull=True)
    if fname == "count":
        return T.LongType()
    if fname == "sum":
        return widened(arg())
    if fname in ("min", "max", "any", "anyLast"):
        return arg()
    if fname == "avg":
        return T.StructType([T.StructField("s", T.DoubleType(), True),
                             T.StructField("c", T.LongType(), False)])
    if fname in ("argMin", "argMax"):
        return T.StructType([T.StructField("a", arg(0), True),
                             T.StructField("k", arg(1), True)])
    if fname in ("varPop", "varSamp", "stddevPop", "stddevSamp"):
        return moments
    raise ValueError(
        f"AggregateFunction base {fname!r} has no storable state "
        "mapping here (supported: quantile[Exact/TDigest/s], median, "
        "uniq[Combined/HLL12/Theta/Exact], sum, count, min, max, avg, "
        "any[Last], argMin/argMax, var*/stddev*, groupArray, "
        "groupUniqArray, groupBitmap) — recompute from raw data for "
        "other bases (SURVEY.md §4.3 item 1)")


def ch_schema_to_struct(ddl: str,
                        uint64_as_decimal: bool = False) -> T.StructType:
    """Map a reference DDL column list (``name Type, name Type, ...``) to
    a Spark StructType. ``uint64_as_decimal`` threads through to
    :func:`parse_ch_type`."""
    fields = []
    for part in sqltext.split_top(sqltext.strip_comments(ddl)):
        part = part.strip()
        if not part:
            continue
        m = re.match(r"^(`?)(\w+)\1\s+(.+)$", part, re.DOTALL)
        if not m:
            raise ValueError(f"cannot parse column definition: {part!r}")
        name, typ = m.group(2), m.group(3)
        dt, nullable = parse_ch_type(typ, uint64_as_decimal)
        fields.append(T.StructField(name, dt, nullable))
    return T.StructType(fields)


def spark_type_to_ch(dt: T.DataType, nullable: bool = False) -> str:
    """Reverse mapping for DESCRIBE / SHOW CREATE TABLE output: Spark
    type → reference type name (the inverse of ``parse_ch_type`` over
    the supported surface)."""
    base = {
        T.ByteType: "Int8", T.ShortType: "Int16", T.IntegerType: "Int32",
        T.LongType: "Int64", T.FloatType: "Float32",
        T.DoubleType: "Float64", T.StringType: "String",
        T.BooleanType: "Bool", T.DateType: "Date",
        T.TimestampType: "DateTime", T.TimestampNTZType: "DateTime",
        T.BinaryType: "String",
    }
    if isinstance(dt, T.DecimalType):
        name = f"Decimal({dt.precision}, {dt.scale})"
    elif isinstance(dt, T.ArrayType):
        name = f"Array({spark_type_to_ch(dt.elementType, dt.containsNull)})"
    elif isinstance(dt, T.MapType):
        name = (f"Map({spark_type_to_ch(dt.keyType)}, "
                f"{spark_type_to_ch(dt.valueType, dt.valueContainsNull)})")
    else:
        name = base.get(type(dt), dt.simpleString())
    if nullable and not isinstance(dt, (T.ArrayType, T.MapType)):
        return f"Nullable({name})"
    return name
