"""ClickHouse-named function surface — ``from clickhouse_clickhouse_spark
import ch_functions as ch`` and write ``ch.toStartOfMonth(col)`` exactly as
in the reference dialect (SURVEY.md §2.8 name mapping, made executable).

Each name is a thin alias over the Spark expression the survey's mapping
table picked; all stay JVM-side. Names follow the reference's camelCase.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.functions import kernels
from clickhouse_clickhouse_spark.functions.datetime_fmt import format_date_time
from clickhouse_clickhouse_spark.functions.vectors import (
    cosine_distance as _cosine_distance,
    dot_product as _dot,
    l2_distance as _l2,
    l2_norm as _l2norm,
)


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


# -- arithmetic / rounding ------------------------------------------------
def plus(a, b): return _c(a) + _c(b)
def minus(a, b): return _c(a) - _c(b)
def multiply(a, b): return _c(a) * _c(b)
def divide(a, b): return _c(a) / _c(b)
def intDiv(a, b):
    # exact integer division on both paths (double division truncates
    # wrongly past 2^53); call_function routes Columns to the same SQL div
    return F.call_function("div", _c(a).cast("long"), _c(b).cast("long"))
def modulo(a, b): return _c(a) % _c(b)
def negate(a): return -_c(a)
def abs_(a): return F.abs(_c(a))
def round_(a, n=0): return F.round(_c(a), n)
def roundBankers(a, n=0): return F.bround(_c(a), n)
def floor_(a): return F.floor(_c(a))
def ceil_(a): return F.ceil(_c(a))
def trunc_(a): return _c(a).cast("long")


# -- conditionals ---------------------------------------------------------
def if_(cond, then, else_): return F.when(_c(cond), then).otherwise(else_)
def multiIf(*args):
    *pairs, default = args
    expr = None
    for i in range(0, len(pairs), 2):
        expr = (F.when(_c(pairs[i]), pairs[i + 1]) if expr is None
                else expr.when(_c(pairs[i]), pairs[i + 1]))
    return expr.otherwise(default)
def ifNull(a, b): return F.coalesce(_c(a), _c(b) if isinstance(b, Column) else F.lit(b))
def nullIf(a, b): return F.nullif(_c(a), _c(b) if isinstance(b, Column) else F.lit(b))
def assumeNotNull(a): return F.coalesce(_c(a))
def greatest(*xs): return F.greatest(*[_c(x) for x in xs])
def least(*xs): return F.least(*[_c(x) for x in xs])


# -- strings --------------------------------------------------------------
def length(a): return F.length(_c(a))
def lengthUTF8(a): return F.length(_c(a))
def lower(a): return F.lower(_c(a))
def upper(a): return F.upper(_c(a))
def reverse(a): return F.reverse(_c(a))
def concat(*xs): return F.concat(*[_c(x) for x in xs])
def substring(a, pos, ln): return F.substring(_c(a), pos, ln)
def trimBoth(a): return F.trim(_c(a))
def leftPad(a, n, pad=" "): return F.lpad(_c(a), n, pad)
def rightPad(a, n, pad=" "): return F.rpad(_c(a), n, pad)
def repeat(a, n): return F.repeat(_c(a), n)
def position(hay, needle): return F.locate(needle, _c(hay))
def like(a, pat): return _c(a).like(pat)
def ilike(a, pat): return F.lower(_c(a)).like(pat.lower())
def match(a, re): return _c(a).rlike(re)
def extract(a, re, group=1): return F.regexp_extract(_c(a), re, group)
def extractAll(a, re): return F.regexp_extract_all(_c(a), F.lit(re), F.lit(0))
def replaceOne(a, pat, rep):
    # first occurrence only: overlay at the located position (no-op if absent)
    pos = F.locate(pat, _c(a))
    return F.when(pos == 0, _c(a)).otherwise(
        F.overlay(_c(a), F.lit(rep), pos, F.lit(len(pat))))
def replaceAll(a, pat, rep): return F.replace(_c(a), F.lit(pat), F.lit(rep))
def replaceRegexpAll(a, re_, rep): return F.regexp_replace(_c(a), re_, rep)
def splitByChar(sep, a):
    import re as _re
    return F.split(_c(a), _re.escape(sep), -1)
def arrayStringConcat(arr, sep=""): return F.array_join(_c(arr), sep)
def startsWith(a, p): return _c(a).startswith(p)
def endsWith(a, p): return _c(a).endswith(p)
def empty(a): return F.length(_c(a)) == 0
def notEmpty(a): return F.length(_c(a)) > 0
def levenshteinDistance(a, b): return F.levenshtein(_c(a), _c(b))
def soundex(a): return F.soundex(_c(a))


# -- dates / times --------------------------------------------------------
def toYear(a): return F.year(_c(a))
def toMonth(a): return F.month(_c(a))
def toDayOfMonth(a): return F.dayofmonth(_c(a))
def toHour(a): return F.hour(_c(a))
def toMinute(a): return F.minute(_c(a))
def toSecond(a): return F.second(_c(a))
def toDayOfWeek(a): return F.weekday(_c(a)) + 1          # CH: Mon=1
def toQuarter(a): return F.quarter(_c(a))
def toDate(a): return _c(a).cast("date")
def toStartOfDay(a): return F.date_trunc("day", _c(a))
def toStartOfWeek(a, mode: int = 0):
    # reference default mode 0 = round down to nearest SUNDAY (returns
    # Date); mode 1 = Monday start (ISO weeks, = toMonday)
    if mode == 1:
        return F.date_trunc("week", _c(a)).cast("date")
    d = F.to_date(_c(a))
    return F.date_sub(d, F.dayofweek(d) - 1)  # dayofweek: Sun=1
def toStartOfMonth(a): return F.date_trunc("month", _c(a))
def toStartOfQuarter(a): return F.date_trunc("quarter", _c(a))
def toStartOfYear(a): return F.date_trunc("year", _c(a))
def toStartOfHour(a): return F.date_trunc("hour", _c(a))
def toStartOfInterval(a, seconds: int):
    return F.timestamp_seconds(F.floor(F.unix_timestamp(_c(a)) / seconds) * seconds)
def toMonday(a): return F.date_trunc("week", _c(a)).cast("date")
def addDays(a, n): return F.date_add(_c(a), n) if not _is_ts(a) else _c(a) + F.expr(f"INTERVAL {n} DAYS")
def addMonths(a, n): return F.add_months(_c(a), n)
def dateDiff(unit, a, b):
    if unit == "day":
        return F.datediff(F.to_date(_c(b)), F.to_date(_c(a)))
    return F.expr(f"timestampdiff({unit}, {a}, {b})")
def dateTrunc(unit, a): return F.date_trunc(unit, _c(a))
def toUnixTimestamp(a): return F.unix_timestamp(_c(a))
def fromUnixTimestamp(a): return F.timestamp_seconds(_c(a))
def formatDateTime(a, fmt): return format_date_time(_c(a), fmt)
def now(): return F.current_timestamp()
def today(): return F.current_date()


def _is_ts(a):
    return False  # date_add works for both; interval form kept for clarity


# -- arrays ---------------------------------------------------------------
def array(*xs): return F.array(*[x if isinstance(x, Column) else F.lit(x) for x in xs])
def arrayElement(a, i): return F.element_at(_c(a), i)
def has(a, x): return F.array_contains(_c(a), x)
def hasAll(a, b): return F.forall(_c(b), lambda x: F.array_contains(_c(a), x))
def hasAny(a, b): return F.arrays_overlap(_c(a), _c(b))
def indexOf(a, x): return F.array_position(_c(a), x)
def arrayConcat(*xs): return F.concat(*[_c(x) for x in xs])
def arraySlice(a, off, ln): return F.slice(_c(a), off, ln)
def arraySort(a): return F.array_sort(_c(a))
def arrayReverseSort(a): return F.reverse(F.array_sort(_c(a)))
def arrayUniq(a): return F.size(F.array_distinct(_c(a)))
def arrayDistinct(a): return F.array_distinct(_c(a))
def arrayFlatten(a): return F.flatten(_c(a))
def arrayZip(*xs): return F.arrays_zip(*[_c(x) for x in xs])
def arrayIntersect(a, b): return F.array_intersect(_c(a), _c(b))
def arrayMap(fn, a): return F.transform(_c(a), fn)
def arrayFilter(fn, a): return F.filter(_c(a), fn)
def arrayExists(fn, a): return F.exists(_c(a), fn)
def arrayAll(fn, a): return F.forall(_c(a), fn)
def arrayCount(fn, a): return F.size(F.filter(_c(a), fn))
def arraySum(a): return F.aggregate(_c(a), F.lit(0.0), lambda s, x: s + x.cast("double"))
def arrayAvg(a): return arraySum(a) / F.greatest(F.size(_c(a)), F.lit(1))
def arrayMin(a): return F.array_min(_c(a))
def arrayMax(a): return F.array_max(_c(a))
def arrayFold(fn, a, init): return F.aggregate(_c(a), init, fn)
def range_(n): return F.sequence(F.lit(0), _c(n) - 1) if isinstance(n, Column) \
    else F.sequence(F.lit(0), F.lit(n - 1))
def emptyArrayToSingle(a):
    return F.when(F.size(_c(a)) == 0, F.array(F.lit(None))).otherwise(_c(a))


# -- maps / tuples --------------------------------------------------------
def map_(*kv): return F.create_map(*[x if isinstance(x, Column) else F.lit(x) for x in kv])
def mapKeys(m): return F.map_keys(_c(m))
def mapValues(m): return F.map_values(_c(m))
def mapContains(m, k): return F.map_contains_key(_c(m), k)
def tuple_(*xs): return F.struct(*[_c(x) for x in xs])
def tupleElement(t, name): return _c(t).getField(name)


# -- JSON -----------------------------------------------------------------
def JSONExtractString(j, path="$"): return F.get_json_object(_c(j), path)
def JSONExtractInt(j, path="$"): return F.get_json_object(_c(j), path).cast("long")
def JSONExtractFloat(j, path="$"): return F.get_json_object(_c(j), path).cast("double")
def JSONHas(j, path): return F.get_json_object(_c(j), path).isNotNull()
def isValidJSON(j): return F.from_json(_c(j), "k STRING").isNotNull()
def toJSONString(x): return F.to_json(_c(x))


# -- hashing / encoding ---------------------------------------------------
def cityHash64(x):
    # bit-parity CityHash64 v1.0.2 (functions/hashing.py, Arrow UDF — the
    # compatibility path; use xxHash64 for new fast JVM-side hashing)
    return kernels.udf("cityHash64")(_c(x))
def sipHash64(x):
    # bit-parity SipHash-2-4 zero-key (functions/hashing.py, Arrow UDF)
    return kernels.udf("sipHash64")(_c(x))
def MD5(a): return F.md5(_c(a))
def SHA256(a): return F.sha2(_c(a), 256)
def hex_(a): return F.hex(_c(a))
def unhex(a): return F.unhex(_c(a))
def base64Encode(a): return F.base64(_c(a).cast("binary"))
def base64Decode(a): return F.unbase64(_c(a)).cast("string")
def bin_(a): return F.bin(_c(a))


# -- math -----------------------------------------------------------------
def exp_(a): return F.exp(_c(a))
def log_(a): return F.log(_c(a))
def log2(a): return F.log2(_c(a))
def log10(a): return F.log10(_c(a))
def sqrt_(a): return F.sqrt(_c(a))
def cbrt(a): return F.cbrt(_c(a))
def pow_(a, b): return F.pow(_c(a), b)
def sigmoid(a): return F.lit(1.0) / (F.lit(1.0) + F.exp(-_c(a)))
def sign(a): return F.signum(_c(a))
def e(): return F.lit(2.718281828459045)
def pi(): return F.lit(3.141592653589793)


# -- vectors / distance ---------------------------------------------------
def dotProduct(a, b): return _dot(_c(a), _c(b))
def L2Distance(a, b): return _l2(_c(a), _c(b))
def L2Norm(a): return _l2norm(_c(a))
def cosineDistance(a, b): return _cosine_distance(_c(a), _c(b))


# -- aggregate-name aliases (use inside .agg()) ---------------------------
def count(): return F.count("*")
def countIf(cond): return F.count_if(_c(cond))
def sum_(a): return F.sum(_c(a))
def sumIf(a, cond): return F.sum(F.when(_c(cond), _c(a)))
def avg(a): return F.avg(_c(a))
def min_(a): return F.min(_c(a))
def max_(a): return F.max(_c(a))
def argMin(a, b): return F.min_by(_c(a), _c(b))
def argMax(a, b): return F.max_by(_c(a), _c(b))
def any_(a): return F.first(_c(a), ignorenulls=True)
def anyLast(a): return F.last(_c(a), ignorenulls=True)
def uniq(a): return F.approx_count_distinct(_c(a))
def uniqExact(a): return F.countDistinct(_c(a))
def uniqCombined(a): return F.hll_sketch_estimate(F.hll_sketch_agg(_c(a)))
def uniqCombinedState(a): return F.hll_sketch_agg(_c(a))
def uniqCombinedMerge(a): return F.hll_sketch_estimate(F.hll_union_agg(_c(a)))
def uniqTheta(a): return F.theta_sketch_estimate(F.theta_sketch_agg(_c(a)))
def uniqThetaState(a): return F.theta_sketch_agg(_c(a))
def uniqThetaMerge(a): return F.theta_sketch_estimate(F.theta_union_agg(_c(a)))
def uniqThetaUnion(a, b): return F.theta_union(_c(a), _c(b))
def uniqThetaIntersect(a, b): return F.theta_intersection(_c(a), _c(b))
def uniqThetaNot(a, b): return F.theta_difference(_c(a), _c(b))
def quantile(a, q=0.5): return F.percentile(_c(a), F.lit(q))
def quantileExact(a, q=0.5): return F.percentile(_c(a), F.lit(q))
def median(a): return F.percentile(_c(a), F.lit(0.5))
def groupArray(a): return F.collect_list(_c(a))
def groupUniqArray(a): return F.collect_set(_c(a))
def corr(a, b): return F.corr(_c(a), _c(b))
def stddevPop(a): return F.stddev_pop(_c(a))
def stddevSamp(a): return F.stddev_samp(_c(a))
def varPop(a): return F.var_pop(_c(a))
def varSamp(a): return F.var_samp(_c(a))
def skewPop(a): return F.skewness(_c(a))
def kurtPop(a): return F.kurtosis(_c(a))


# CH names that clash with Python builtins/keywords resolve through the
# module __getattr__ (PEP 562) so module-internal builtins stay intact:
# ch.round / ch.abs / ch.if_ ... all work at the attribute level.
_KEYWORD_ALIASES = {
    "abs": abs_, "round": round_, "floor": floor_, "ceil": ceil_,
    "if": if_, "map": map_, "tuple": tuple_, "range": range_,
    "sum": sum_, "min": min_, "max": max_, "hex": hex_, "bin": bin_,
    "exp": exp_, "log": log_, "sqrt": sqrt_, "pow": pow_, "any": any_,
    "trunc": trunc_,
}


def __getattr__(name):
    try:
        return _KEYWORD_ALIASES[name]
    except KeyError:
        raise AttributeError(
            f"module 'ch_functions' has no attribute {name!r}") from None


# -- URL family -----------------------------------------------------------
def protocol(u): return F.parse_url(_c(u), F.lit("PROTOCOL"))
def domain(u): return F.parse_url(_c(u), F.lit("HOST"))
def path(u): return F.parse_url(_c(u), F.lit("PATH"))
def queryString(u): return F.parse_url(_c(u), F.lit("QUERY"))
def extractURLParameter(u, name):
    return F.parse_url(_c(u), F.lit("QUERY"), F.lit(name))
def cutQueryString(u):
    return F.regexp_replace(_c(u), r"\?.*$", "")
def decodeURLComponent(u): return F.url_decode(_c(u))


# -- IP family ------------------------------------------------------------
def IPv4NumToString(n):
    from clickhouse_clickhouse_spark.operators.advanced import ipv4_num_to_string
    return ipv4_num_to_string(_c(n))
def IPv4StringToNum(s):
    from clickhouse_clickhouse_spark.operators.advanced import ipv4_string_to_num
    return ipv4_string_to_num(_c(s))


# -- geo ------------------------------------------------------------------
def greatCircleDistance(lon1, lat1, lon2, lat2):
    """Meters, like the reference (haversine)."""
    from clickhouse_clickhouse_spark.operators.advanced import haversine_km
    return haversine_km(_c(lat1), _c(lon1), _c(lat2), _c(lon2)) * 1000.0


# -- bit family -----------------------------------------------------------
def bitAnd(a, b): return _c(a).bitwiseAND(_c(b) if isinstance(b, Column) else b)
def bitOr(a, b): return _c(a).bitwiseOR(_c(b) if isinstance(b, Column) else b)
def bitXor(a, b): return _c(a).bitwiseXOR(_c(b) if isinstance(b, Column) else b)
def bitShiftLeft(a, n): return F.shiftleft(_c(a), n)
def bitShiftRight(a, n): return F.shiftright(_c(a), n)
def bitCount(a): return F.bit_count(_c(a))
def bitTest(a, k): return F.getbit(_c(a), F.lit(k)).cast("boolean")


# -- introspection / presentation ----------------------------------------
def formatReadableSize(n):
    """Bytes → human string ('1.23 MiB'), when-chain over unit boundaries."""
    b = _c(n).cast("double")
    KiB, MiB, GiB = 1024.0, 1024.0 ** 2, 1024.0 ** 3
    return (F.when(b >= GiB, F.concat(F.round(b / GiB, 2).cast("string"), F.lit(" GiB")))
            .when(b >= MiB, F.concat(F.round(b / MiB, 2).cast("string"), F.lit(" MiB")))
            .when(b >= KiB, F.concat(F.round(b / KiB, 2).cast("string"), F.lit(" KiB")))
            .otherwise(F.concat(b.cast("long").cast("string"), F.lit(" B"))))


def bar(x, lo, hi, width=80):
    """ASCII bar chart cell: proportional run of '#'."""
    frac = (F.least(F.greatest(_c(x).cast("double"), F.lit(float(lo))), F.lit(float(hi)))
            - lo) / float(hi - lo)
    return F.repeat(F.lit("#"), F.round(frac * width, 0).cast("int"))


def transform(x, from_vals, to_vals, default):
    """transform(x, [a,b], [x,y], d): value-mapping via a literal map."""
    pairs = []
    for f_, t_ in zip(from_vals, to_vals):
        pairs.append(F.lit(f_))
        pairs.append(F.lit(t_))
    m = F.create_map(*pairs)
    return F.coalesce(F.element_at(m, _c(x)), F.lit(default))


def extractKeyValuePairs(s, key_value_delimiter=":", pair_delimiters=","):
    """``extractKeyValuePairs('a:1,b:2')`` → map (reference
    src/Functions/keyvaluepair/): Spark-native ``str_to_map`` with the
    delimiters as regex character classes — stays in codegen."""
    return F.str_to_map(_c(s), F.lit("[" + pair_delimiters + "]"),
                        F.lit("[" + key_value_delimiter + "]"))


# -- round-2 long-tail additions ------------------------------------------
def gcd(a, b):
    """gcd — the dialect's numpy kernel (no JVM builtin); NULL in → NULL
    out."""
    return kernels.udf("__num_gcd")(_c(a).cast("long"), _c(b).cast("long"))


def lcm(a, b):
    """lcm — the dialect's numpy kernel; wraps in int64 on overflow like
    the ANSI-off SQL multiply."""
    return kernels.udf("__num_lcm")(_c(a).cast("long"), _c(b).cast("long"))


def bitHammingDistance(a, b):
    return F.bit_count(_c(a).cast("long").bitwiseXOR(_c(b).cast("long")))


def roundToExp2(a):
    """Round down to the nearest power of two (0 for x <= 0). log2 float
    error at exact powers is repaired with one exact fix-up step."""
    x = _c(a).cast("long")
    guess = F.pow(F.lit(2.0), F.floor(F.log2(x.cast("double")))).cast("long")
    fixed = F.when(guess * 2 <= x, guess * 2) \
             .when(guess > x, (guess / 2).cast("long")).otherwise(guess)
    return F.when(x <= 0, F.lit(0)).otherwise(fixed)


_ROUND_DURATIONS = [36000, 18000, 7200, 3600, 1800, 1200, 600, 300, 240,
                    180, 120, 60, 30, 10, 1]


def roundDuration(a):
    """Reference roundDuration: round down to the fixed duration set."""
    x = _c(a).cast("long")
    expr = F.lit(0)
    for d in reversed(_ROUND_DURATIONS):     # ascending: later whens win
        expr = F.when(x >= d, F.lit(d)).otherwise(expr)
    return expr


def roundAge(a):
    """Reference roundAge: {0, 17, 18, 25, 35, 45, 55} buckets."""
    x = _c(a).cast("long")
    return (F.when(x < 1, 0).when(x <= 17, 17).when(x <= 24, 18)
            .when(x <= 34, 25).when(x <= 44, 35).when(x <= 54, 45)
            .otherwise(55))


def crc32(a): return F.crc32(_c(a).cast("binary"))


def halfMD5(a):
    """First 8 bytes of md5, big-endian unsigned decimal STRING (conv
    output) — bit-parity with the reference, JVM-side only."""
    return F.conv(F.substring(F.md5(_c(a)), 1, 16), 16, 10)


def mapAdd(a, b):
    """Merge two maps summing values on key collision."""
    m = F.map_zip_with(_c(a), _c(b),
                       lambda k, x, y: F.coalesce(x, F.lit(0))
                       + F.coalesce(y, F.lit(0)))
    return m


def accurateCastOrNull(a, t: str): return _c(a).try_cast(t)
def accurateCast(a, t: str): return _c(a).cast(t)


def neighbor(col, offset: int, order_by, partition_by=()):
    """Reference neighbor(x, offset) is a block-order hack; the principled
    Spark form requires an explicit order (and optional partitioning).

    .. warning:: With empty ``partition_by`` this compiles to a
       SINGLE-PARTITION window (Exchange SinglePartition — the whole
       relation sorts on one executor). That is the principled form of
       upstream's block-order semantics, which a set-oriented engine
       cannot observe otherwise, and it is spillable — but at scale
       pass ``partition_by`` so the window is exchange-parallel (the
       partitioned form shuffles by key like any grouped window;
       pinned by tests/test_plans.py::test_block_order_partitioned_parallel).
    """
    from pyspark.sql import Window
    w = (Window.partitionBy(*[_c(p) for p in partition_by])
         if partition_by else Window.partitionBy())
    w = w.orderBy(*[_c(o) for o in order_by])
    return F.lead(_c(col), offset).over(w) if offset >= 0 \
        else F.lag(_c(col), -offset).over(w)


def runningAccumulate(col, order_by, partition_by=()):
    """Running sum in explicit order (reference runningAccumulate is
    block-order; this is the principled windowed form).

    .. warning:: With empty ``partition_by`` this compiles to a
       SINGLE-PARTITION window (Exchange SinglePartition — the whole
       relation sorts on one executor). That is the principled form of
       upstream's block-order semantics, which a set-oriented engine
       cannot observe otherwise, and it is spillable — but at scale
       pass ``partition_by`` so the window is exchange-parallel (the
       partitioned form shuffles by key like any grouped window;
       pinned by tests/test_plans.py::test_block_order_partitioned_parallel).
    """
    from pyspark.sql import Window
    w = (Window.partitionBy(*[_c(p) for p in partition_by])
         if partition_by else Window.partitionBy())
    w = (w.orderBy(*[_c(o) for o in order_by])
         .rowsBetween(Window.unboundedPreceding, 0))
    return F.sum(_c(col)).over(w)


# -- round-2 batch 2: array calculus / time buckets / misc ---------------
def arrayCumSum(a):
    """Running sums within an array — positional fold keeping each prefix."""
    arr = _c(a)
    return F.transform(
        arr, lambda x, i: F.aggregate(F.slice(arr, 1, i + 1),
                                      F.lit(0.0),
                                      lambda s, y: s + y.cast("double")))


def arrayDifference(a):
    """[x0, x1-x0, x2-x1, ...] (reference arrayDifference)."""
    arr = _c(a)
    return F.transform(
        arr, lambda x, i: F.when(i == 0, F.lit(0.0)).otherwise(
            x.cast("double") - F.element_at(arr, i).cast("double")))


def bitmaskToList(n):
    """Powers of two composing n, ascending — '1,4,16'-style string."""
    x = _c(n).cast("long")
    bits = F.filter(
        F.transform(F.sequence(F.lit(0), F.lit(62)),
                    lambda i: F.when(
                        F.call_function("shiftright", x, i.cast("int"))
                        .bitwiseAND(1) == 1,
                        F.pow(F.lit(2.0), i.cast("double")).cast("long"))),
        lambda v: v.isNotNull())
    return F.array_join(F.transform(bits, lambda v: v.cast("string")), ",")


def sumCount(a):
    """(sum, count) struct — the reference's fused two-accumulator agg."""
    return F.struct(F.sum(_c(a)).alias("sum"), F.count(_c(a)).alias("count"))


def toStartOfFiveMinutes(a): return toStartOfInterval(a, 300)
def toStartOfFifteenMinutes(a): return toStartOfInterval(a, 900)
def toStartOfTenMinutes(a): return toStartOfInterval(a, 600)
def timeSlot(a): return toStartOfInterval(a, 1800)


def toRelativeDayNum(a):
    return F.datediff(F.to_date(_c(a)), F.lit("1970-01-01"))


def toRelativeHourNum(a):
    return (F.unix_timestamp(_c(a)) / 3600).cast("long")


def age(unit: str, a, b):
    """Complete units between a and b (reference age())."""
    return F.expr(f"timestampdiff({unit}, {a}, {b})") if isinstance(a, str) \
        else F.timestampdiff(unit, _c(a), _c(b))


def parseDateTimeBestEffort(s):
    """Best-effort parse: try common formats in order, first non-null
    wins (reference parseDateTimeBestEffort fallback chain)."""
    c = _c(s)
    return F.coalesce(
        F.try_to_timestamp(c),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("yyyy/MM/dd HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("dd.MM.yyyy HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("yyyyMMddHHmmss")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(c, F.lit("yyyy/MM/dd")),
        F.try_to_timestamp(c, F.lit("dd.MM.yyyy")),
        F.try_to_timestamp(c, F.lit("yyyyMMdd")))


def runningDifference(col, order_by, partition_by=()):
    """Reference runningDifference (block-order hack) in the principled
    windowed form: x - lag(x) with an explicit order, 0 for the first
    row (the reference's first-row behavior).

    .. warning:: With empty ``partition_by`` this compiles to a
       SINGLE-PARTITION window (Exchange SinglePartition — the whole
       relation sorts on one executor). That is the principled form of
       upstream's block-order semantics, which a set-oriented engine
       cannot observe otherwise, and it is spillable — but at scale
       pass ``partition_by`` so the window is exchange-parallel (the
       partitioned form shuffles by key like any grouped window;
       pinned by tests/test_plans.py::test_block_order_partitioned_parallel).
    """
    from pyspark.sql import Window
    w = (Window.partitionBy(*[_c(p) for p in partition_by])
         if partition_by else Window.partitionBy())
    w = w.orderBy(*[_c(o) for o in order_by])
    return _c(col) - F.coalesce(F.lag(_c(col)).over(w), _c(col))


def nonNegativeDerivative(col, ts, order_by=None, partition_by=()):
    """Rate of change per second, clamped at zero on counter resets.

    .. warning:: With empty ``partition_by`` this compiles to a
       SINGLE-PARTITION window (Exchange SinglePartition — the whole
       relation sorts on one executor). That is the principled form of
       upstream's block-order semantics, which a set-oriented engine
       cannot observe otherwise, and it is spillable — but at scale
       pass ``partition_by`` so the window is exchange-parallel (the
       partitioned form shuffles by key like any grouped window;
       pinned by tests/test_plans.py::test_block_order_partitioned_parallel).
    """
    from pyspark.sql import Window
    order = order_by or [ts]
    w = (Window.partitionBy(*[_c(p) for p in partition_by])
         if partition_by else Window.partitionBy())
    w = w.orderBy(*[_c(o) for o in order])
    prev = F.lag(_c(col)).over(w)
    dv = _c(col) - prev
    dt = _c(ts).cast("double") - F.lag(_c(ts).cast("double")).over(w)
    # greatest() skips NULLs, which would turn the undefined first-row
    # derivative into 0 — keep it NULL explicitly
    return F.when(prev.isNull(), F.lit(None).cast("double")) \
            .otherwise(F.greatest(dv / F.nullif(dt, F.lit(0.0)), F.lit(0.0)))


# -- round-2c batch: arrays / dates / strings / predicates ---------------
def splitByString(sep: str, s):
    import re as _re
    return F.split(_c(s), _re.escape(sep))


def arrayReverse(a): return F.reverse(_c(a))
def arrayPushBack(a, x): return F.concat(_c(a), F.array(F.lit(x)))
def arrayPushFront(a, x): return F.concat(F.array(F.lit(x)), _c(a))
def arrayPopBack(a): return F.slice(_c(a), 1, F.greatest(F.size(_c(a)) - 1, F.lit(0)))
def arrayPopFront(a): return F.slice(_c(a), 2, F.greatest(F.size(_c(a)) - 1, F.lit(0)))
def arrayWithConstant(n, x): return F.array_repeat(F.lit(x), _c(n).cast("int"))


def arrayResize(a, size: int, ext=None):
    """Truncate or right-pad to exactly ``size`` (pad value defaults to
    NULL, per the reference's default-value semantics)."""
    arr = _c(a)
    pad = F.array_repeat(F.lit(ext), F.greatest(F.lit(size) - F.size(arr),
                                                F.lit(0)))
    return F.slice(F.concat(arr, pad), 1, size)


def arrayCompact(a):
    """Drop CONSECUTIVE duplicate elements (run-length heads survive)."""
    arr = _c(a)
    return F.filter(arr, lambda x, i: (i == 0) | ~x.eqNullSafe(
        F.element_at(arr, i)))


def arrayEnumerateDense(a):
    """Dense ids by first appearance: [10,20,10] → [1,2,1]."""
    arr = _c(a)
    return F.transform(arr, lambda x: F.array_position(F.array_distinct(arr), x)
                       .cast("int"))


def arrayEnumerateUniq(a):
    """Occurrence counter per value: [10,10,20,10] → [1,2,1,3].
    O(n^2) per array (prefix scan per element) — array-local, fine for
    row-level arrays; NOT a corpus-level op."""
    arr = _c(a)
    return F.transform(
        arr, lambda x, i: F.size(F.filter(F.slice(arr, 1, i + 1),
                                          lambda y: y.eqNullSafe(x))))


def range_(n):
    """range(n) = [0..n-1]; empty for n <= 0 (guarded — an unguarded
    sequence(0, n-1) would generate a DESCENDING range for n <= 0)."""
    nn = _c(n).cast("long")
    return F.when(nn > 0, F.sequence(F.lit(0).cast("long"), nn - 1)) \
        .otherwise(F.array().cast("array<bigint>"))


def mapFilter(fn, m): return F.map_filter(_c(m), fn)        # CH lambda-first
def mapApply(fn, m): return F.transform_values(_c(m), fn)   # fn(k, v) -> v'


def toLastDayOfMonth(d): return F.last_day(_c(d))
def addHours(t, n): return _c(t) + F.make_interval(hours=F.lit(n))
def addMinutes(t, n): return _c(t) + F.make_interval(mins=F.lit(n))
def addSeconds(t, n): return _c(t) + F.make_interval(secs=F.lit(float(n)))
def addWeeks(d, n): return F.date_add(_c(d), 7 * n)
def addYears(t, n): return _c(t) + F.make_interval(years=F.lit(n))
def subtractHours(t, n): return addHours(t, -n)
def subtractMonths(d, n): return F.add_months(_c(d), -n)
def subtractYears(t, n): return addYears(t, -n)
def monthName(d): return F.date_format(_c(d), "MMMM")


def dateName(part: str, d):
    fmt = {"year": "yyyy", "quarter": "QQQ", "month": "MMMM",
           "week": "w", "dayofmonth": "d", "weekday": "EEEE",
           "hour": "H", "minute": "m", "second": "s"}[part.lower()]
    return F.date_format(_c(d), fmt)


def timeSlots(start, duration_sec, size: int = 1800):
    """Array of slot starts covering [start, start+duration], slot width
    ``size`` seconds (reference timeSlots): pure sequence arithmetic."""
    s = F.unix_timestamp(_c(start))
    d = _c(duration_sec).cast("long")
    first = F.floor(s / size) * size
    last = F.floor((s + d) / size) * size
    return F.transform(F.sequence(first, last, F.lit(size)),
                       lambda x: F.timestamp_seconds(x))


def formatReadableDecimalSize(n):
    """Like formatReadableSize but 1000-based (KB/MB/GB). The 2-dp
    display value is TRUNCATED, not rounded: 1000-based divisions land
    on the .xx5 decimal grid constantly, where Java HALF_UP and C
    round() disagree on the binary doubles — floor(x*100)/100 is
    bit-deterministic across engines."""
    b = _c(n).cast("double")
    KB, MB, GB = 1e3, 1e6, 1e9

    def t2(x):
        return (F.floor(x * 100) / 100).cast("string")
    return (F.when(b >= GB, F.concat(t2(b / GB), F.lit(" GB")))
            .when(b >= MB, F.concat(t2(b / MB), F.lit(" MB")))
            .when(b >= KB, F.concat(t2(b / KB), F.lit(" KB")))
            .otherwise(F.concat(b.cast("long").cast("string"), F.lit(" B"))))


def trimLeft(s): return F.ltrim(_c(s))
def trimRight(s): return F.rtrim(_c(s))
def substringUTF8(s, p, l): return F.substring(_c(s), p, l)
def positionCaseInsensitive(h, n): return F.locate(n.lower() if isinstance(n, str) else n, F.lower(_c(h)))
def countMatches(s, pat: str): return F.regexp_count(_c(s), F.lit(pat))


def countSubstrings(s, sub: str):
    """Non-overlapping literal substring count via length arithmetic."""
    col = _c(s)
    return ((F.length(col) - F.length(F.replace(col, F.lit(sub), F.lit(""))))
            / len(sub)).cast("int")


def isNaN(x): return F.isnan(_c(x))
def isInfinite(x): return F.abs(_c(x)) == F.lit(float("inf"))
def isFinite(x):
    c = _c(x)
    return ~(F.isnan(c) | (F.abs(c) == F.lit(float("inf"))))


def ifNotFinite(x, y):
    c = _c(x)
    return F.when(isFinite(c), c).otherwise(_c(y))


def bitTestAll(x, *ks):
    out = F.lit(True)
    for k in ks:
        out = out & bitTest(x, k)
    return out


def bitTestAny(x, *ks):
    out = F.lit(False)
    for k in ks:
        out = out | bitTest(x, k)
    return out


def regexpExtract(s, pat, group=1): return F.regexp_extract(_c(s), pat, group)
def initcap(s): return F.initcap(_c(s))
def generateUUIDv4(): return F.expr("uuid()")   # non-deterministic — no oracle


def arrayUnion(*arrs):
    """Distinct union of arrays (reference arrayUnion, 24.x)."""
    out = F.concat(*[_c(a) for a in arrs])
    return F.array_distinct(out)


def arrayProduct(a):
    return F.aggregate(_c(a), F.lit(1.0), lambda acc, x: acc * x.cast("double"))


def hasSubstr(a, b):
    """True when array b appears as a CONTIGUOUS subsequence of a
    (reference hasSubstr) — positional window check, O(n*m) in-row."""
    arr, sub = _c(a), _c(b)
    n, m = F.size(arr), F.size(sub)
    return F.when(m == 0, F.lit(True)).otherwise(
        F.exists(
            F.sequence(F.lit(1), F.greatest(n - m + 1, F.lit(0))),
            lambda i: F.forall(
                F.sequence(F.lit(0), m - 1),
                lambda j: F.element_at(arr, (i + j).cast("int"))
                .eqNullSafe(F.element_at(sub, (j + 1).cast("int"))))))


def topLevelDomain(url):
    """Last dot-label of the host (reference topLevelDomain)."""
    host = F.parse_url(_c(url), F.lit("HOST"))
    return F.element_at(F.split(host, r"\."), -1)


def domainWithoutWWW(url):
    host = F.parse_url(_c(url), F.lit("HOST"))
    return F.regexp_replace(host, r"^www\.", "")


def pathFull(url):
    """Path + query string (reference pathFull)."""
    u = _c(url)
    p = F.parse_url(u, F.lit("PATH"))
    q = F.parse_url(u, F.lit("QUERY"))
    return F.when(q.isNotNull(), F.concat(p, F.lit("?"), q)).otherwise(p)


def soundex(s):
    return F.soundex(_c(s))


def arrayRotateLeft(a, n):
    """Cyclic left rotation by n (negative n rotates right)."""
    arr = _c(a)
    sz = F.size(arr)
    k = F.when(sz > 0, ((F.lit(n).cast("int") % sz) + sz) % sz) \
        .otherwise(F.lit(0))
    return F.concat(F.slice(arr, k + 1, sz), F.slice(arr, 1, k))


def arrayRotateRight(a, n):
    return arrayRotateLeft(a, -n if isinstance(n, int) else -_c(n))


def arrayShiftLeft(a, n, fill=None):
    """Shift left by n, right-padding with ``fill`` (NULL default)."""
    arr = _c(a)
    sz = F.size(arr)
    k = F.least(F.lit(n).cast("int"), sz)
    return F.concat(F.slice(arr, k + 1, sz),
                    F.array_repeat(F.lit(fill), k))


def arrayShiftRight(a, n, fill=None):
    arr = _c(a)
    sz = F.size(arr)
    k = F.least(F.lit(n).cast("int"), sz)
    return F.concat(F.array_repeat(F.lit(fill), k),
                    F.slice(arr, 1, sz - k))


def mapUpdate(m1, m2):
    """Merge maps, keys of m2 winning (reference mapUpdate) — built
    from entry arrays so it does not depend on the session's
    mapKeyDedupPolicy."""
    a, b = _c(m1), _c(m2)
    keep = F.filter(F.map_entries(a),
                    lambda e: ~F.array_contains(F.map_keys(b), e["key"]))
    return F.map_from_entries(F.concat(keep, F.map_entries(b)))


def mapConcat(*ms):
    """Left-to-right merge with later maps winning on key clashes."""
    out = _c(ms[0])
    for m in ms[1:]:
        out = mapUpdate(out, m)
    return out


def formatReadableTimeDelta(sec):
    """Seconds → '2 days, 3 hours and 5 seconds' (reference
    formatReadableTimeDelta: non-zero units joined with commas, ' and '
    before the last; bare '0 seconds' for zero). Units: days, hours,
    minutes, seconds."""
    s = _c(sec).cast("long")
    parts = []
    for unit, size in (("day", 86400), ("hour", 3600), ("minute", 60),
                       ("second", 1)):
        n = (s % F.lit(size * (60 if unit == "minute" else
                               24 if unit == "hour" else
                               1 if unit == "day" else 60))) / F.lit(size) \
            if unit != "day" else s / F.lit(size)
        n = F.floor(n).cast("long")
        parts.append(
            F.when(n > 0,
                   F.concat(n.cast("string"), F.lit(f" {unit}"),
                            F.when(n > 1, F.lit("s")).otherwise(F.lit(""))))
            .otherwise(F.lit(None)))
    arr = F.filter(F.array(*parts), lambda x: x.isNotNull())
    n_parts = F.size(arr)
    head = F.array_join(F.slice(arr, 1, F.greatest(n_parts - 1, F.lit(1))
                                .cast("int")), ", ")
    joined = F.when(n_parts <= 1, F.array_join(arr, "")) \
        .otherwise(F.concat(head, F.lit(" and "),
                            F.element_at(arr, -1)))
    return F.when(n_parts == 0, F.lit("0 seconds")).otherwise(joined)


# -- round-5 batch: text/array/date long tail -----------------------------
def splitByRegexp(pattern, s):
    """``splitByRegexp(re, s)`` — note the reference's (separator, string)
    argument order."""
    return F.split(_c(s), pattern)


def tokens(s):
    """Split into alphanumeric tokens (reference ``tokens`` with the
    default tokenizer)."""
    return F.filter(F.split(_c(s), r"\W+"), lambda t: t != "")


def ngrams(s, n: int):
    """Character n-grams (reference ``ngrams(s, n)``): sliding substrings
    via a sequence + substr transform — pure column ops."""
    col = _c(s)
    return F.when(
        F.length(col) >= n,
        F.transform(F.sequence(F.lit(1), F.length(col) - (n - 1)),
                    lambda i: col.substr(i, F.lit(n)))
    ).otherwise(F.array().cast("array<string>"))


def multiSearchAny(h, needles):
    """True when ANY needle is a substring of the haystack."""
    arr = needles if isinstance(needles, Column) else \
        F.array(*[F.lit(x) for x in needles])
    hay = _c(h)
    return F.exists(arr, lambda ndl: F.contains(hay, ndl))


def countSubstrings(h, needle):
    """Occurrences of needle in haystack (non-overlapping, like the
    reference): length difference over the removed occurrences."""
    hay, ndl = _c(h), F.lit(needle) if isinstance(needle, str) else _c(needle)
    return ((F.length(hay) - F.length(F.replace(hay, ndl, F.lit(""))))
            / F.length(ndl)).cast("long")


def translateUTF8(s, frm, to):
    return F.translate(_c(s), frm, to)


def normalizeQuery(q):
    """Replace literals with ``?`` placeholders (reference
    ``normalizeQuery``; approximation: quoted strings and bare numbers —
    the reference also collapses long IN lists)."""
    no_str = F.regexp_replace(_c(q), r"'([^'\\]|\\.)*'", "?")
    return F.regexp_replace(no_str, r"\b\d+(\.\d+)?\b", "?")


def normalizedQueryHash(q):
    """Hash of the normalized query text. The reference uses its own
    64-bit hash; this is xxhash64 over our normalizeQuery — stable within
    this engine, not bit-compatible across engines (documented)."""
    return F.xxhash64(normalizeQuery(q))


def arrayShuffle(a):
    return F.shuffle(_c(a))


def arrayJaccardIndex(a, b):
    inter = F.size(F.array_intersect(_c(a), _c(b)))
    un = F.size(F.array_union(_c(a), _c(b)))
    return F.when(un == 0, F.lit(float("nan"))) \
        .otherwise(inter.cast("double") / un)


def toModifiedJulianDay(d):
    return F.datediff(_c(d), F.lit("1858-11-17")).cast("int")


def fromModifiedJulianDay(n):
    return F.date_add(F.lit("1858-11-17").cast("date"), _c(n).cast("int"))


def JSONArrayLength(j):
    return F.json_array_length(_c(j))


def randNormal(mean=0.0, sd=1.0):
    return F.randn() * F.lit(sd) + F.lit(mean)


def randUniform(lo, hi):
    return F.rand() * (F.lit(hi) - F.lit(lo)) + F.lit(lo)


def randExponential(lmb):
    return -F.log(F.lit(1.0) - F.rand()) / F.lit(lmb)


def generateUUIDv4():
    """Random v4 UUID string (Spark has no UUID type; the reference's
    UUID prints in the same canonical form)."""
    return F.expr("uuid()")


def lagInFrame(col, n=1, default=None):
    """Window-frame lag — same as F.lag; apply ``.over(window)``."""
    return F.lag(_c(col), n, default)


def leadInFrame(col, n=1, default=None):
    return F.lead(_c(col), n, default)


def nthValue(col, n):
    return F.nth_value(_c(col), n)


def toDecimalString(v, scale: int):
    """Fixed-scale decimal rendering (reference toDecimalString) —
    format_number without the thousands separators."""
    return F.regexp_replace(F.format_number(_c(v).cast("double"), scale),
                            ",", "")


def arrayRandomSample(a, k: int):
    """k random elements without replacement (reference
    arrayRandomSample)."""
    return F.slice(F.shuffle(_c(a)), 1, k)


def multiSearchFirstIndex(h, needles):
    """1-based index of the needle with the LEFTMOST occurrence in the
    haystack (0 when none matches) — reference multiSearchFirstIndex."""
    arr = needles if isinstance(needles, Column) else \
        F.array(*[F.lit(x) for x in needles])
    hay = _c(h)
    # (position, needle_index) pairs for matching needles; array_min
    # picks the leftmost occurrence, ties broken by needle order
    pairs = F.filter(
        F.transform(arr, lambda ndl, i: F.struct(
            F.instr(hay, ndl).alias("pos"), (i + 1).alias("idx"))),
        lambda s: s["pos"] > 0)
    return F.coalesce(F.array_min(pairs)["idx"], F.lit(0))


# -- round-5 late batch: array calculus / JSON / URL / encode / misc -----
def arrayAUC(scores, labels):
    """Area under the ROC curve from parallel score/label arrays
    (reference arrayAUC, src/Functions/array/arrayAUC.cpp upstream):
    rank formulation with average ranks for ties — for every positive,
    count negatives scoring strictly below plus half the ties, divided
    by P*N. O(|arr|²) per row over plain HOFs (arrays are row-local)."""
    sc, lb = _c(scores), _c(labels)
    pairs = F.zip_with(sc, lb, lambda s, y: F.struct(s.alias("s"),
                                                    y.alias("y")))
    pos = F.filter(pairs, lambda p: p["y"] > 0)
    neg = F.filter(pairs, lambda p: ~(p["y"] > 0))
    num = F.aggregate(
        pos, F.lit(0.0),
        lambda acc, p: acc
        + F.size(F.filter(neg, lambda q: q["s"] < p["s"])).cast("double")
        + F.size(F.filter(neg, lambda q: q["s"] == p["s"])).cast("double")
        / 2.0)
    denom = (F.size(pos) * F.size(neg)).cast("double")
    return F.when(denom > 0, num / denom)


def arrayFill(cond, a):
    """Left-to-right fill (reference arrayFill(func, arr)): where
    func(x) is false, x is replaced by the nearest preceding element
    with func true (leading falses stay). One fold, no explode."""
    arr = _c(a)
    return F.aggregate(
        arr, F.slice(arr, 1, 0),
        lambda acc, x: F.concat(acc, F.array(
            F.when(cond(x) | (F.size(acc) == 0), x)
             .otherwise(F.element_at(acc, -1)))))


def arrayReverseFill(cond, a):
    """Right-to-left twin of arrayFill (reference arrayReverseFill)."""
    return F.reverse(arrayFill(cond, F.reverse(_c(a))))


def arraySplit(cond, a):
    """Split into consecutive groups, cutting BEFORE each element where
    func is true (reference arraySplit); no leading empty group. One
    fold building array<array<T>> — the seed is a slice of the input so
    the nested element type is inferred, not hand-spelled."""
    arr = _c(a)
    seed = F.array(F.slice(arr, 1, 0))
    return F.aggregate(
        arr, seed,
        lambda acc, x: F.when(
            cond(x) & (F.size(F.element_at(acc, -1)) > 0),
            F.concat(acc, F.array(F.array(x)))
        ).otherwise(F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(F.concat(F.element_at(acc, -1), F.array(x))))))


def arrayReverseSplit(cond, a):
    """Cut AFTER each flagged element (reference arrayReverseSplit)."""
    arr = _c(a)
    rev = F.transform(arraySplit(cond, F.reverse(arr)), F.reverse)
    return F.reverse(rev)


def arrayPartialSort(limit, a):
    """Reference arrayPartialSort(limit, arr): first ``limit`` elements
    sorted, remainder unspecified — a full sort is a valid refinement
    (and what Tungsten does cheaply for row-local arrays)."""
    return F.array_sort(_c(a))


# -- timestamps at fixed precision ---------------------------------------
def toUnixTimestamp64Milli(t): return F.unix_millis(_c(t))
def toUnixTimestamp64Micro(t): return F.unix_micros(_c(t))
def toUnixTimestamp64Nano(t): return F.unix_micros(_c(t)) * 1000
def fromUnixTimestamp64Milli(x): return F.timestamp_millis(_c(x).cast("long"))
def fromUnixTimestamp64Micro(x): return F.timestamp_micros(_c(x).cast("long"))
def fromUnixTimestamp64Nano(x):
    # Spark timestamps are µs precision; ns truncate (FIXTURES.md)
    return F.timestamp_micros((_c(x).cast("long") / F.lit(1000)).cast("long"))


def toDaysSinceYearZero(d):
    """Days since 0000-01-01 of the proleptic Gregorian calendar
    (reference toDaysSinceYearZero): 0001-01-01 is day 366."""
    return (F.datediff(_c(d), F.lit("0001-01-01").cast("date")) + 366) \
        .cast("long")


def tumbleStart(t, slide):
    """Start of the tumbling window containing t (reference tumbleStart);
    slide is a seconds width."""
    sec = F.lit(int(slide))
    return F.timestamp_seconds(
        F.floor(F.unix_timestamp(_c(t)) / sec) * sec)


def tumbleEnd(t, slide):
    return F.timestamp_seconds(
        F.unix_timestamp(tumbleStart(t, slide)) + F.lit(int(slide)))


# -- readable rendering ---------------------------------------------------
def formatReadableQuantity(x):
    """123456789 → '123.46 million' (reference formatReadableQuantity)."""
    v = _c(x).cast("double")
    a = F.abs(v)
    return F.when(a >= 1e12, F.concat(F.format_number(v / 1e12, 2),
                                      F.lit(" trillion"))) \
            .when(a >= 1e9, F.concat(F.format_number(v / 1e9, 2),
                                     F.lit(" billion"))) \
            .when(a >= 1e6, F.concat(F.format_number(v / 1e6, 2),
                                     F.lit(" million"))) \
            .when(a >= 1e3, F.concat(F.format_number(v / 1e3, 2),
                                     F.lit(" thousand"))) \
            .otherwise(F.format_number(v, 2))


# -- JSON ------------------------------------------------------------------
def JSONExtractKeys(j):
    """Top-level object keys (reference JSONExtractKeys)."""
    return F.json_object_keys(_c(j))


def JSONExtractArrayRaw(j):
    """Array elements as JSON strings (reference JSONExtractArrayRaw):
    indexes the JSON array with a computed $[i] path — stays JVM-side
    (GetJsonObject accepts a non-foldable path). Divergence: string
    elements come back unquoted ('a', not '\"a\"') because GetJsonObject
    unwraps scalars; objects/arrays/numbers are byte-identical raw."""
    jj = _c(j)
    n = F.json_array_length(jj)
    return F.when(n.isNotNull(), F.transform(
        F.sequence(F.lit(0), n - 1, F.lit(1)),
        lambda i: F.call_function(
            "get_json_object", jj,
            F.concat(F.lit("$["), i.cast("string"), F.lit("]")))))


def simpleJSONExtractString(j, field: str):
    """Reference simpleJSONExtract* — the fast-path scanners; on Spark the
    full parser IS the fast path (codegen'd GetJsonObject)."""
    return F.get_json_object(_c(j), f"$.{field}")


def simpleJSONExtractInt(j, field: str):
    return F.get_json_object(_c(j), f"$.{field}").cast("long")


def simpleJSONExtractFloat(j, field: str):
    return F.get_json_object(_c(j), f"$.{field}").cast("double")


def simpleJSONExtractBool(j, field: str):
    return F.get_json_object(_c(j), f"$.{field}") == "true"


def simpleJSONHas(j, field: str):
    return F.get_json_object(_c(j), f"$.{field}").isNotNull()


# -- regex group extraction ------------------------------------------------
def _group_count(pattern: str) -> int:
    """Capturing groups in a literal pattern: unescaped '(' not followed
    by '?'."""
    import re as _re
    return len(_re.findall(r"(?<!\\)\((?!\?)", pattern))


def extractGroups(s, pattern: str):
    """All capturing groups of the FIRST match, as array<string>
    (reference extractGroups). Group count is read from the literal
    pattern, as the reference does at parse time."""
    n = _group_count(pattern)
    return F.array(*[F.regexp_extract(_c(s), pattern, g + 1)
                     for g in range(n)])


def extractAllGroupsHorizontal(s, pattern: str):
    """Per-group arrays across ALL matches (reference
    extractAllGroupsHorizontal): result[g] = matches of group g+1."""
    n = _group_count(pattern)
    return F.array(*[F.regexp_extract_all(_c(s), F.lit(pattern), g + 1)
                     for g in range(n)])


def extractAllGroupsVertical(s, pattern: str):
    """Per-match group arrays (reference extractAllGroupsVertical):
    result[m] = groups of match m — the zip of the horizontal form."""
    n = _group_count(pattern)
    groups = [F.regexp_extract_all(_c(s), F.lit(pattern), g + 1)
              for g in range(n)]
    if n == 1:
        return F.transform(groups[0], lambda x: F.array(x))
    zipped = F.arrays_zip(*groups)
    return F.transform(
        zipped, lambda st: F.array(*[st[str(g)] for g in range(n)]))


def multiSearchAllPositions(h, needles):
    """1-based positions of each needle (0 when absent) — reference
    multiSearchAllPositions."""
    arr = needles if isinstance(needles, Column) else \
        F.array(*[F.lit(x) for x in needles])
    hay = _c(h)
    return F.transform(arr, lambda n: F.instr(hay, n).cast("long"))


def initcapUTF8(s): return F.initcap(_c(s))
def concatWithSeparator(sep, *xs): return F.concat_ws(sep, *[_c(x) for x in xs])
def widthBucket(v, lo, hi, n): return F.width_bucket(_c(v), _c(lo), _c(hi), _c(n))
def monthsBetween(a, b): return F.months_between(_c(a), _c(b))


# -- maps ------------------------------------------------------------------
def mapPopulateSeries(m, max_key=None):
    """Fill integer-key gaps with zero values from min(key) to
    max(key) (or ``max_key``) — reference mapPopulateSeries."""
    mm = _c(m)
    ks = F.map_keys(mm)
    mn = F.array_min(ks)
    mx = F.array_max(ks) if max_key is None else \
        (max_key if isinstance(max_key, Column) else F.lit(max_key))
    seq = F.sequence(mn, mx, F.lit(1))
    return F.map_from_arrays(
        seq, F.transform(seq, lambda k: F.coalesce(
            F.try_element_at(mm, k),
            F.lit(0).cast("long"))))


def mapContainsKeyLike(m, pattern: str):
    """True when any key matches the LIKE pattern (reference
    mapContainsKeyLike)."""
    return F.exists(F.map_keys(_c(m)), lambda k: k.like(pattern))


def mapExtractKeyLike(m, pattern: str):
    """Sub-map of keys matching the LIKE pattern (reference
    mapExtractKeyLike)."""
    return F.map_filter(_c(m), lambda k, _v: k.like(pattern))


# -- bitmaps (sorted-distinct-array representation, operators/bitmap.py) --
def subBitmap(b, offset, cardinality):
    """Slice of the ordered bitmap starting at 0-based ``offset``
    (reference subBitmap)."""
    off = offset if isinstance(offset, Column) else F.lit(offset)
    n = cardinality if isinstance(cardinality, Column) else F.lit(cardinality)
    return F.slice(_c(b), off + 1, n)


def bitmapTransform(b, from_vals, to_vals):
    """Map selected bitmap values from→to, re-normalizing to the sorted
    distinct representation (reference bitmapTransform)."""
    fr = from_vals if isinstance(from_vals, Column) else \
        F.array(*[F.lit(x) for x in from_vals])
    to = to_vals if isinstance(to_vals, Column) else \
        F.array(*[F.lit(x) for x in to_vals])
    mapped = F.transform(
        _c(b),
        lambda v: F.coalesce(F.try_element_at(F.map_from_arrays(fr, to), v), v))
    return F.array_sort(F.array_distinct(mapped))


# -- geo -------------------------------------------------------------------
def greatCircleAngle(lon1, lat1, lon2, lat2):
    """Central angle between two points in degrees (reference
    greatCircleAngle) — spherical law of cosines."""
    la1, la2 = F.radians(_c(lat1)), F.radians(_c(lat2))
    dl = F.radians(_c(lon2) - _c(lon1))
    cosc = (F.sin(la1) * F.sin(la2)
            + F.cos(la1) * F.cos(la2) * F.cos(dl))
    return F.degrees(F.acos(F.least(F.greatest(cosc, F.lit(-1.0)),
                                    F.lit(1.0))))


def pointInEllipses(x, y, *params):
    """True when (x,y) lies in ANY of the axis-aligned ellipses given as
    (cx, cy, a, b) quadruples (reference pointInEllipses)."""
    if len(params) % 4 != 0 or not params:
        raise ValueError("pointInEllipses needs (cx, cy, a, b) groups")
    px, py = _c(x).cast("double"), _c(y).cast("double")
    hit = F.lit(False)
    for i in range(0, len(params), 4):
        cx, cy, a, b = (p if isinstance(p, Column) else F.lit(float(p))
                        for p in params[i:i + 4])
        hit = hit | (((px - cx) / a) ** 2 + ((py - cy) / b) ** 2 <= 1.0)
    return hit


# -- UUID / IP predicates --------------------------------------------------
def UUIDStringToNum(s):
    """Canonical UUID text → binary(16) (reference UUIDStringToNum)."""
    return F.unhex(F.replace(_c(s), F.lit("-"), F.lit("")))


def UUIDNumToString(b):
    """binary(16) → canonical dashed UUID text (reference
    UUIDNumToString)."""
    h = F.lower(F.hex(_c(b)))
    return F.concat_ws(
        "-", F.substring(h, 1, 8), F.substring(h, 9, 4),
        F.substring(h, 13, 4), F.substring(h, 17, 4), F.substring(h, 21, 12))


_IPV4_RE = (r"^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
            r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$")


def isIPv4String(s):
    """Strict dotted-quad validation (reference isIPv4String)."""
    return _c(s).rlike(_IPV4_RE)


def isIPv6String(s):
    """True when the full IPv6 parser accepts the text (reference
    isIPv6String) — delegates to functions/ip.ipv6_string_to_num, which
    yields NULL on malformed input."""
    from clickhouse_clickhouse_spark.functions.ip import ipv6_string_to_num
    return ipv6_string_to_num(_c(s)).isNotNull() & _c(s).contains(":")


# -- URL -------------------------------------------------------------------
_COMMON_SLD = ("com", "net", "org", "co", "gov", "edu", "mil", "ac")


def firstSignificantSubdomain(url):
    """The registrable label: 'a.b.clickhouse.com' → 'clickhouse'
    (reference firstSignificantSubdomain; the upstream embeds a TLD
    list — this uses the common second-level set, documented subset)."""
    host = F.parse_url(_c(url), F.lit("HOST"))
    parts = F.split(host, r"\.")
    n = F.size(parts)
    second = F.element_at(parts, -2)
    return F.when((n >= 3) & F.element_at(parts, -2).isin(*_COMMON_SLD),
                  F.element_at(parts, -3)) \
            .when(n >= 2, second).otherwise(host)


def cutToFirstSignificantSubdomain(url):
    """'a.b.clickhouse.com' → 'clickhouse.com' (reference
    cutToFirstSignificantSubdomain)."""
    host = F.parse_url(_c(url), F.lit("HOST"))
    parts = F.split(host, r"\.")
    n = F.size(parts)
    tail2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    tail3 = F.concat_ws(".", F.element_at(parts, -3), F.element_at(parts, -2),
                        F.element_at(parts, -1))
    return F.when((n >= 3) & F.element_at(parts, -2).isin(*_COMMON_SLD), tail3) \
            .when(n >= 2, tail2).otherwise(host)


def queryStringAndFragment(url):
    """query + '#' + fragment, either part optional (reference
    queryStringAndFragment)."""
    q = F.parse_url(_c(url), F.lit("QUERY"))
    r = F.parse_url(_c(url), F.lit("REF"))
    return F.when(r.isNotNull(),
                  F.concat(F.coalesce(q, F.lit("")), F.lit("#"), r)) \
            .otherwise(F.coalesce(q, F.lit("")))


# -- XML / HTML / base64 ---------------------------------------------------
def encodeXMLComponent(s):
    """Escape &, <, >, \", ' as XML entities (reference
    encodeXMLComponent); '&' first so entities don't double-escape."""
    out = F.replace(_c(s), F.lit("&"), F.lit("&amp;"))
    for lit, ent in (("<", "&lt;"), (">", "&gt;"),
                     ('"', "&quot;"), ("'", "&apos;")):
        out = F.replace(out, F.lit(lit), F.lit(ent))
    return out


def decodeXMLComponent(s):
    """Inverse of encodeXMLComponent for the five predefined entities
    (numeric character references are out of scope — documented)."""
    out = _c(s)
    for ent, lit in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&apos;", "'"), ("&amp;", "&")):
        out = F.replace(out, F.lit(ent), F.lit(lit))
    return out


def decodeHTMLComponent(s):
    """Common named HTML entities (reference decodeHTMLComponent;
    numeric references out of scope — documented subset)."""
    out = _c(s)
    for ent, lit in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&apos;", "'"), ("&nbsp;", " "), ("&#39;", "'"),
                     ("&amp;", "&")):
        out = F.replace(out, F.lit(ent), F.lit(lit))
    return out


_B64_RE = r"^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"


def tryBase64Decode(s):
    """'' on malformed input instead of an error (reference
    tryBase64Decode)."""
    t = _c(s)
    return F.when(t.rlike(_B64_RE),
                  F.unbase64(t).cast("string")).otherwise(F.lit(""))


def base64URLEncode(s):
    """RFC 4648 URL-safe alphabet, unpadded (reference base64URLEncode)."""
    return F.regexp_replace(
        F.translate(F.base64(_c(s).cast("binary")), "+/", "-_"), "=+$", "")


def base64URLDecode(s):
    """Inverse of base64URLEncode: restore padding + standard alphabet."""
    t = F.translate(_c(s), "-_", "+/")
    pad = F.pmod(4 - F.pmod(F.length(t), F.lit(4)), F.lit(4))
    padded = F.concat(t, F.repeat(F.lit("="), pad.cast("int")))
    return F.unbase64(padded).cast("string")


# -- deterministic string hashes (bit-parity, fold-based) ------------------
def javaHash(s):
    """java.lang.String.hashCode bit-parity: h = 31*h + code over UTF-16
    units with int32 wraparound (public contract, JLS §15.28). Folded
    JVM-side; wraparound via pmod into [-2^31, 2^31)."""
    chars = F.split(_c(s), "")
    two31, two32 = F.lit(2147483648), F.lit(4294967296)
    return (F.pmod(
        F.aggregate(
            chars, F.lit(0).cast("long"),
            lambda acc, ch: F.pmod(acc * 31 + F.ascii(ch), two32)),
        two32) + two31) % two32 - two31


def hiveHash(s):
    """Hive's string hash = javaHash with the sign bit cleared (public
    Hive ObjectInspectorUtils contract)."""
    return F.pmod(javaHash(s), F.lit(2147483648))


# -- error function / normal CDF / z-tests --------------------------------
_ERF_COEFFS = (0.254829592, -0.284496736, 1.421413741,
               -1.453152027, 1.061405429)
_Z_CRIT = {0.90: 1.6448536269514722, 0.95: 1.959963984540054,
           0.99: 2.5758293035489004}


def erf(x):
    """Gauss error function (reference erf, src/Functions/erf.cpp
    upstream) via the Abramowitz–Stegun 7.1.26 rational polynomial —
    max abs error 1.5e-7, pure expressions (no Python per row)."""
    v = _c(x).cast("double")
    ax = F.abs(v)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * ax)
    poly = F.lit(0.0)
    for i, a in enumerate(_ERF_COEFFS):
        poly = poly + F.lit(a) * t ** (i + 1)
    mag = F.lit(1.0) - poly * F.exp(-ax * ax)
    return F.signum(v) * mag


def erfc(x):
    """Complementary error function (reference erfc)."""
    return F.lit(1.0) - erf(x)


def normalCDF(x):
    """Φ(x) — standard normal CDF from erf (not a reference function by
    itself; the building block of its z-test family)."""
    return (F.lit(1.0) + erf(_c(x) / F.lit(2.0 ** 0.5))) / F.lit(2.0)


def proportionsZTest(s1, t1, s2, t2, confidence: float = 0.95):
    """Two-proportion pooled z-test (reference proportionsZTest):
    successes/trials per sample → struct(z_stat, p_value, ci_low,
    ci_high) where the CI is on the proportion difference (unpooled
    standard error, as upstream). Confidence must be one of
    0.90/0.95/0.99 (z-critical table — the inverse normal CDF is not
    expression-expressible)."""
    if confidence not in _Z_CRIT:
        raise ValueError(f"confidence must be one of {sorted(_Z_CRIT)}")
    zc = F.lit(_Z_CRIT[confidence])
    x1, n1 = _c(s1).cast("double"), _c(t1).cast("double")
    x2, n2 = _c(s2).cast("double"), _c(t2).cast("double")
    p1, p2 = x1 / n1, x2 / n2
    pp = (x1 + x2) / (n1 + n2)
    se_pooled = F.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    z = (p1 - p2) / se_pooled
    p = F.lit(2.0) * (F.lit(1.0) - normalCDF(F.abs(z)))
    se_diff = F.sqrt(p1 * (1 - p1) / n1 + p2 * (1 - p2) / n2)
    return F.struct(z.alias("z_stat"), p.alias("p_value"),
                    ((p1 - p2) - zc * se_diff).alias("ci_low"),
                    ((p1 - p2) + zc * se_diff).alias("ci_high"))


# -- round-5 batch 3: dates, intervals, arrays, strings, misc -------------
def _week_mode0(dd):
    """Sunday-start 0-53: week 0 holds days before the first Sunday."""
    doy = F.dayofyear(dd)
    jan1_dow = F.dayofweek(F.trunc(dd, "year"))  # 1=Sunday
    return ((doy + jan1_dow - F.lit(2)) / 7).cast("int") \
        + F.when(jan1_dow == 1, 1).otherwise(0)


def _week_mode1(dd):
    """Monday-start 0-53: week 1 is the first week with 4+ days this
    year (ISO rule), earlier days are week 0."""
    doy = F.dayofyear(dd)
    wd1 = F.weekday(F.trunc(dd, "year")) + 1     # ISO Mon=1..Sun=7
    return ((doy + wd1 - F.lit(2)) / 7).cast("int") \
        + F.when(wd1 <= 4, 1).otherwise(0)


def toWeek(d, mode: int = 0):
    """Week number (reference toWeek == MySQL WEEK modes):
    0 = Sunday-start 0-53; 1 = Monday-start 0-53 (4-day rule);
    2 = Sunday-start 1-53 (week-0 days carry the previous year's last
    week); 3 = ISO 1-53. Verified against MySQL's documented vectors."""
    dd = _c(d)
    if mode == 3:
        return F.weekofyear(dd)
    if mode == 1:
        return _week_mode1(dd)
    if mode in (0, 2):
        w0 = _week_mode0(dd)
        if mode == 0:
            return w0
        prev_dec31 = F.date_sub(F.trunc(dd, "year"), 1)
        return F.when(w0 > 0, w0).otherwise(_week_mode0(prev_dec31))
    raise ValueError(f"toWeek: only modes 0-3 are implemented, "
                     f"got {mode}")


def toISOYear(d):
    """Year of the ISO week (reference toISOYear): the year of the
    Thursday of d's ISO week."""
    dd = _c(d)
    # ISO weekday 1..7 (Mon..Sun); Thursday = +4 - wd days
    wd = F.weekday(dd) + 1
    return F.year(F.date_add(dd, (F.lit(4) - wd).cast("int")))


def toStartOfISOYear(d):
    """First day of the ISO year: the Monday of ISO week 1."""
    dd = _c(d)
    jan4 = F.make_date(toISOYear(dd), F.lit(1), F.lit(4))
    return F.date_sub(jan4, F.weekday(jan4).cast("int"))


def toYearWeek(d, mode: int = 0):
    """YYYYWW (reference toYearWeek == MySQL YEARWEEK): week-0 days
    belong to the PREVIOUS year's last week (YEARWEEK('2000-01-01') =
    199952), so the year part follows the week, not the calendar."""
    dd = _c(d)
    if mode == 3:
        return toISOYear(dd) * 100 + F.weekofyear(dd)
    if mode not in (0, 1):
        raise ValueError(f"toYearWeek: only modes 0, 1 and 3 are "
                         f"implemented, got {mode}")
    w = _week_mode0(dd) if mode == 0 else _week_mode1(dd)
    prev_dec31 = F.date_sub(F.trunc(dd, "year"), 1)
    pw = _week_mode0(prev_dec31) if mode == 0 else _week_mode1(prev_dec31)
    return F.when(w > 0, F.year(dd) * 100 + w) \
            .otherwise((F.year(dd) - 1) * 100 + pw)


def makeDate(y, m, d):
    return F.make_date(_c(y), _c(m), _c(d))


def makeDate32(y, m, d):
    return F.make_date(_c(y), _c(m), _c(d))


def makeDateTime(y, mo, d, h, mi, s):
    return F.make_timestamp(_c(y), _c(mo), _c(d), _c(h), _c(mi), _c(s))


def YYYYMMDDToDate(n):
    """20240131 → DATE (reference YYYYMMDDToDate)."""
    v = _c(n).cast("long")
    return F.make_date((v / 10000).cast("int"),
                       F.pmod((v / 100).cast("long"), 100).cast("int"),
                       F.pmod(v, 100).cast("int"))


def toYYYYMMDDhhmmss(t):
    return F.date_format(_c(t), "yyyyMMddHHmmss").cast("long")


def toIntervalSecond(n): return F.make_dt_interval(secs=_c(n).cast("double"))
def toIntervalMinute(n): return F.make_dt_interval(mins=_c(n).cast("int"))
def toIntervalHour(n): return F.make_dt_interval(hours=_c(n).cast("int"))
def toIntervalDay(n): return F.make_dt_interval(days=_c(n).cast("int"))
def toIntervalWeek(n): return F.make_dt_interval(days=(_c(n) * 7).cast("int"))
def toIntervalMonth(n): return F.make_interval(months=_c(n).cast("int"))
def toIntervalQuarter(n): return F.make_interval(months=(_c(n) * 3).cast("int"))
def toIntervalYear(n): return F.make_interval(years=_c(n).cast("int"))


# -- context functions (plan-time constants; the reference evaluates them
# per server — one Spark driver plays that role) --------------------------
def version():
    return F.lit("clickhouse_clickhouse_spark 5.0")


def hostName():
    import socket
    return F.lit(socket.gethostname())


def currentUser():
    import getpass
    return F.lit(getpass.getuser())


def currentDatabase(spark=None):
    from pyspark.sql import SparkSession
    s = spark or SparkSession.getActiveSession()
    return F.lit(s.catalog.currentDatabase() if s else "default")


def serverUUID():
    import uuid as _uuid
    # stable per engine install (hash of hostname), not per call
    import socket
    return F.lit(str(_uuid.uuid5(_uuid.NAMESPACE_DNS,
                                 socket.gethostname())))


# -- rounding to sets ------------------------------------------------------
def roundDown(x, boundaries):
    """Round down to the nearest element of a sorted set; values below
    the smallest get the FIRST element (reference roundDown)."""
    arr = boundaries if isinstance(boundaries, Column) else \
        F.array(*[F.lit(b) for b in boundaries])
    v = _c(x)
    le = F.filter(arr, lambda b: b <= v)
    return F.coalesce(F.array_max(le), F.element_at(arr, 1))


# -- bits ------------------------------------------------------------------
def _rot64(v: Column, n) -> tuple:
    nn = (n if isinstance(n, Column) else F.lit(int(n))) % 64
    return v, nn


def bitRotateLeft(x, n):
    """64-bit rotate left (reference bitRotateLeft). call_function routes
    the shift amounts as Columns (the python shiftleft wrapper only takes
    an int)."""
    v, nn = _rot64(_c(x).cast("long"), n)
    return F.when(nn == 0, v).otherwise(
        F.call_function("shiftleft", v, nn.cast("int"))
        .bitwiseOR(F.call_function("shiftrightunsigned", v,
                                   (64 - nn).cast("int"))))


def bitRotateRight(x, n):
    """64-bit rotate right (reference bitRotateRight)."""
    v, nn = _rot64(_c(x).cast("long"), n)
    return F.when(nn == 0, v).otherwise(
        F.call_function("shiftrightunsigned", v, nn.cast("int"))
        .bitwiseOR(F.call_function("shiftleft", v, (64 - nn).cast("int"))))


# -- arrays ---------------------------------------------------------------
def countEqual(a, x):
    """Occurrences of x in the array, NULL-aware (reference countEqual)."""
    xx = x if isinstance(x, Column) else F.lit(x)
    return F.size(F.filter(_c(a), lambda e: e.eqNullSafe(xx)))


def arrayFirst(cond, a):
    return F.element_at(F.filter(_c(a), cond), 1)


def arrayLast(cond, a):
    return F.element_at(F.filter(_c(a), cond), -1)


def arrayFirstIndex(cond, a):
    """1-based index of the first matching element, 0 when none
    (reference arrayFirstIndex)."""
    arr = _c(a)
    hits = F.filter(F.transform(arr, lambda e, i: F.struct(
        (i + 1).alias("i"), cond(e).alias("ok"))), lambda s: s["ok"])
    return F.coalesce(hits[0]["i"], F.lit(0))


def arrayLastIndex(cond, a):
    arr = _c(a)
    hits = F.filter(F.transform(arr, lambda e, i: F.struct(
        (i + 1).alias("i"), cond(e).alias("ok"))), lambda s: s["ok"])
    return F.coalesce(F.element_at(hits, -1)["i"], F.lit(0))


def arrayCumSumNonNegative(a):
    """Running sum clamped at zero after each step (reference
    arrayCumSumNonNegative) — single fold carrying the running value and
    the output prefix."""
    arr = _c(a)
    init = F.struct(F.lit(0.0).alias("run"),
                    F.slice(arr.cast("array<double>"), 1, 0).alias("out"))
    folded = F.aggregate(
        arr, init,
        lambda acc, x: F.struct(
            F.greatest(acc["run"] + x.cast("double"),
                       F.lit(0.0)).alias("run"),
            F.concat(acc["out"], F.array(
                F.greatest(acc["run"] + x.cast("double"),
                           F.lit(0.0)))).alias("out")))
    return folded["out"]


# -- strings ---------------------------------------------------------------
def isNull(a): return _c(a).isNull()
def isNotNull(a): return _c(a).isNotNull()
def leftUTF8(s, n): return F.substring(_c(s), 1, n)
def rightUTF8(s, n):
    # negative-start substring clamps like the reference when n exceeds
    # the string length (start = len-n+1 would go negative and return
    # only the last char); mirrors the SQL template SUBSTRING(s, -n, n)
    ss = _c(s)
    nn = n if isinstance(n, Column) else F.lit(int(n))
    return F.substring(ss, (-nn).cast("int"), nn)
def reverseUTF8(s): return F.reverse(_c(s))
def lengthBytes(s): return F.octet_length(_c(s))
def space(n): return F.repeat(F.lit(" "), _c(n).cast("int") if isinstance(n, Column) else int(n))
def notLike(s, p: str): return ~_c(s).like(p)
def notILike(s, p: str): return ~_c(s).ilike(p)


def locate(needle, haystack, pos=None):
    """MySQL argument order — needle FIRST (reference locate; contrast
    position(haystack, needle))."""
    if pos is None:
        return F.instr(_c(haystack), _c(needle) if isinstance(needle, Column)
                       else F.lit(needle))
    return F.locate(needle, _c(haystack), pos)


def positionUTF8(haystack, needle):
    return F.instr(_c(haystack),
                   _c(needle) if isinstance(needle, Column) else F.lit(needle))


def appendTrailingCharIfAbsent(s, c: str):
    ss = _c(s)
    return F.when(ss.endswith(c), ss).otherwise(F.concat(ss, F.lit(c)))


def toFixedString(s, n: int):
    """Pad with NUL bytes to exactly n (reference toFixedString); longer
    input errors in the reference — here it truncates, documented."""
    return F.rpad(F.substring(_c(s), 1, n), n, "\x00")


def toStringCutToZero(s):
    """Cut at the first NUL byte (reference toStringCutToZero)."""
    return F.split(_c(s), "\x00").getItem(0)


def replaceRegexpOne(s, pattern: str, repl: str):
    """Replace only the FIRST regex match (reference replaceRegexpOne;
    Spark's regexp_replace is replace-all). Splices at regexp_instr's
    match position; backreferences in the replacement are out of scope
    (documented)."""
    ss = _c(s)
    m = F.regexp_extract(ss, pattern, 0)
    pos = F.regexp_instr(ss, F.lit(pattern))
    return F.when(
        (m == "") | (pos == 0), ss
    ).otherwise(F.concat(
        F.substring(ss, 1, (pos - 1).cast("int")),
        F.lit(repl),
        F.substring(ss, (pos + F.length(m)).cast("int"), F.lit(1 << 30))))


def overlay_(s, repl, pos, length=None):
    return F.overlay(_c(s), _c(repl) if isinstance(repl, Column)
                     else F.lit(repl), pos,
                     length if length is not None else -1)


def splitByWhitespace(s):
    return F.filter(F.split(_c(s), r"\s+"), lambda t: t != "")


def alphaTokens(s):
    """Maximal runs of a-zA-Z (reference alphaTokens)."""
    return F.filter(F.split(_c(s), r"[^a-zA-Z]+"), lambda t: t != "")


def normalizeUTF8NFC(s):
    """Unicode NFC normalization (reference normalizeUTF8NFC) — the
    dialect's stdlib-unicodedata kernel (no JVM builtin exists; this is
    the documented slow path, still vectorized per batch)."""
    return kernels.udf("normalizeUTF8NFC")(_c(s))


def normalizeUTF8NFD(s):
    return kernels.udf("normalizeUTF8NFD")(_c(s))


# -- block pseudo-columns (the reference's block order is Spark's
# partition order: same determinism caveats) ------------------------------
def blockNumber():
    return F.spark_partition_id().cast("long")


def rowNumberInBlock():
    """Row counter within the current partition — decoded from
    monotonically_increasing_id's partition-local low bits."""
    return F.monotonically_increasing_id() % F.lit(1 << 33)


def rowNumberInAllBlocks():
    return F.monotonically_increasing_id()


# -- round-6: inverse normal CDF + A/B-test sample-size planners ----------
# Acklam's rational approximation to the normal quantile (public
# algorithm + constants, Peter Acklam 2003; |relative error| < 1.15e-9)
# — the z-value source for the reference's minSampleSize* planners
# ([U] src/Functions/minSampleSize.cpp).
_ACKLAM_A = [-3.969683028665376e+01, 2.209460984245205e+02,
             -2.759285104469687e+02, 1.383577518672690e+02,
             -3.066479806614716e+01, 2.506628277459239e+00]
_ACKLAM_B = [-5.447609879822406e+01, 1.615858368580409e+02,
             -1.556989798598866e+02, 6.680131188771972e+01,
             -1.328068155288572e+01]
_ACKLAM_C = [-7.784894002430293e-03, -3.223964580411365e-01,
             -2.400758277161838e+00, -2.549732539343734e+00,
             4.374664141464968e+00, 2.938163982698783e+00]
_ACKLAM_D = [7.784695709041462e-03, 3.224671290700398e-01,
             2.445134137142996e+00, 3.754408661907416e+00]


def _horner(coeffs, x):
    out = F.lit(coeffs[0])
    for c in coeffs[1:]:
        out = out * x + F.lit(c)
    return out


def _let1(value, body):
    """Bind ``value`` once as a lambda variable (a plan LEAF) — bare
    Column reuse deep-copies the whole subtree per reference, and the
    A/B planning stack squares its trees twice over (z², then the
    gate's |a−e| re-references); see functions/ip._let."""
    return F.element_at(F.transform(F.array(value), body), 1)


def normalQuantile(p):
    """Inverse standard-normal CDF Φ⁻¹(p) as a column expression
    (Acklam's approximation; NULL outside (0, 1)). Round 14: every
    shared subterm (pp, ql, qu, qc·rc) is bound once — the bare-reuse
    form re-copied the input subtree ~12× and analysis of the stacked
    A/B gate expressions took seconds for a one-row query."""
    pp0 = _c(p).cast("double") if isinstance(p, Column) else F.lit(float(p))
    lo, hi = 0.02425, 1.0 - 0.02425

    def tail(q):
        # shared tail polynomial: ±Horner_C(q) / (Horner_D(q)·q + 1)
        return _horner(_ACKLAM_C, q) / (_horner(_ACKLAM_D, q) * q
                                        + F.lit(1.0))

    def mid(qc):
        return _let1(qc * qc, lambda rc: _horner(_ACKLAM_A, rc) * qc
                     / (_horner(_ACKLAM_B, rc) * rc + F.lit(1.0)))

    return _let1(pp0, lambda pp: (
        F.when((pp <= 0) | (pp >= 1), F.lit(None).cast("double"))
        .when(pp < lo, _let1(F.sqrt(-2.0 * F.log(pp)), tail))
        .when(pp > hi, -_let1(F.sqrt(-2.0 * F.log(1.0 - pp)), tail))
        .otherwise(_let1(pp - 0.5, mid))))


def minSampleSizeConversion(baseline, mde, power=0.8, alpha=0.05):
    """Per-group sample size to detect an absolute conversion-rate
    change of ``mde`` from ``baseline`` (reference
    minSampleSizeConversion): n = (z_{1-α/2} + z_{power})² ·
    (p₁(1−p₁) + p₂(1−p₂)) / mde², p₂ = p₁ + mde. Returns a struct
    (minimum_sample_size, detect_range_lower, detect_range_upper)."""
    p1 = _c(baseline).cast("double") if isinstance(baseline, Column) \
        else F.lit(float(baseline))
    d = _c(mde).cast("double") if isinstance(mde, Column) \
        else F.lit(float(mde))
    z0 = normalQuantile(1.0 - alpha / 2.0) + normalQuantile(power)
    n = _let1(z0, lambda z: z * z
              * (p1 * (1.0 - p1) + (p1 + d) * (1.0 - (p1 + d))) / (d * d))
    return F.struct(n.alias("minimum_sample_size"),
                    (p1 - d).alias("detect_range_lower"),
                    (p1 + d).alias("detect_range_upper"))


def minSampleSizeContinous(baseline, sigma, mde, power=0.8, alpha=0.05):
    """Per-group sample size for a continuous metric with RELATIVE
    minimum detectable effect ``mde`` (reference minSampleSizeContinous
    — the reference spells it without the second 'u'):
    n = 2 (z_{1-α/2} + z_{power})² σ² / (mde·baseline)². Returns a
    struct (minimum_sample_size, detect_range_lower,
    detect_range_upper)."""
    mu = _c(baseline).cast("double") if isinstance(baseline, Column) \
        else F.lit(float(baseline))
    sg = _c(sigma).cast("double") if isinstance(sigma, Column) \
        else F.lit(float(sigma))
    d = _c(mde).cast("double") if isinstance(mde, Column) \
        else F.lit(float(mde))
    z0 = normalQuantile(1.0 - alpha / 2.0) + normalQuantile(power)
    n = _let1(z0, lambda z: 2.0 * z * z * sg * sg / (d * mu * d * mu))
    return F.struct(n.alias("minimum_sample_size"),
                    (mu * (1.0 - d)).alias("detect_range_lower"),
                    (mu * (1.0 + d)).alias("detect_range_upper"))


minSampleSizeContinuous = minSampleSizeContinous


# -- string-similarity / multi-search scalar tail (round 7; [U]
# src/Functions/FunctionsStringSimilarity.cpp, MultiMatchAnyImpl.h,
# HasTokenImpl.h, FunctionsStringHash.cpp) — thin dialect-named wrappers
# over functions/text.py so reference SQL names resolve 1:1.
def wordShingleMinHash(text, shingle=2, num_hashes=16):
    from clickhouse_clickhouse_spark.functions.text import (
        word_shingle_minhash,
    )
    return word_shingle_minhash(_c(text), shingle, num_hashes)


def ngramMinHash(text, n=3, num_hashes=16):
    from clickhouse_clickhouse_spark.functions.text import ngram_minhash
    return ngram_minhash(_c(text), n, num_hashes)


def hasToken(haystack, token):
    from clickhouse_clickhouse_spark.functions.text import has_token
    return has_token(_c(haystack), token)


def hasTokenCaseInsensitive(haystack, token):
    from clickhouse_clickhouse_spark.functions.text import has_token
    return has_token(_c(haystack), token, case_insensitive=True)


def multiMatchAny(haystack, patterns):
    from clickhouse_clickhouse_spark.functions.text import multi_match_any
    return multi_match_any(_c(haystack), patterns)


def multiMatchAnyIndex(haystack, patterns):
    from clickhouse_clickhouse_spark.functions.text import (
        multi_match_any_index,
    )
    return multi_match_any_index(_c(haystack), patterns)


def multiFuzzyMatchAny(haystack, distance, patterns):
    from clickhouse_clickhouse_spark.functions.text import (
        multi_fuzzy_match_any,
    )
    return multi_fuzzy_match_any(_c(haystack), distance, patterns)


def ngramDistance(a, b, n=4):
    from clickhouse_clickhouse_spark.functions.text import ngram_distance
    return ngram_distance(_c(a), _c(b), n)


def ngramDistanceCaseInsensitive(a, b, n=4):
    from clickhouse_clickhouse_spark.functions.text import ngram_distance
    return ngram_distance(_c(a), _c(b), n, case_insensitive=True)


def randomString(length):
    """Random string of ``length`` chars. Deviation: printable ASCII
    (33..126) rather than the reference's arbitrary bytes — Spark
    strings are UTF-8, arbitrary byte soup would be invalid; same
    entropy-per-char contract for test-data generation."""
    ln = _c(length).cast("int") if isinstance(length, Column) \
        else F.lit(int(length))
    # n <= 0 -> '' (SEQUENCE(1, 0) silently descends to [1, 0])
    return F.when(ln <= 0, F.lit("")).otherwise(F.concat_ws(
        "", F.transform(
            F.sequence(F.lit(1), ln),
            lambda _i: F.char(F.lit(33)
                              + F.floor(F.rand() * 94).cast("int")))))


randomPrintableASCII = randomString


# -- tuple arithmetic ([U] src/Functions/tupleArithmetic) — structs have
# no generic element-wise ops in Spark, so the helpers take the arity
# (or read it from a DataFrame-bound struct column's dtype upstream).
def _tuple_zip(a, b, arity, op):
    a, b = _c(a), _c(b)
    return F.struct(*[
        op(a.getField(f"_{i + 1}"), b.getField(f"_{i + 1}"))
        .alias(f"_{i + 1}") for i in range(arity)])


def tuplePlus(a, b, arity):
    return _tuple_zip(a, b, arity, lambda x, y: x + y)


def tupleMinus(a, b, arity):
    return _tuple_zip(a, b, arity, lambda x, y: x - y)


def tupleMultiply(a, b, arity):
    return _tuple_zip(a, b, arity, lambda x, y: x * y)


def tupleNegate(a, arity):
    a = _c(a)
    return F.struct(*[(-a.getField(f"_{i + 1}")).alias(f"_{i + 1}")
                      for i in range(arity)])
