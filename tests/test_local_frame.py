"""``session.local_frame``: the one way the package turns driver-local rows
into a DataFrame, and its value parity with ``createDataFrame(list)``."""

import datetime as dt
import decimal
import inspect
import os
import pathlib
import time

import pytest
from pyspark.sql import Row

import clickhouse_clickhouse_spark
from clickhouse_clickhouse_spark.session import local_frame

PACKAGE = pathlib.Path(clickhouse_clickhouse_spark.__file__).parent


def test_create_data_frame_is_called_only_inside_local_frame():
    lines, first = inspect.getsourcelines(local_frame)
    helper = (pathlib.Path(inspect.getsourcefile(local_frame)).resolve(),
              range(first, first + len(lines)))
    outside = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "createDataFrame(" in line and not (
                    path.resolve() == helper[0] and no in helper[1]):
                outside.append(f"{path.relative_to(PACKAGE)}:{no}")
    assert outside == []


CASES = [
    ([(1, None), (None, 2), (None, None)], "a int, b long"),
    ([(dt.datetime(2024, 3, 10, 2, 30),),        # DST gap in New York
      (dt.datetime(2024, 11, 3, 1, 30),),        # DST fold
      (dt.datetime(1969, 12, 31, 23, 59, 59, 999999),), (None,)],
     "t timestamp"),
    ([(dt.datetime(2024, 3, 10, 2, 30),), (None,)], "t timestamp_ntz"),
    ([(dt.date(2024, 2, 29),), (dt.date(1900, 1, 1),), (None,)], "d date"),
    ([(decimal.Decimal("1.25"),), (decimal.Decimal("-3"),), (None,)],
     "d decimal(10,2)"),
    ([(b"\x00ab",), (bytearray(b"\xff"),), (None,)], "b binary"),
    ([(True,), (False,), (None,)], "b boolean"),
    ([(1.5, float("inf"), "x"), (None, None, None)],
     "f double, g float, s string"),
    ([([1, None], {"k": 1.5}, (1, "x")), (None, None, None),
      ([], {}, (None, None))],
     "a array<int>, m map<string,double>, s struct<i:int,t:string>"),
    ([([dt.datetime(2020, 1, 1, 12)], {"k": dt.datetime(2021, 6, 1)},
       (dt.datetime(2022, 1, 1),))],
     "a array<timestamp>, m map<string,timestamp>, s struct<t:timestamp>"),
    ([Row(a=1, b="x"), Row(a=2, b=None)], "a int, b string"),
    ([{"b": "z", "a": 4}, {"a": 5}], "a int, b string"),
    ([], "a int, b string"),
]


@pytest.fixture
def new_york_tz():
    before = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        yield
    finally:
        if before is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = before
        time.tzset()


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_matches_create_data_frame(spark, new_york_tz, arrow):
    from pyspark.sql.types import StructType

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        for rows, ddl in CASES:
            want = spark.createDataFrame(rows, ddl)
            got = local_frame(spark, rows, ddl)
            assert got.schema == want.schema, ddl
            assert got.collect() == want.collect(), ddl
        struct = StructType.fromDDL(CASES[1][1])
        assert (local_frame(spark, CASES[1][0], struct).collect()
                == spark.createDataFrame(CASES[1][0], struct).collect())
    finally:
        spark.conf.set(key, before)


def test_local_frame_rejects_what_create_data_frame_rejects(spark):
    for rows, ddl in [([("x",)], "a int"), ([(1.5,)], "a long")]:
        with pytest.raises(TypeError):
            spark.createDataFrame(rows, ddl)
        with pytest.raises(TypeError):
            local_frame(spark, rows, ddl)
