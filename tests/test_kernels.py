"""The Arrow kernel table (functions/kernels.py): one declaration per
kernel, one registration loop per session, one name list for
system.functions — and the surfaces that share its kernels."""

import gc
import re
from pathlib import Path

import pytest

from clickhouse_clickhouse_spark import ch_sql as C
from clickhouse_clickhouse_spark.functions import kernels

_CH_SQL = Path(C.__file__).read_text()


def _template_kernel_calls() -> set[str]:
    """Every ``__name(`` call spelled in ch_sql's templates, with an
    f-string placeholder (``__morton_encode{k}(``) kept as ``{}``. Two
    forms are not calls: ``AS __alias(cols)`` column lists and python
    dunders. A name picked by a conditional (``fn = "__x" if r else
    "__y"``) counts as a call when the template then emits ``{fn}(``."""
    calls = set()
    for m in re.finditer(r"(?<![\w.])(AS\s+)?__([a-z][a-z0-9_]*)"
                         r"(\{\w+\})?\(", _CH_SQL):
        if m.group(1) or m.group(2).endswith("__"):
            continue
        calls.add("__" + m.group(2) + ("{}" if m.group(3) else ""))
    for m in re.finditer(r'\bfn = "(__\w+)" if \w+ else "(__\w+)"',
                         _CH_SQL):
        calls.update(m.groups())
    return calls


def _matches(pattern: str, name: str) -> bool:
    return re.fullmatch(re.escape(pattern).replace(r"\{\}", r"\w+"),
                        name) is not None


def test_template_kernel_calls_are_registered_and_no_orphans():
    internal = {n for n in kernels.names() if n.startswith("__")}
    calls = _template_kernel_calls()
    unknown = {c for c in calls
               if not any(_matches(c, n) for n in internal)}
    assert not unknown, f"templates call undeclared kernels: {unknown}"
    orphans = {n for n in internal
               if not any(_matches(c, n) for c in calls)}
    assert not orphans, f"kernels no template emits: {orphans}"


def test_system_functions_is_the_table_plus_dialect_registries(spark):
    got = {r.name for r in C.ch_sql(
        spark, "SELECT name FROM system.functions").collect()}
    want = ({n for n in kernels.names() if not n.startswith("__")}
            | set(C._FUNCS) | set(C._PARAMETRIC) | set(C._SQL_UDFS))
    assert got == want


def _available(name: str) -> bool:
    try:
        kernels.udf(name)
    except EnvironmentError:
        return False
    return True


def test_every_kernel_is_on_the_session(spark):
    C._register_udfs(spark)
    missing = [n for n in kernels.names()
               if _available(n) and not spark.catalog.functionExists(n)]
    assert not missing


def test_registration_survives_session_id_reuse(spark):
    """A new session whose id() reuses a collected session's id must
    still get the table (the guard holds sessions, not ids). Runs until
    the first reuse has been checked, at most 400 sessions."""
    seen: set[int] = set()
    for _ in range(400):
        s = spark.newSession()
        reused = id(s) in seen
        seen.add(id(s))
        C._register_udfs(s)
        assert s.catalog.functionExists("cityHash64")
        del s
        gc.collect()
        if reused:
            break


def test_dataframe_gcd_lcm_match_the_dialect(spark):
    """ch.gcd/ch.lcm run the dialect's kernel: NULL in → NULL out, and
    lcm wraps on int64 overflow exactly like the SQL form."""
    from clickhouse_clickhouse_spark import ch_functions as ch

    vals = [None, 0, 1, -1, 6, -4, 12, 18, 1 << 62, -(1 << 62), 3,
            (1 << 63) - 1]
    rows = [(a, b) for a in vals for b in vals]
    df = spark.createDataFrame(rows, "a bigint, b bigint")
    df.createOrReplaceTempView("kernels_gcd_grid")
    frame = {(r.a, r.b): (r.g, r.l) for r in df.select(
        "a", "b", ch.gcd("a", "b").alias("g"),
        ch.lcm("a", "b").alias("l")).collect()}
    dialect = {(r.a, r.b): (r.g, r.l) for r in C.ch_sql(
        spark, "SELECT a, b, gcd(a, b) AS g, lcm(a, b) AS l "
               "FROM kernels_gcd_grid").collect()}
    assert frame == dialect
    assert frame[(None, 6)] == (None, None)
    assert frame[(6, None)] == (None, None)
    assert frame[(-4, 6)] == (2, 12)
    assert frame[(0, 0)] == (0, 0)
    # 3 * 2^62 wraps to -2^62; ABS gives 2^62
    assert frame[(1 << 62, 3)] == (1, 1 << 62)


def test_per_value_keeps_int64_exact_next_to_nulls(spark):
    """A NULL in the batch must not round 64-bit results through
    float64 (cityHash64('abc') is not a multiple of 2^11)."""
    from clickhouse_clickhouse_spark.functions.hashing import (
        _to_signed, cityhash64_py,
    )

    got = [r.h for r in C.ch_sql(
        spark, "SELECT cityHash64(x) AS h FROM VALUES ('abc'), (NULL) "
               "t(x)").collect()]
    assert got == [_to_signed(cityhash64_py(b"abc")), None]


def test_per_value_fallback_and_strict_errors():
    import pandas as pd

    def boom(v):
        raise OSError(f"bad {v}")

    s = pd.Series(["x", None])
    assert kernels.per_value(boom, "")(s).tolist() == ["", None]
    assert kernels.per_value(boom, None)(s).tolist() == [None, None]
    with pytest.raises(ValueError, match=r"boom\('x'\): bad x"):
        kernels.per_value(boom)(s)


def test_kernel_names_are_declared_once():
    with pytest.raises(ValueError, match="declared twice"):
        kernels.kernel("cityHash64", "long")(lambda s: s)


def test_failed_probe_leaves_only_that_kernel_unregistered(
        spark, monkeypatch):
    def absent():
        raise EnvironmentError("dependency absent")

    monkeypatch.setitem(kernels._TABLE, "__probe_absent",
                        (lambda s: s, "string", absent))
    s = spark.newSession()
    kernels.register(s)
    assert not s.catalog.functionExists("__probe_absent")
    assert s.catalog.functionExists("cityHash64")
