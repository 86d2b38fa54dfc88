"""The dialect's one table of Arrow kernels (upstream ``FunctionFactory``,
SURVEY.md §2.8).

Every session-registered Python kernel is declared once, next to its
code, with ``@kernel(sql_name, return_type)``. The table maps the SQL
name to the pandas function; ``udf(name)`` builds its pandas UDF once
per process (construction needs an active session, so nothing is built
at import time), ``register(spark)`` puts the whole table on a session
in one loop, and ``system.functions`` lists the table's names.

Names starting with ``__`` are internal: only ch_sql templates emit them
and ``system.functions`` hides them. The Spark catalog lowercases names;
the table keeps the reference spellings.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable

# module-level: pandas_udf type-hint inference resolves 'pd.Series'
# against the DEFINING module's globals
import pandas as pd

# modules whose import declares kernels
_MODULES = ("aescrypt", "hashing", "ipcodecs", "jsonops", "ml",
            "randomdist", "series", "spacecurves", "textcodecs")

# SQL name -> (pandas kernel, Spark return type, environment probe)
_TABLE: dict[str, tuple[Callable, str, Callable[[], None] | None]] = {}


def kernel(name: str, returns: str,
           probe: Callable[[], None] | None = None):
    """Declare the decorated pandas function as the kernel ``name``.
    ``probe`` raises EnvironmentError when a dependency the kernel needs
    is absent; the kernel then stays unregistered and its SQL calls fail
    at resolution."""
    def declare(fn: Callable) -> Callable:
        if name in _TABLE:
            raise ValueError(f"kernel {name!r} declared twice")
        _TABLE[name] = (fn, returns, probe)
        return fn
    return declare


_RAISE = object()


def per_value(fn: Callable, fallback=_RAISE) -> Callable:
    """Lift a per-value core ``fn(v1, ..., vn)`` to a pandas kernel over
    n Series: NULL in any argument gives NULL out. A failing call raises
    with its arguments named, or yields ``fallback`` when one is given
    (the reference's try*/OrNull contract). The result is object-typed
    so 64-bit integers next to NULLs do not round through float64."""
    strict = fallback is _RAISE

    def run(*cols: pd.Series) -> pd.Series:
        out = []
        for row in zip(*cols):
            if any(v is None for v in row):
                out.append(None)
                continue
            try:
                out.append(fn(*row))
            except Exception as ex:
                if strict:
                    args = ", ".join(map(repr, row))[:200]
                    raise ValueError(f"{fn.__name__}({args}): {ex}") from ex
                out.append(fallback)
        return pd.Series(out, dtype=object)

    run.__name__ = fn.__name__    # DataFrame columns show the core's name
    return run


@functools.cache
def arrow_udf(fn: Callable, returns: str):
    """``pandas_udf(fn, returns)``, built once per process."""
    from pyspark.sql.functions import pandas_udf
    return pandas_udf(fn, returns)


@functools.cache
def _load() -> None:
    for m in _MODULES:
        importlib.import_module(f"{__package__}.{m}")


def names() -> tuple[str, ...]:
    """Every declared kernel name, reference spelling."""
    _load()
    return tuple(_TABLE)


def udf(name: str):
    """The pandas UDF of kernel ``name`` (EnvironmentError when its
    probe fails)."""
    _load()
    fn, returns, probe = _TABLE[name]
    if probe is not None:
        probe()
    return arrow_udf(fn, returns)


def register(spark) -> None:
    """Register every kernel on ``spark`` under its SQL name."""
    for name in names():
        try:
            f = udf(name)
        except EnvironmentError:
            continue
        spark.udf.register(name, f)
