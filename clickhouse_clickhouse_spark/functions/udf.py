"""UDF surface (SURVEY.md §2.10).

Reference mapping:
- ``CREATE FUNCTION f AS (x) -> expr`` (SQL lambda UDF) →
  ``sql_lambda``: a named Python helper that composes Column expressions.
  Zero serialization cost — it IS the expression, exactly like the
  reference's substitution-based UDFs. In the SQL-string API the
  statement itself runs through ``ch_sql.ch_statement``.
- Executable UDFs (external process over a pipe) → ``pandas_udf``
  (Arrow-batched; see pipeline/multimodal.py for the mapInPandas variant).
- ``executable`` table functions / UDTF → Python UDTF (Spark ≥3.5).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column


_REGISTRY: dict[str, Callable[..., Column]] = {}


def sql_lambda(name: str, fn: Callable[..., Column]) -> Callable[..., Column]:
    """Register a named expression-composition UDF (the CREATE FUNCTION
    analog). Returns the callable; also retrievable via ``get_function``."""
    _REGISTRY[name] = fn
    return fn


def get_function(name: str) -> Callable[..., Column]:
    return _REGISTRY[name]
