"""Function implementations behind the dialect and ``ch_functions``.

Adding an Arrow kernel takes one declaration next to its code::

    @kernel("fooBar", "bigint")            # SQL name, Spark return type
    def _foo_bar(a: pd.Series, b: pd.Series) -> pd.Series: ...

or, for a per-value core, ``kernel("fooBar", "string")(per_value(core))``
(NULL in, NULL out). No registration edit: ``kernels.register`` puts
every declared kernel on each session and ``system.functions`` lists
it. Names starting with ``__`` are internal to ch_sql templates. A new
module that declares kernels goes into ``kernels._MODULES``.
"""

from clickhouse_clickhouse_spark.functions.vectors import (
    cosine_similarity, dot_product, l2_distance, l2_norm,
)
from clickhouse_clickhouse_spark.functions.datetime_fmt import ch_format_to_java

__all__ = [
    "cosine_similarity", "dot_product", "l2_distance", "l2_norm",
    "ch_format_to_java",
]
