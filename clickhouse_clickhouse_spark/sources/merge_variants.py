"""MergeTree engine-variant merge semantics (SURVEY.md §1.1/§2.1: the
reference's specialized engines differ only in what the background merge
does to rows sharing a sort key). Each helper is the merge operation as a
DataFrame transform plus an ``optimize_*`` that rewrites a Parquet table
with it — the explicit form of what the reference does lazily in
``MergeTask.cpp``.

All are ordinary groupBy/window aggregations — the dedup-on-read query
forms (e.g. FINAL) live in operators/aggregates.final_dedup.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.sources.write import _rewrite


def replacing_merge(df: DataFrame, keys: Sequence[str], version: str) -> DataFrame:
    """ReplacingMergeTree: keep the max-version row per key."""
    w = Window.partitionBy(*keys).orderBy(F.col(version).desc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def summing_merge(df: DataFrame, keys: Sequence[str],
                  sum_cols: Sequence[str]) -> DataFrame:
    """SummingMergeTree: rows sharing the sort key collapse into one with
    the numeric columns summed; other columns take an arbitrary row's
    value (we use first-by-key-order for determinism)."""
    other = [c for c in df.columns if c not in keys and c not in sum_cols]
    aggs = [F.sum(c).alias(c) for c in sum_cols]
    aggs += [F.min(c).alias(c) for c in other]
    return df.groupBy(*keys).agg(*aggs).select(*df.columns)


def aggregating_merge(df: DataFrame, keys: Sequence[str],
                      merges: dict[str, str]) -> DataFrame:
    """AggregatingMergeTree over SimpleAggregateFunction columns: merge
    partial states with their own function (sum/min/max/count→sum —
    the mergeable subset, SURVEY.md §4.3 item 1)."""
    _MERGE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    aggs = [_MERGE[op](c).alias(c) for c, op in merges.items()]
    return df.groupBy(*keys).agg(*aggs)


def collapsing_merge(df: DataFrame, keys: Sequence[str], sign: str,
                     order_by: Sequence[str] = ()) -> DataFrame:
    """CollapsingMergeTree: +1/−1 sign rows cancel pairwise per key; a key
    whose sign-sum is positive keeps its LAST +1 row (by ``order_by``); a
    key whose cancel rows outnumber state rows (sign-sum < 0) keeps its
    FIRST −1 row — the reference merge algorithm retains that dangling
    cancel; only exactly-balanced keys (sign-sum = 0) vanish."""
    sums = df.groupBy(*keys).agg(F.sum(sign).alias("__s"))
    pos_keys = sums.filter(F.col("__s") > 0).drop("__s")
    neg_keys = sums.filter(F.col("__s") < 0).drop("__s")
    order = order_by or keys
    w_desc = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order])
    latest_plus = (df.filter(F.col(sign) == 1)
                   .withColumn("__rn", F.row_number().over(w_desc))
                   .filter(F.col("__rn") == 1).drop("__rn")
                   .join(pos_keys, list(keys), "left_semi"))
    w_asc = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in order])
    first_minus = (df.filter(F.col(sign) == -1)
                   .withColumn("__rn", F.row_number().over(w_asc))
                   .filter(F.col("__rn") == 1).drop("__rn")
                   .join(neg_keys, list(keys), "left_semi"))
    return latest_plus.unionByName(first_minus)


def apply_ttl(spark: SparkSession, path: str, ts_col: str,
              cutoff: Column, partition_by: Sequence[str] = ()) -> None:
    """MergeTree TTL: rows older than the cutoff expire at merge time —
    here an explicit rewrite dropping them."""
    df = spark.read.parquet(path)
    _rewrite(spark, df.filter(F.col(ts_col) >= cutoff), path, partition_by)


def optimize_with(spark: SparkSession, path: str, merge_fn,
                  partition_by: Sequence[str] = ()) -> None:
    """OPTIMIZE using any of the merge variants above: read → merge →
    atomic swap (the engine-specific background merge, run to completion)."""
    _rewrite(spark, merge_fn(spark.read.parquet(path)), path, partition_by)
