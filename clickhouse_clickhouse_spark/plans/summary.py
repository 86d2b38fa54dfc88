"""Projection / summary-table routing — the reference's in-table
*projections* (pre-aggregated alternate layouts, upstream
``src/Storages/MergeTree/ProjectionsDescription.cpp`` +
``optimizeUseAggregateProjection.cpp``; SURVEY.md §4.1 marks this the one
optimizer feature Catalyst doesn't cover).

A ``SummaryTable`` stores PARTIAL aggregate states (sum/count/min/max per
fine-grained key) as an ordinary Parquet table; ``route_aggregation``
answers a coarser aggregation from the summary when its keys subsume the
query's (sum-of-sums / sum-of-counts reconstitute sum/count/avg exactly —
the mergeable-state subset; exact distinct must go to base). This is
perf-only: results are identical either way, the summary is just orders
of magnitude smaller than the base table at 100 TB.

Sketch-state measures (Spark 4 Datasketches — the ``uniqCombined`` /
``uniqTheta`` / ``quantileTDigest`` -State/-Merge algebra, upstream
``src/AggregateFunctions/UniqCombined``, ``AggregateFunctionUniq.h``,
``QuantileTDigest.h``):

* ``uniq``        — HLL sketch binary (``hll_sketch_agg``); merge =
  register-wise max (``hll_union_agg``), associative and lossless at
  fixed lgConfigK, so the two-phase estimate EQUALS the one-phase one.
* ``uniq_theta``  — Theta sketch (``theta_sketch_agg`` /
  ``theta_union_agg``); also supports set algebra at read time.
* ``quantile:p``  — KLL doubles sketch (``kll_sketch_agg_double``),
  merged with ``kll_sketch_merge_double``, read out at probability p.

Distinct counts and quantiles over 100 TB rollups become answerable from
the summary instead of re-scanning base.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.session import engine_state

# measure name -> (source column, partial op). Mergeable ops only.
# "quantile:p" (e.g. "quantile:0.5") stores one KLL sketch regardless of p;
# p applies at read time.
MERGEABLE = ("sum", "count", "min", "max", "uniq", "uniq_theta", "quantile")


def _op_base(op: str) -> str:
    return op.split(":", 1)[0]


def _partial(src: str, op: str) -> Column:
    base = _op_base(op)
    if base == "count":
        return F.count(src)
    if base == "uniq":
        # string-cast input: the SAME representation ch_sql's translated
        # uniq() hashes, so routed and unrouted estimates are identical
        return F.hll_sketch_agg(F.col(src).cast("string"))
    if base == "uniq_theta":
        return F.theta_sketch_agg(src)
    if base == "quantile":
        return F.kll_sketch_agg_double(F.col(src).cast("double"))
    return getattr(F, base)(src)


def _kll_merge_all(name: str) -> Column:
    """Merge a group's KLL sketches: kll_sketch_merge_double is a binary
    scalar (no aggregate form), so collect the group's sketch list and
    fold it pairwise."""
    lst = F.collect_list(name)
    return F.aggregate(
        F.slice(lst, 2, F.greatest(F.size(lst) - 1, F.lit(0))),
        F.element_at(lst, 1),
        lambda acc, x: F.call_function("kll_sketch_merge_double", acc, x))


def _merge(name: str, op: str) -> Column:
    base = _op_base(op)
    if base == "uniq":
        return F.hll_sketch_estimate(F.hll_union_agg(name))
    if base == "uniq_theta":
        return F.theta_sketch_estimate(F.theta_union_agg(name))
    if base == "quantile":
        p = float(op.split(":", 1)[1])
        return F.kll_sketch_get_quantile_double(_kll_merge_all(name),
                                                F.lit(p))
    return {"sum": F.sum, "count": F.sum,
            "min": F.min, "max": F.max}[base](name)


def _direct(src: str, op: str) -> Column:
    """Base-table path — same sketch algorithms so routing is
    result-identical, not just approximately equal."""
    base = _op_base(op)
    if base == "uniq":
        return F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(src).cast("string")))
    if base == "uniq_theta":
        return F.theta_sketch_estimate(F.theta_sketch_agg(src))
    if base == "quantile":
        p = float(op.split(":", 1)[1])
        return F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double(F.col(src).cast("double")), F.lit(p))
    return F.count(src) if base == "count" else getattr(F, base)(src)


@dataclass
class SummaryTable:
    path: str
    keys: tuple[str, ...]
    measures: dict[str, tuple[str, str]]  # out name -> (src col, op)

    def build(self, base: DataFrame) -> None:
        aggs = []
        for name, (src, op) in self.measures.items():
            if _op_base(op) not in MERGEABLE:
                raise ValueError(f"non-mergeable op {op!r} for {name}")
            aggs.append(_partial(src, op).alias(name))
        (base.groupBy(*self.keys).agg(*aggs)
         .write.mode("overwrite").parquet(self.path))

    def can_answer(self, group_keys: Sequence[str],
                   wanted: Sequence[str]) -> bool:
        return set(group_keys) <= set(self.keys) and \
            set(wanted) <= set(self.measures)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)


def route_aggregation(spark: SparkSession, base: DataFrame,
                      summaries: Sequence[SummaryTable],
                      group_keys: Sequence[str],
                      wanted: dict[str, tuple[str, str]]) -> DataFrame:
    """Answer groupBy(group_keys).agg(wanted) from the smallest summary
    that subsumes it, else from base. ``wanted`` maps output name ->
    (source col, op). Merge rules: partial sums/counts re-sum, min/min,
    max/max, HLL/theta sketches union + estimate, KLL sketches merge +
    quantile readout — identical results either way (same algorithms on
    both paths)."""
    for s in sorted(summaries, key=lambda t: len(t.keys)):
        if s.can_answer(group_keys, list(wanted)) and all(
                _op_base(s.measures[n][1]) == _op_base(op)
                for n, (_, op) in wanted.items()):
            df = s.read(spark)
            aggs = [_merge(name, op).alias(name)
                    for name, (_, op) in wanted.items()]
            return df.groupBy(*group_keys).agg(*aggs)
    aggs = [_direct(src, op).alias(name)
            for name, (src, op) in wanted.items()]
    return base.groupBy(*group_keys).agg(*aggs)


def append_block(summary: SummaryTable, block: DataFrame) -> None:
    """Incremental projection maintenance (upstream: each inserted part
    writes its own projection part): aggregate the inserted block's
    partial states and APPEND them to the summary parquet. Merge-
    correctness is free — the read path already merges partials, so
    extra partial rows per key are exactly what a new part contributes."""
    aggs = [_partial(src, op).alias(name)
            for name, (src, op) in summary.measures.items()]
    (block.groupBy(*summary.keys).agg(*aggs)
     .write.mode("append").parquet(summary.path))


def rebuild_projections(spark: SparkSession, table: str) -> int:
    """Mutation-time projection rebuild (upstream: a mutation rewrites
    each part's projections along with the part): re-aggregate every
    registered projection of ``table`` from its post-mutation contents.
    A projection whose columns no longer exist (column DDL) is dropped
    instead — the reference errors on such ALTERs unless the projection
    is dropped first; dropping is the permissive equivalent."""
    n = 0
    t = engine_state(spark).projections_for(table)
    for name in list(t):
        s = t[name]
        try:
            s.build(spark.table(table))
            n += 1
        except Exception:
            del t[name]
    return n
