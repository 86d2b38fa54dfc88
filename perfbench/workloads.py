"""The benchmark's workloads and the operation stream each one runs.

Each workload is one client in a closed loop: the next operation starts
when the previous one has returned. An operation is one of

- ``read``: call a registry builder, then ``collect()`` to the driver;
- ``write``: one ``ch_statement`` INSERT or OPTIMIZE;
- ``readback``: one ``ch_sql`` SELECT over the written tables, collected.

Why each workload exists, why the op lists are subsets of the registry
families, and which members are excluded for what reason, is in NOTES.md.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

from datagen import WriteStream


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float           # fixture scale factor of the base tables
    reps: int              # replicas of the base tables (1 = none)
    reads: tuple[str, ...]
    writes: bool = False   # interleave the seeded write stream


CLICKBENCH_X10 = Workload(
    name="clickbench_x10", scale=0.03, reps=10,
    reads=(
        "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
        "cb_url_host_seg_topk", "cb_daily_unique_active",
        "cb_type_share_per_user",
    ),
)

DIALECT_RW = Workload(
    name="dialect_rw", scale=0.01, reps=1, writes=True,
    reads=(
        "ch_sql_asof_join", "ch_sql_retention", "ch_sql_siphash128",
        "tpch_q4_dialect",
    ),
)

WORKLOADS = {w.name: w for w in (CLICKBENCH_X10, DIALECT_RW)}


@dataclass
class Op:
    kind: str              # read | write | readback
    name: str              # registry name, or the write kind
    sql: str = ""
    payload: list | None = None
    expect: object = None  # rows written, or the readback row


class OpStream:
    """Seeded operation stream: each pass runs the workload's reads in a
    seeded order; with writes, the write-stream statements are spread
    evenly between the reads, in ``WriteStream.KINDS`` order."""

    def __init__(self, wl: Workload, seed: int):
        self.wl = wl
        self.rng = random.Random(seed)
        self.writes = WriteStream(seed) if wl.writes else None

    def pass_ops(self):
        """Yield the operations of one pass, created lazily so the totals
        a readback expects match the writes executed before it."""
        order = list(self.wl.reads)
        self.rng.shuffle(order)
        kinds = list(WriteStream.KINDS) if self.writes else []
        done = 0
        for i, name in enumerate(order):
            yield Op("read", name)
            while done < math.ceil((i + 1) * len(kinds) / len(order)):
                kind = kinds[done]
                done += 1
                sql, payload, expect = self.writes.statement(kind)
                yield Op("readback" if kind == "readback" else "write",
                         kind, sql, payload, expect)
