"""Result checks, run after the timed window.

- ``read`` results are compared with the query's registered DuckDB
  oracle over the same Parquet files, both sides canonicalised by
  ``tools/check.py``'s ``canon_parity`` (sorted columns, sorted rows,
  exact cell reprs). As in ``tools/check.py`` the oracle side is DuckDB's
  ``.df()``; the engine side is the collected rows as a pandas frame,
  which holds the same values ``toPandas()`` would. Queries without an
  oracle get a rows-only check: a non-empty result whose row count
  repeats across the run.
- ``write`` results must report the batch size the stream generated;
  ``readback`` rows must equal the totals the stream tracked.
"""

from __future__ import annotations

import os


def _frame(rows, cols):
    """Collected rows as a pandas frame (None becomes NaN in numeric
    columns, as in ``toPandas()``)."""
    import pandas as pd

    return pd.DataFrame.from_records([tuple(r) for r in rows],
                                     columns=list(cols))


def _oracle_con(data_dir: str):
    import duckdb

    from clickhouse_clickhouse_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check(recs: list[dict], data_dir: str) -> list[str]:
    """Return one message per failed operation; sets ``rec["n_rows"]``."""
    from clickhouse_clickhouse_spark.registry import all_oracles
    from tools.check import canon_parity

    oracles = all_oracles(order="stable")
    con = None
    expected: dict[str, object] = {}
    failures = []
    for r in recs:
        op = r["op"]
        where = f"{r['group']} {op.kind} {op.name}"
        if r["err"]:
            failures.append(f"{where}: raised {r['err']}")
            continue
        if op.kind == "write":
            if op.expect is not None and r["rows"][0][1] != op.expect:
                failures.append(f"{where}: wrote {r['rows'][0][1]}, "
                                f"expected {op.expect}")
            continue
        if op.kind == "readback":
            r["n_rows"] = len(r["rows"])
            if [list(x) for x in r["rows"]] != [op.expect]:
                failures.append(f"{where}: read {r['rows']}, expected "
                                f"{op.expect}")
            continue
        frame = _frame(r["rows"], r["cols"])
        r["n_rows"] = len(frame)
        if op.name not in oracles:
            first = expected.setdefault(op.name, len(frame))
            if not len(frame) or len(frame) != first:
                failures.append(f"{where}: rows-only check, {len(frame)} "
                                f"rows (first run: {first})")
            continue
        if op.name not in expected:
            if con is None:
                con = _oracle_con(data_dir)
            expected[op.name] = canon_parity(con.execute(oracles[op.name]).df())
        try:
            got = canon_parity(frame)
        except TypeError as e:
            failures.append(f"{where}: result not canonicalisable ({e})")
            continue
        if got != expected[op.name]:
            failures.append(f"{where}: differs from the DuckDB oracle")
    return failures
