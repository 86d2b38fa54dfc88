"""Translate-equivalence check for the dialect translator.

Collects every SELECT/WITH string constant in
``clickhouse_clickhouse_spark/queries/`` and ``tests/`` of a checkout,
runs the checkout's own ``ch_sql._translate_impl`` on each (cold, no
memo) and writes ``{sql: output-or-error}`` as JSON, printing the mean
cold translate time over the ``queries/`` strings that translate.
``diff`` lists the strings whose outputs differ between two dumps.

Usage:
  python tools/translate_corpus.py dump CHECKOUT OUT.json
  python tools/translate_corpus.py diff A.json B.json
"""

from __future__ import annotations

import ast
import json
import os
import re
import sys
import time


def _strings(path: str):
    tree = ast.parse(open(path).read())
    in_fstring = {id(v) for node in ast.walk(tree)
                  if isinstance(node, ast.JoinedStr) for v in node.values}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and id(node) not in in_fstring
                and re.match(r"\s*(SELECT|WITH)\b", node.value, re.I)):
            yield node.value


def dump(root: str, out_path: str) -> None:
    sys.path.insert(0, root)
    from clickhouse_clickhouse_spark import ch_sql

    corpus: dict[str, str] = {}
    for sub in ("clickhouse_clickhouse_spark/queries", "tests"):
        d = os.path.join(root, sub)
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".py"):
                for s in _strings(os.path.join(d, fn)):
                    corpus.setdefault(s, sub)
    out, times = {}, []
    for s, sub in corpus.items():
        try:
            t0 = time.perf_counter()
            out[s] = ch_sql._translate_impl(s)
            if sub.endswith("queries"):
                times.append(time.perf_counter() - t0)
        except Exception as e:  # the error text is part of the output
            out[s] = f"ERR {type(e).__name__}: {e}"
    json.dump(out, open(out_path, "w"))
    print(f"{len(out)} strings; {len(times)} queries/ strings translate; "
          f"cold mean {1000 * sum(times) / max(1, len(times)):.2f} ms")


def diff(a_path: str, b_path: str) -> None:
    a, b = json.load(open(a_path)), json.load(open(b_path))
    changed = [s for s in a if s in b and a[s] != b[s]]
    for s in changed:
        print("=" * 72, s, "-" * 30 + " A", a[s], "-" * 30 + " B", b[s],
              sep="\n")
    print(f"{len(changed)} of {len(set(a) & set(b))} outputs differ")


if __name__ == "__main__":
    {"dump": dump, "diff": diff}[sys.argv[1]](*sys.argv[2:])
