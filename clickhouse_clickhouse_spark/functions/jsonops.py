"""JSON compat operations with no Spark-native carrier.

``JSONMergePatch`` ([U] src/Functions/jsonMergePatch.cpp) implements
RFC 7386 JSON Merge Patch: objects merge key-recursively, an explicit
null REMOVES the key, and any non-object patch replaces the target
wholesale. The algorithm is fully specified by the RFC, so this
pandas-UDF rendering is semantics-exact; output is compact-separator
JSON (upstream's whitespace-free rendering). Compat path (per-row
python over Arrow batches) — JSON restructuring at scale should go
through from_json/to_json at a known schema.
"""

from __future__ import annotations

import json

from clickhouse_clickhouse_spark.functions.kernels import kernel, per_value


def _merge(target, patch):
    """RFC 7386: merge ``patch`` into ``target``."""
    if not isinstance(patch, dict):
        return patch
    out = dict(target) if isinstance(target, dict) else {}
    for k, v in patch.items():
        if v is None:
            out.pop(k, None)
        else:
            out[k] = _merge(out.get(k), v)
    return out


def json_merge_patch_py(target: str, patch: str) -> str:
    """One JSONMergePatch step over two JSON texts."""
    try:
        merged = _merge(json.loads(target), json.loads(patch))
    except ValueError as e:
        raise ValueError(f"JSONMergePatch: argument is not valid JSON "
                         f"({str(e)[:60]})") from e
    return json.dumps(merged, separators=(",", ":"))


kernel("__json_merge_patch", "string")(per_value(json_merge_patch_py))


def json_paths_py(s: str) -> list[str]:
    """Distinct dotted key paths of one JSON document ([U]
    distinctJSONPaths semantics: leaf paths, arrays treated as leaf
    values like the upstream JSON type's dynamic paths). Depth-bounded
    walk (64) — per-row bounded work."""
    try:
        doc = json.loads(s)
    except ValueError:
        return []
    out: list[str] = []

    def walk(node, prefix, depth):
        if depth > 64 or not isinstance(node, dict):
            return
        for k, v in node.items():
            p = f"{prefix}.{k}" if prefix else k
            if isinstance(v, dict) and v:
                walk(v, p, depth + 1)
            else:
                out.append(p)

    walk(doc, "", 0)
    return sorted(set(out))


kernel("__json_paths", "array<string>")(per_value(json_paths_py))
