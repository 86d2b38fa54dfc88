"""Seeded input generation for the benchmark.

Two kinds of input:

- Fixture tables with the schemas of the engine's test fixtures
  (TPC-H-ish star schema, ``events``, ``documents``, ``embeddings``),
  written as Parquet by :func:`build_fixture`. The row counts follow the
  fixture scale factor; values are drawn from a fixed fixture seed, so a
  fixture is identified by ``(scale, reps, fixture seed, GEN_VERSION)``
  and is generated once per checkout and cached. ``reps > 1`` replicates
  the base tables with every key column shifted by ``rep * 10**8`` (the
  join graph survives) into multi-file Parquet with several row groups
  per file.
- The ``dialect_rw`` write stream (:class:`WriteStream`): INSERT payloads
  and batch sizes drawn from the workload seed. It tracks the totals a
  reader must see after each write.
"""

from __future__ import annotations

import json
import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated values or layout change, so stale caches are
# never reused.
GEN_VERSION = 1
FIXTURE_SEED = 42
SHIFT = 10**8

# Key columns shifted per replica (same set as tools/scale_bench.py).
SHIFT_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "region": ["r_regionkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def _ts(rng, n, lo: str, hi: str, day_grain: bool) -> np.ndarray:
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    v = rng.integers(a, b + 1, n)
    if day_grain:
        day = 86_400_000_000
        v = (v // day) * day
    return v.astype("datetime64[us]")


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(scale: float, seed: int = FIXTURE_SEED) -> dict[str, pa.Table]:
    """The ten fixture tables at fixture scale ``scale`` (0.01 gives
    60,000 lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = max(6000, int(6_000_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = 500 if scale <= 0.01 else int(50_000 * scale)
    n_vecs = 500 if scale <= 0.01 else int(20_000 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5)})
    t["customer"] = pa.table({
        "c_custkey": _keys(n_cust),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": _keys(n_supp),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, len(ADJ), n_part),
            rng.integers(0, len(NOUN), n_part))]),
        "p_brand": pa.array(
            [f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1))})
    t["orders"] = pa.table({
        "o_orderkey": _keys(n_ord),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500000)),
        "o_orderdate": pa.array(_ts(rng, n_ord, "1995-01-01", "2001-08-01",
                                    True)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900, 105000)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(_ts(rng, n_line, "1995-01-02", "2001-11-04",
                                   True))})
    t["events"] = pa.table({
        "event_id": _keys(n_ev),
        "ts": pa.array(np.sort(_ts(rng, n_ev, "2024-01-01",
                                   "2024-01-30 23:59:59", False))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n_ev)])})
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents; ~5% are near copies of an earlier document
    (a few words replaced, tagged ``dup``) and a few are exact copies, so
    the dedup operators find clusters."""
    texts: list[list[str]] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            src = list(texts[int(rng.integers(0, i))])
            for _ in range(int(rng.integers(1, 4))):
                src[int(rng.integers(0, len(src)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))]
            texts.append(src + ["dup"])
        elif i > 10 and r < 0.052:
            texts.append(list(texts[int(rng.integers(0, i))]))
        else:
            k = int(rng.integers(10, 101))
            texts.append([WORDS[j] for j in rng.integers(0, len(WORDS), k)])
    text = [" ".join(w) for w in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(s) for s in text],
                                     dtype=np.int64))})


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors; ~5% are perturbed copies of an earlier
    vector, so the near-duplicate operators find pairs."""
    v = rng.standard_normal((n, dim))
    for i in range(11, n):
        if rng.random() < 0.05:
            v[i] = v[int(rng.integers(0, i))] + 0.02 * rng.standard_normal(dim)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(v.reshape(-1)))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32))})


def _replicate(tbl: pa.Table, cols: list[str], reps: int) -> pa.Table:
    parts = []
    for rep in range(reps):
        t = tbl
        for c in cols:
            i = t.schema.get_field_index(c)
            arr = t.column(c).to_numpy()
            t = t.set_column(i, t.schema.field(c),
                             pa.array((arr + rep * SHIFT).astype(arr.dtype)))
        parts.append(t)
    return pa.concat_tables(parts)


def _write(tbl: pa.Table, path: str, files: int, row_group: int) -> None:
    if files <= 1:
        pq.write_table(tbl, path, row_group_size=row_group)
        return
    os.makedirs(path)
    per = -(-tbl.num_rows // files)
    for f in range(files):
        pq.write_table(tbl.slice(f * per, per),
                       os.path.join(path, f"part-{f:05d}.parquet"),
                       row_group_size=row_group)


def _layout(path: str) -> dict:
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    return {"files": len(files),
            "row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups
                              for f in files),
            "bytes": sum(os.path.getsize(f) for f in files)}


def build_fixture(cache_dir: str, scale: float, reps: int = 1) -> tuple[str, dict]:
    """Return ``(dir, info)`` for the fixture, generating it on a cache
    miss. ``info`` has the generation time of this call (0-ish on a hit)
    and, per table, the file/row-group/byte layout and its size relative
    to the unreplicated table."""
    key = f"v{GEN_VERSION}_s{FIXTURE_SEED}_sf{scale}_x{reps}"
    out = os.path.join(cache_dir, key)
    meta = os.path.join(out, "layout.json")
    t0 = time.perf_counter()
    if not os.path.exists(meta):
        tmp = out + f".tmp{os.getpid()}"
        os.makedirs(tmp)
        layout = {}
        for name, tbl in base_tables(scale).items():
            base_bytes = tbl.nbytes
            if reps > 1:
                tbl = _replicate(tbl, SHIFT_COLS[name], reps)
            # the unreplicated fixture is one single-row-group file, like
            # the engine's test fixtures; the replica is multi-file with
            # four row groups per file
            files = 1 if reps == 1 or tbl.num_rows < 10_000 else 2 * reps
            row_group = (tbl.num_rows if files == 1
                         else -(-tbl.num_rows // (files * 4)))
            dst = os.path.join(tmp, f"{name}.parquet")
            _write(tbl, dst, files, row_group)
            layout[name] = dict(_layout(dst), rows=tbl.num_rows,
                                size_vs_base=round(tbl.nbytes / base_bytes, 3))
        with open(os.path.join(tmp, "layout.json"), "w") as f:
            json.dump(layout, f, indent=1, sort_keys=True)
        try:
            os.rename(tmp, out)
        except OSError:   # another process finished first
            import shutil
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta) as f:
        layout = json.load(f)
    return out, {"datagen_s": time.perf_counter() - t0, "layout": layout}


class WriteStream:
    """Seeded writes into one MergeTree and one Memory table. Every pass of
    the workload runs the same five statements (so every timed window has
    the same mix): a JSONEachRow INSERT into the MergeTree table, a VALUES
    INSERT into the Memory table, a readback of both tables, OPTIMIZE FINAL
    on the MergeTree table and TRUNCATE of the Memory table. The TRUNCATE
    keeps the Memory table's plan (one union per INSERT) from growing
    through the run, so every pass reads the same state. The seed draws
    the batch sizes and rows. The stream tracks the totals (row count,
    ``sum(v)``) a reader must see."""

    MT = "bench_mt"
    MEM = "bench_mem"
    DDL = (
        f"CREATE TABLE {MT} (id Int64, bucket Int32, k String, v Int64) "
        "ENGINE = MergeTree PARTITION BY bucket ORDER BY id",
        f"CREATE TABLE {MEM} (id Int64, k String, v Int64) ENGINE = Memory",
    )
    KINDS = ("insert_json", "insert_values", "readback", "optimize",
             "truncate")

    def __init__(self, seed: int):
        self.rng = random.Random(seed * 7919 + 1)
        self.next_id = 0
        self.totals = {self.MT: [0, 0], self.MEM: [0, 0]}

    def _rows(self, table: str) -> list[tuple[int, str, int]]:
        n = self.rng.choice((64, 128, 192, 256))
        out = []
        for _ in range(n):
            out.append((self.next_id, self.rng.choice(WORDS),
                        self.rng.randint(-1000, 100_000)))
            self.next_id += 1
        tot = self.totals[table]
        tot[0] += n
        tot[1] += sum(r[2] for r in out)
        return out

    def statement(self, kind: str) -> tuple[str, list | None, object]:
        """``(sql, payload, expected)`` for one statement of ``kind``:
        expected is the row count an INSERT reports, or the readback row."""
        if kind == "insert_json":
            rows = self._rows(self.MT)
            lines = [json.dumps({"id": i, "bucket": i % 4, "k": k, "v": v})
                     for i, k, v in rows]
            return (f"INSERT INTO {self.MT} FORMAT JSONEachRow", lines,
                    len(rows))
        if kind == "insert_values":
            rows = self._rows(self.MEM)
            vals = ", ".join(f"({i}, '{k}', {v})" for i, k, v in rows)
            return f"INSERT INTO {self.MEM} VALUES {vals}", None, len(rows)
        if kind == "optimize":
            return f"OPTIMIZE TABLE {self.MT} FINAL", None, None
        if kind == "truncate":
            self.totals[self.MEM] = [0, 0]
            return f"TRUNCATE TABLE {self.MEM}", None, None
        mt, mem = self.totals[self.MT], self.totals[self.MEM]
        sql = (f"SELECT (SELECT count() FROM {self.MT}) AS mt_rows, "
               f"(SELECT sum(v) FROM {self.MT}) AS mt_sum, "
               f"(SELECT count() FROM {self.MEM}) AS mem_rows, "
               f"(SELECT sum(v) FROM {self.MEM}) AS mem_sum")
        return sql, None, [mt[0], mt[1] if mt[0] else None, mem[0],
                           mem[1] if mem[0] else None]
