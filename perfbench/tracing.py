"""Per-layer measurement for the traced run.

Two sources, both outside the program:

- :class:`Spans` wraps public functions of the engine's layers
  (``ch_sql.translate``, ``ch_sql.ch_insert``, ``ch_sql.insert_into_table``,
  ``sources.write.optimize_compact``) and records one span per outermost
  call: name, start, end, and the operation it ran under. The benchmark
  times the registry builders and ``DataFrame.collect`` itself.
- :func:`parse_event_log` reads the session's uncompressed, non-rolling
  Spark event log (JSON lines) into jobs, stages, task totals and the
  Python-worker metrics of each job.
"""

from __future__ import annotations

import functools
import json
import math
import os
import statistics
import time
from collections import defaultdict


class Spans:
    """Spans recorded at the layer boundaries; kept in memory. Each span
    is ``(name, start, end, group, info)``; ``group`` is the job group of
    the operation that was running (set by the benchmark's runner)."""

    def __init__(self):
        self.records: list[tuple[str, float, float, str | None, dict]] = []
        self.op: str | None = None
        self._depth: dict[str, int] = defaultdict(int)

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace ``owner.attr`` by a timing wrapper that records the
        outermost call. ``before(args)`` runs ahead of the call and
        ``after(args, state)`` returns the span's info dict."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            outer = self._depth[name] == 0
            state = before(args) if before and outer else None
            self._depth[name] += 1
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                self._depth[name] -= 1
                if outer:
                    info = after(args, state) if after else {}
                    self.records.append((name, t0, t1, self.op, info))

        setattr(owner, attr, timed)

    def of(self, name: str, groups=None) -> list:
        return [r for r in self.records
                if r[0] == name and (groups is None or r[3] in groups)]


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def install(spans: Spans) -> None:
    """Wrap the engine's layer entry points for the rest of the process."""
    from clickhouse_clickhouse_spark import ch_sql
    from clickhouse_clickhouse_spark.sources import write

    def table_dir(args):
        # insert_into_table(spark, spec, rows, path)
        path = args[3] if len(args) > 3 else None
        return path, dir_stats(path) if path else (0, 0)

    def files_added(args, state):
        path, (files, size) = state
        now = dir_stats(path) if path else (0, 0)
        return {"files": now[0] - files, "bytes": now[1] - size}

    spans.wrap(ch_sql, "translate", "translate",
               after=lambda args, _s: {"sql": args[0]})
    spans.wrap(ch_sql, "ch_insert", "ch_insert")
    spans.wrap(ch_sql, "insert_into_table", "insert_into_table",
               before=table_dir, after=files_added)
    # optimize_compact(spark, path, ...): bytes rewritten = table size after
    spans.wrap(write, "optimize_compact", "optimize_compact",
               after=lambda args, _s: {"bytes": dir_stats(args[1])[1]})


# Accumulable names of the Python-worker metrics (Spark 4.1).
PY_METRICS = {
    "time to run Python workers": "run_ms",
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}
TASK_FIELDS = ("task_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "input_bytes",
               "input_rows", "tasks") + tuple(PY_METRICS.values()) + (
                   "py_rows",)


def _python_row_accums(plan: dict, out: set[int]) -> None:
    """Accumulator ids of 'number of output rows' on plan nodes that run
    Python workers."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if "time to run Python workers" in metrics and \
            "number of output rows" in metrics:
        out.add(metrics["number of output rows"])
    for child in plan.get("children", []):
        _python_row_accums(child, out)


def parse_event_log(path: str) -> dict:
    """Jobs, stages and per-job task totals from one event log.

    Returns ``{"jobs": {id: {"group", "start", "end", "stages"}},
    "stages": {id: (start, end)}, "job_totals": {id: {field: value}}}``
    with times in epoch seconds."""
    jobs: dict[int, dict] = {}
    stages: dict[int, tuple[float, float]] = {}
    stage_job: dict[int, int] = {}
    py_rows: set[int] = set()
    totals: dict[int, dict] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0))
    tasks = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                jobs[jid] = {
                    "group": (e.get("Properties") or {}).get(
                        "spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None, "stages": e["Stage IDs"]}
                for s in e["Stage IDs"]:
                    stage_job[s] = jid
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Submission Time" in info:
                    stages[info["Stage ID"]] = (
                        info["Submission Time"] / 1000.0,
                        info["Completion Time"] / 1000.0)
            elif ev == "SparkListenerTaskEnd":
                tasks.append(e)
            elif ev.endswith(("SQLExecutionStart",
                              "SQLAdaptiveExecutionUpdate")):
                _python_row_accums(e.get("sparkPlanInfo", {}), py_rows)
    for e in tasks:
        jid = stage_job.get(e["Stage ID"])
        if jid is None:
            continue
        t = totals[jid]
        m = e.get("Task Metrics") or {}
        t["tasks"] += 1
        t["task_ms"] += m.get("Executor Run Time", 0)
        t["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        t["gc_ms"] += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics", {})
        t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        t["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0)
        t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        inp = m.get("Input Metrics", {})
        t["input_bytes"] += inp.get("Bytes Read", 0)
        t["input_rows"] += inp.get("Records Read", 0)
        for a in e["Task Info"].get("Accumulables", []):
            key = PY_METRICS.get(a.get("Name"))
            upd = a.get("Update")
            if not isinstance(upd, (int, float)):
                try:
                    upd = float(upd)
                except (TypeError, ValueError):
                    continue
            if key:
                t[key] += upd
            elif a.get("ID") in py_rows:
                t["py_rows"] += upd
    return {"jobs": jobs, "stages": stages, "job_totals": dict(totals)}


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b is not None and min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(recs: list[dict], spans: Spans, ev_file: str, w_start: float,
              w_end: float, cores: int) -> dict:
    """Per-layer metrics of the timed window, as ``{name: (value, unit)}``.
    Counts and times are per operation unless the name says otherwise."""
    ev = parse_event_log(ev_file)
    jobs, stages, totals = ev["jobs"], ev["stages"], ev["job_totals"]
    groups = {r["group"] for r in recs}
    n = len(recs)

    # Attribute jobs: by job group, else (a pool thread dropped the group)
    # to the operation whose wall interval contains the submission.
    op_jobs: dict[str, list[int]] = defaultdict(list)
    unattributed = 0
    for jid, j in jobs.items():
        g = j["group"]
        if g is None and w_start <= j["start"] <= w_end:
            unattributed += 1
            g = next((r["group"] for r in recs
                      if r["t0"] <= j["start"] <= r["t1"]), None)
        if g in groups:
            op_jobs[g].append(jid)

    tot = dict.fromkeys(TASK_FIELDS, 0)
    for js in op_jobs.values():
        for jid in js:
            for k, v in totals.get(jid, {}).items():
                tot[k] += v
    n_stages = sum(len([s for s in jobs[j]["stages"] if s in stages])
                   for js in op_jobs.values() for j in js)

    translate = spans.of("translate", groups)
    tr_by_group: dict[str, float] = defaultdict(float)
    for _n, a, b, g, _i in translate:
        tr_by_group[g] += b - a
    seen_sql: set = set()
    cold = []
    for _n, a, b, _g, info in spans.of("translate"):
        if info["sql"] not in seen_sql:
            seen_sql.add(info["sql"])
            cold.append(b - a)

    wall = build_self = plan = stage_time = job_gap = result = 0.0
    gaps, build_ms, eager_jobs, eager_ms, result_ms, result_rows = \
        [], [], [], [], [], []
    for r in recs:
        g, t0, tb, t1 = r["group"], r["t0"], r["tb"], r["t1"]
        js = [jobs[j] for j in op_jobs.get(g, [])]
        st = [stages[s] for j in js for s in j["stages"] if s in stages]
        s_len = union_length(st, t0, t1)
        j_len = union_length([(j["start"], j["end"]) for j in js], t0, t1)
        wall += t1 - t0
        stage_time += s_len
        job_gap += max(0.0, j_len - s_len)
        gaps.append(t1 - t0 - s_len)
        if r["op"].kind == "read":
            tr_build = sum(b - a for _n, a, b, gg, _i in translate
                           if gg == g and a < tb)
            in_build = [j for j in js if t0 <= j["start"] <= tb]
            build_ms.append(tb - t0)
            eager_jobs.append(len(in_build))
            eager_ms.append(union_length(
                [(j["start"], j["end"]) for j in in_build], t0, tb))
            build_self += max(0.0, tb - t0 - tr_build
                              - union_length(st, t0, tb))
            starts = [j["start"] for j in js if tb <= j["start"] <= t1]
            plan += min(starts) - tb if starts else 0.0
            ends = [j["end"] for j in js if j["end"] and tb <= j["end"] <= t1]
            res = t1 - max(ends) if ends else t1 - tb
            result_ms.append(res)
            result += res
            result_rows.append(r.get("n_rows", 0))

    writes = [r for r in recs if r["op"].kind == "write"]
    w_lat = [1000 * (r["t1"] - r["t0"]) for r in writes]
    inserts = spans.of("insert_into_table", groups)
    mt_groups = {r["group"] for r in writes if r["op"].name == "insert_json"}
    mt_input = sum(len("\n".join(r["op"].payload)) for r in writes
                   if r["op"].name == "insert_json")
    optimizes = spans.of("optimize_compact", groups)
    write_time = sum(b - a for nm in ("ch_insert", "insert_into_table",
                                      "optimize_compact")
                     for _n, a, b, _g, _i in spans.of(nm, groups))
    readbacks = [r for r in recs if "mt_files" in r]

    translate_t = sum(tr_by_group.values())
    py_share = (min(1.0, tot["run_ms"] / tot["task_ms"])
                if tot["task_ms"] else 0.0)
    w = wall or 1.0
    m = {
        "ch_sql.translate_ms": (1000 * _mean(b - a for _n, a, b, _g, _i
                                             in translate), "ms"),
        "ch_sql.translate_cold_ms": (1000 * _mean(cold), "ms"),
        "ch_sql.translate_calls": (len(translate) / n, "count"),
        "build.ms": (1000 * _mean(build_ms), "ms"),
        "build.eager_jobs": (_mean(eager_jobs), "count"),
        "build.eager_ms": (1000 * _mean(eager_ms), "ms"),
        "sched.jobs": (sum(len(v) for v in op_jobs.values()) / n, "count"),
        "sched.stages": (n_stages / n, "count"),
        "sched.tasks": (tot["tasks"] / n, "count"),
        "sched.gap_ms": (1000 * _mean(gaps), "ms"),
        "sched.unattributed_jobs": (unattributed / n, "count"),
        "exec.task_ms": (tot["task_ms"] / n, "ms"),
        "exec.cpu_ms": (tot["cpu_ms"] / n, "ms"),
        "exec.gc_ms": (tot["gc_ms"] / n, "ms"),
        "exec.core_busy_share": (
            tot["task_ms"] / (1000 * cores * (w_end - w_start)), "share"),
        "exec.shuffle_read_bytes": (tot["shuffle_read_bytes"] / n, "B"),
        "exec.shuffle_write_bytes": (tot["shuffle_write_bytes"] / n, "B"),
        "exec.spill_bytes": (tot["spill_bytes"] / n, "B"),
        "scan.input_bytes": (tot["input_bytes"] / n, "B"),
        "scan.input_rows": (tot["input_rows"] / n, "count"),
        "scan.rows_per_result_row": (
            tot["input_rows"] / max(1, sum(result_rows)), "ratio"),
        "pykernel.total_ms": (tot["run_ms"] / n, "ms"),
        "pykernel.boot_ms": (tot["boot_ms"] / n, "ms"),
        "pykernel.init_ms": (tot["init_ms"] / n, "ms"),
        "pykernel.bytes_sent": (tot["bytes_sent"] / n, "B"),
        "pykernel.bytes_received": (tot["bytes_received"] / n, "B"),
        "pykernel.rows_received": (tot["py_rows"] / n, "count"),
        "result.ms": (1000 * _mean(result_ms), "ms"),
        "result.rows": (_mean(result_rows), "count"),
        "write.p50_ms": (statistics.median(w_lat) if w_lat else 0.0, "ms"),
        "write.tail_ms": (tail_percentile(w_lat)[1] if w_lat else 0.0, "ms"),
        "write.parse_ms": (1000 * _mean(b - a for _n, a, b, _g, _i
                                        in spans.of("ch_insert", groups)),
                           "ms"),
        "write.write_ms": (1000 * _mean(b - a for _n, a, b, _g, _i
                                        in inserts), "ms"),
        "write.optimize_ms": (1000 * _mean(b - a for _n, a, b, _g, _i
                                           in optimizes), "ms"),
        "write.optimize_bytes_rewritten": (
            _mean(i["bytes"] for *_x, i in optimizes), "B"),
        "write.files_per_insert": (
            _mean(i["files"] for *_x, g, i in inserts if g in mt_groups),
            "count"),
        "write.bytes_per_input_byte": (
            sum(i["bytes"] for *_x, i in inserts) / mt_input
            if mt_input else 0.0, "ratio"),
        "scan.files_per_table_read": (
            _mean(r["mt_files"] for r in readbacks), "count"),
        "trace.ops_per_s": (n / (w_end - w_start), "1/s"),
        "share.translate": (translate_t / w, "share"),
        "share.build": (build_self / w, "share"),
        "share.plan": (plan / w, "share"),
        "share.sched_gap": (job_gap / w, "share"),
        "share.task": (stage_time * (1 - py_share) / w, "share"),
        "share.pykernel": (stage_time * py_share / w, "share"),
        "share.result": (result / w, "share"),
        "share.unaccounted": ((wall - translate_t - build_self - plan
                               - job_gap - stage_time - result) / w, "share"),
        "share.write": (write_time / w, "share"),
    }
    return m


def tail_percentile(values: list[float]) -> tuple[int, float]:
    """The highest whole percentile with at least 10 samples above it,
    but at least p90, by nearest rank; and its value. Below 100 samples
    p90 has fewer than 10 samples above it; the window runs whole passes,
    so those are repeats of the slowest operations."""
    xs = sorted(values)
    n = len(xs)
    q = max(90, math.floor(100 * (n - 10) / n))
    return q, xs[max(1, math.ceil(q * n / 100)) - 1]
