"""Closed-loop benchmark of the engine, one workload per process.

Usage (from the root of a checkout of the engine):

    python3 perfbench/run.py --workload clickbench_x10 --seed 1 \
        --seconds 10 --trace 0

The run generates (or reuses) its seeded inputs, starts the engine's
SparkSession on ``local[<cores>]``, warms the workload to steady state,
runs its operations back to back for ``--seconds``, checks every result
against the DuckDB oracle or the write stream's known totals, and prints
one JSON line last: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Progress and details go to stderr.
Everything it writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Warm-up: TINY_WARM_S of passes over a tiny fixture, then passes over the
# real fixture until one differs from the previous one by less than
# WARM_TOL (the ops_per_s bound in BENCHMARK.json), at most MAX_WARM_PASSES.
# NOTES.md has the measurements behind these numbers.
WARM_TOL = 0.10
MAX_WARM_PASSES = 2
TINY_WARM_S = 12


def log(*a) -> None:
    print("perfbench:", *a, file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep every file the JVM, Spark and Python write inside the run dir;
    pin the Python-side time zone so collected timestamps are UTC like the
    session's."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # bytecode caches of every imported module, also for Python workers
    sys.pycache_prefix = os.path.join(WORK, "pycache")
    os.environ["PYTHONPYCACHEPREFIX"] = sys.pycache_prefix
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={run_dir}")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    sys.path.insert(0, ROOT)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Runner:
    """Executes operations on one session and records their timings."""

    def __init__(self, spark, data_dir: str, run_dir: str, spans):
        from clickhouse_clickhouse_spark import ch_sql
        from clickhouse_clickhouse_spark.registry import all_queries

        self.spark = spark
        self.sc = spark.sparkContext
        self.data_dir = data_dir
        self.mt_dir = os.path.join(run_dir, "datadir")
        self.queries = all_queries(order="stable")
        self.ch_sql = ch_sql
        self.spans = spans

    def run(self, op, group: str) -> dict:
        """Run one operation; returns its record. Exceptions are caught
        and recorded: a failed operation counts in ``failed``."""
        self.sc.setJobGroup(group, op.name)
        rec = {"op": op, "group": group, "err": None, "rows": None,
               "cols": None}
        if self.spans is not None:
            self.spans.op = group
            if op.kind == "readback":
                from tracing import dir_stats
                rec["mt_files"] = dir_stats(self.mt_dir)[0]
        t0 = time.time()
        tb = t0
        try:
            if op.kind == "read":
                df = self.queries[op.name](self.spark, self.data_dir)
                tb = time.time()
                rec["cols"] = df.columns
                rec["rows"] = df.collect()
            elif op.kind == "write":
                rec["rows"] = self.ch_sql.ch_statement(
                    self.spark, op.sql, data=op.payload).collect()
            else:
                df = self.ch_sql.ch_sql(self.spark, op.sql)
                rec["cols"] = df.columns
                rec["rows"] = df.collect()
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            rec["err"] = f"{type(e).__name__}: {e}"[:500]
        rec.update(t0=t0, tb=tb, t1=time.time())
        if self.spans is not None:
            self.spans.op = None
        return rec


def run_pass(runner, stream) -> float:
    """One untimed pass; returns its duration."""
    t0 = time.time()
    for op in stream.pass_ops():
        rec = runner.run(op, "warmup")
        if rec["err"]:
            log(f"warm-up {op.name} failed: {rec['err']}")
    return time.time() - t0


def warm_up(runner, stream, tiny_dir: str) -> tuple[int, float]:
    """Warm the JVM on the tiny fixture first: the driver-side code paths
    (Catalyst, scheduling, py4j) get hot on many cheap queries. Then run
    passes over the real fixture until one takes within WARM_TOL of the
    previous one. Returns (real passes, warm-up seconds)."""
    real = runner.data_dir
    t0 = time.time()
    runner.data_dir = tiny_dir
    tiny = 0
    while time.time() - t0 < TINY_WARM_S:
        run_pass(runner, stream)
        tiny += 1
    log(f"tiny warm-up: {tiny} passes in {time.time() - t0:.2f}s")
    runner.data_dir = real
    prev = None
    passes = 0
    while passes < MAX_WARM_PASSES:
        dt = run_pass(runner, stream)
        passes += 1
        log(f"warm-up pass {passes}: {dt:.2f}s")
        if prev is not None and abs(dt - prev) < WARM_TOL * prev:
            break
        prev = dt
    return passes, time.time() - t0


def timed_window(runner, stream, seconds: float) -> tuple[list, float, float]:
    """Run whole passes until ``seconds`` have elapsed, so every run times
    the same mix of operations however many passes fit."""
    recs = []
    start = time.time()
    while time.time() < start + seconds:
        for op in stream.pass_ops():
            recs.append(runner.run(op, f"op{len(recs)}"))
    return recs, start, recs[-1]["t1"]


def main(argv) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "clickhouse_clickhouse_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check.py"))):
        log(f"no engine checkout at {ROOT}: expected "
            "clickhouse_clickhouse_spark/ and tools/check.py next to "
            "perfbench/")
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    if args.seconds <= 0:
        log("--seconds must be positive")
        return 2
    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    os.makedirs(run_dir)
    try:
        prepare_env(run_dir)
        result = run(args, wl, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, wl, run_dir: str) -> dict:
    import checks
    import datagen
    import tracing
    from workloads import OpStream

    data_dir, gen = datagen.build_fixture(
        os.path.join(WORK, "fixtures"), wl.scale, wl.reps)
    tiny_dir, tiny = datagen.build_fixture(
        os.path.join(WORK, "fixtures"), 0.001, 1)
    gen["datagen_s"] += tiny["datagen_s"]
    log(f"fixture {data_dir} ready in {gen['datagen_s']:.2f}s")

    spans = None
    if args.trace:
        spans = tracing.Spans()
        tracing.install(spans)

    from clickhouse_clickhouse_spark.session import get_spark

    n_cores = cores()
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if args.trace:
        ev_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(ev_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t_session = time.time()
    spark = get_spark("perfbench", cores=n_cores, extra_conf=conf)
    sc = spark.sparkContext
    jvm = sc._gateway.proc
    session_s = time.time() - t_session

    stream = OpStream(wl, args.seed)
    runner = Runner(spark, data_dir, run_dir, spans)
    try:
        if wl.writes:
            from datagen import WriteStream
            spark.conf.set("spark.clickhouse_clickhouse_spark.dataDir",
                           runner.mt_dir)
            for ddl in WriteStream.DDL:
                runner.ch_sql.ch_statement(spark, ddl)
        passes, warmup_s = warm_up(runner, stream, tiny_dir)
        recs, w_start, w_end = timed_window(runner, stream, args.seconds)
        setup_s = w_start - T_START - gen["datagen_s"]
        rss_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm.pid)) / 1024.0
    finally:
        spark.stop()
        sc._gateway.shutdown()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    failures = checks.check(recs, data_dir)
    for f in failures:
        log("FAILED", f)

    by_name: dict[str, list[float]] = {}
    for r in recs:
        by_name.setdefault(r["op"].name, []).append(r["t1"] - r["t0"])
    for name, ts in sorted(by_name.items()):
        log(f"  {name}: {len(ts)} x median {1000 * statistics.median(ts):.0f} ms")
    reads = [r for r in recs if r["op"].kind != "write"]
    lat = [1000 * (r["t1"] - r["t0"]) for r in reads]
    q, tail = tracing.tail_percentile(lat)
    log(f"{len(recs)} ops in {w_end - w_start:.2f}s; {len(reads)} queries; "
        f"query.tail_ms is p{q} of n={len(lat)}; warm-up {passes} passes "
        f"in {warmup_s:.2f}s; session {session_s:.2f}s")
    out = {"correct": not failures, "attempted": len(recs),
           "failed": len(failures)}
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (len(recs) / (w_end - w_start), "1/s"),
            "query_p50_ms": (statistics.median(lat), "ms"),
        }
    else:
        ev_file = os.path.join(ev_dir, os.listdir(ev_dir)[0])
        metrics = tracing.per_layer(recs, spans, ev_file, w_start, w_end,
                                    n_cores)
        metrics.update({
            "query.tail_ms": (tail, "ms"),
            "mem.peak_rss_mb": (rss_mb, "MB"),
            "setup.session_s": (session_s, "s"),
            "setup.warmup_s": (warmup_s, "s"),
            "setup.datagen_s": (gen["datagen_s"], "s"),
            "setup.warmup_passes": (passes, "count"),
        })
    out["metrics"] = {k: {"value": v, "unit": u}
                      for k, (v, u) in metrics.items()}
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
