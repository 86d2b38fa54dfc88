"""Paired perfbench A/B of a base git ref against the working tree.

Usage (from anywhere inside the checkout):

    python tools/perf_ab.py --base HEAD~1 --workload dialect_rw \
        --seeds 3001-3010 --seconds 8

The base ref is extracted with ``git archive`` into a temporary
directory; the working tree side is the checkout itself, uncommitted
edits included. For each seed, ``perfbench/run.py`` runs once on each
side, one run at a time, and the side that runs first alternates from
seed to seed so that drift over time hits both alike. The first run on
a side also builds its fixtures under that side's ``.perfbench/``.

Printed at the end, per metric of the final JSON line: each side's
median and quartiles, and in how many pairs the change beat the base
(the direction comes from ``BENCHMARK.json``); then, per operation, the
median over runs of the per-run medians perfbench logs to stderr. Runs
that report failed operations are counted and shown. ``--json`` also
writes every run's metrics and operation medians to a file. Nothing is
written under ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OP_LINE = re.compile(r"perfbench:\s+(\w+): (\d+) x median (\d+) ms")


def parse_seeds(text: str) -> list[int]:
    """``3001-3010`` or ``7,11,13`` (or a mix) as a list of seeds."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def extract(ref: str, dest: str) -> None:
    """The tree of ``ref`` under ``dest``, through ``git archive``."""
    archive = subprocess.run(["git", "-C", ROOT, "archive", ref],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(side_dir: str, workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    """One perfbench run in ``side_dir``: its final JSON line plus the
    per-operation medians from stderr."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=side_dir, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise RuntimeError(f"perfbench failed in {side_dir} (seed {seed})")
    out = json.loads(lines[-1])
    out["ops"] = {m.group(1): float(m.group(3))
                  for m in OP_LINE.finditer(proc.stderr)}
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions() -> dict[str, str]:
    """Metric name -> ``higher``/``lower`` from BENCHMARK.json."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError:
        return {}
    return {m["name"]: m["better"] for key in ("end_to_end", "per_layer")
            for m in bench.get(key, [])}


def summarize(runs: dict[str, list[dict]]) -> None:
    better = directions()
    base, change = runs["base"], runs["change"]
    names = sorted(set().union(*(r["metrics"] for r in base + change)))
    print(f"{'metric':34} {'base median [q1-q3]':>28} "
          f"{'change median [q1-q3]':>28} {'wins':>6}")
    for name in names:
        b = [r["metrics"][name]["value"] for r in base
             if name in r["metrics"]]
        c = [r["metrics"][name]["value"] for r in change
             if name in r["metrics"]]
        if not b or not c:
            continue
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(sign * (y - x) > 0 for x, y in zip(b, c))
        bq, cq = quartiles(b), quartiles(c)
        print(f"{name:34} {bq[1]:12.4g} [{bq[0]:.4g}-{bq[2]:.4g}]"
              f"{'':>2} {cq[1]:12.4g} [{cq[0]:.4g}-{cq[2]:.4g}]"
              f"{'':>2} {wins:>2}/{min(len(b), len(c))}")
    for side, rs in runs.items():
        bad = [r for r in rs if not r.get("correct") or r.get("failed")]
        print(f"{side}: {len(rs)} runs, {len(bad)} with failed operations")
    ops = sorted(set().union(*(r["ops"] for r in base + change)))
    print(f"\n{'operation median (ms)':34} {'base':>10} {'change':>10}")
    for op in ops:
        med = [statistics.median(r["ops"][op] for r in rs if op in r["ops"])
               if any(op in r["ops"] for r in rs) else float("nan")
               for rs in (base, change)]
        print(f"{op:34} {med[0]:10.0f} {med[1]:10.0f}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", default="HEAD",
                   help="git ref of the base side (default HEAD)")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=parse_seeds,
                   help="e.g. 3001-3010 or 7,11,13")
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--json", help="write every run's results here")
    p.add_argument("--base-dir",
                   help="extract the base here and keep it, so that later "
                        "runs reuse its fixtures (default: a temporary "
                        "directory, removed at the end)")
    args = p.parse_args(argv)

    base_dir = args.base_dir or tempfile.mkdtemp(prefix="perf_ab_base_")
    os.makedirs(base_dir, exist_ok=True)
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    try:
        extract(args.base, base_dir)
        sides = {"base": base_dir, "change": ROOT}
        for i, seed in enumerate(args.seeds):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {}
            for side in order:
                pair[side] = run_once(sides[side], args.workload, seed,
                                      args.seconds, args.trace)
                runs[side].append(pair[side])
            shown = " ".join(
                f"{side}={pair[side]['metrics']['ops_per_s']['value']:.4g}"
                for side in ("base", "change")
                if "ops_per_s" in pair[side]["metrics"])
            print(f"seed {seed} ({order[0]} first): {shown}", flush=True)
        if args.json:
            with open(args.json, "w") as f:
                json.dump({"base": args.base, "workload": args.workload,
                           "seeds": args.seeds, "runs": runs}, f, indent=1)
        summarize(runs)
    finally:
        if not args.base_dir:
            shutil.rmtree(base_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
