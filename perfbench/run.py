#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 20 --trace 0

Builds the workload's inputs from the seed, sets up (several times; the
median is `setup_s`), runs timed passes for about `--seconds`, checks every
pass's output, and prints a metric table followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 they are the per-layer ones, taken from a
run with the Spark event log, the library's job labels and the benchmark's
spans turned on. Must be run from the root of a checkout of the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

import harness
import stats
from workloads import WORKLOADS

SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "host.probe_s": "s",
    "trace.wall_s": "s",
    "scaling_eff": "ratio",
    "scaling.local1_s": "s",
    "spark.scan.s": "s",
    "spark.scan.bytes": "bytes",
    "spark.exchange.write_bytes": "bytes",
    "spark.exchange.read_bytes": "bytes",
    "spark.exchange.fetch_wait_s": "s",
    "overlay_df.s": "s",
    "spark.arrow.s": "s",
    "overlay_df.rings_out": "count",
    "kernel.batch.s": "s",
    "kernel.batch.us_per_job": "us",
    "spark.checkpoint.s": "s",
    "spark.checkpoint.bytes": "bytes",
    "distributed.merge.s": "s",
    "distributed.merge.rows_out": "count",
    "distributed.split.s": "s",
    "distributed.split.rounds": "count",
    "distributed.split.rows_out": "count",
    "distributed.split.blowup": "ratio",
    "distributed.fill.s": "s",
    "distributed.fill.strip_skew": "ratio",
    "distributed_extract.s": "s",
    "distributed_extract.tier": "code",
    "distributed_extract.max_task_s": "s",
    "distributed_extract.rings": "count",
    "distributed.labelled_share": "ratio",
    "spatial.pip.s": "s",
    "spatial.pip.candidates": "count",
    "spatial.pip.matches": "count",
    "spatial.pip.hit_ratio": "ratio",
    "spatial.tiles.s": "s",
    "spatial.tiles.cover_rows": "count",
    "spatial.knn.s": "s",
    "spatial.knn.broadcast_bytes": "bytes",
    "float_shell.s": "s",
    "kernel.segments.s": "s",
    "kernel.split.s": "s",
    "kernel.split.segs_out": "count",
    "kernel.fill.s": "s",
    "kernel.extract.s": "s",
    "kernel.extract.rings": "count",
    "spark.python.run_s": "s",
    "spark.python.bytes_in": "bytes",
    "spark.python.bytes_out": "bytes",
    "host.cpu_util": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "spark.cpu_util": "ratio",
    "spark.gc_s": "s",
}

RESULTS = os.path.join(os.path.dirname(harness.WORK), "perfbench-results")


def host_probe() -> float:
    """A fixed pure-CPU loop; its time explains outliers, nothing more."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i & 1023
    return time.perf_counter() - t0


def measure(wl, seconds: float) -> dict:
    """Set up SETUP_REPS times (session start, package ship, inputs), warm
    once, then run timed passes until `seconds` would be overrun."""
    setups = []
    for rep in range(SETUP_REPS):
        with wl.tracer.span("setup", rep=rep):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
    with wl.tracer.span("setup.warm"):
        t0 = time.perf_counter()
        wl.warm_up()
        warm = time.perf_counter() - t0
    walls, rates, attempted, problems, spent = [], [], 0, [], []
    deadline = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        try:
            res = wl.timed_pass()
        except Exception:
            traceback.print_exc()
            attempted += 1
            problems.append("pass raised")
            break
        walls.append(res.wall)
        rates.append(res.items / res.wall)
        attempted += res.ops
        problems += res.problems
        # stop when the next pass (checks and restarts included) would overrun
        spent.append(time.perf_counter() - t0)
        if time.perf_counter() + stats.median(spent) > deadline:
            break
    return {
        "setups": setups,
        "warm": warm,
        "walls": walls,
        "rates": rates,
        "attempted": attempted,
        "problems": problems,
    }


def run_all(args) -> int:
    """Every workload in its own process, then one table and one JSON line
    whose metrics are named <workload>.<metric>."""
    units = PER_LAYER if args.trace else END_TO_END
    results, code = {}, 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode or not lines:
            print(f"workload {name} exited with {proc.returncode}", file=sys.stderr)
            code = 1
            continue
        results[name] = json.loads(lines[-1])
    print(f"\n{'metric':<34}" + "".join(f"{n:>16}" for n in results))
    for k, unit in units.items():
        vals = "".join(f"{r['metrics'][k]['value']:16.4f}" for r in results.values())
        print(f"{k:<34}{vals}  {unit}")
    print(json.dumps({
        "correct": code == 0 and all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()},
    }))
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"],
                    help="one workload, or `all` to run each in turn in its own process")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    harness.prepare_workdir()
    try:
        import ioverlay_spark  # noqa: F401
    except ImportError as exc:
        print(f"run from the root of a checkout of the repository: {exc}", file=sys.stderr)
        return 2
    probe_s = host_probe()
    tracer = harness.Tracer(f"{args.workload}-{args.seed}-t{args.trace}", bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, tracer)
    layers = {}
    try:
        with harness.RssSampler() as rss:
            m = measure(wl, args.seconds)
            if args.trace and m["walls"]:
                layers = wl.layers()
    finally:
        wl.close()
    if not m["walls"]:
        print("no pass completed", file=sys.stderr)
        return 1

    wall = stats.median(m["walls"])
    e2e = {
        "setup_s": stats.median(m["setups"]) + m["warm"],
        "wall_s": wall,
        "items_per_s": stats.median(m["rates"]),
        "peak_rss_mb": rss.peak_mb,
    }
    failed = len(m["problems"])
    for p in m["problems"]:
        print(f"CHECK FAILED: {p}")
    q1, _, q3 = stats.quartiles(m["walls"])
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(m['walls'])} passes, wall quartiles {q1:.4f} / {wall:.4f} / {q3:.4f} s, "
          f"items = {wl.ITEMS}")
    tail = stats.tail_percentile(m["walls"])
    if tail:
        print(f"  wall p{tail[0]} {tail[1]:.4f} s")
    print(f"  error_rate {failed / m['attempted']:.6f} ({failed} of {m['attempted']} ops)")
    print(f"  host.probe_s {probe_s:.4f} s (a fixed CPU loop at run start; explains outliers)")
    for k, v in e2e.items():
        print(f"  {k:<34} {v:14.4f} {END_TO_END[k]}")

    os.makedirs(RESULTS, exist_ok=True)
    result_path = os.path.join(RESULTS, f"{args.workload}-trace{args.trace}.json")
    if args.trace:
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(layers)
        metrics["host.probe_s"] = probe_s
        metrics["trace.wall_s"] = wall
        for k, v in metrics.items():
            print(f"  {k:<34} {v:14.4f} {PER_LAYER[k]}")
        untraced = os.path.join(RESULTS, f"{args.workload}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["wall_s"]
            print(f"  tracing overhead {wall - base:+.4f} s on wall_s "
                  f"(untraced {base:.4f} s, last untraced run in this checkout)")
        spans = os.path.join(RESULTS, f"spans-{args.workload}-{args.seed}.json")
        tracer.write(spans)
        print(f"  spans: {os.path.relpath(spans, harness.ROOT)}")
        if wl.udf_profile:
            prof = os.path.join(RESULTS, f"udf-profile-{args.workload}-{args.seed}.json")
            with open(prof, "w") as f:
                json.dump(wl.udf_profile, f, indent=1)
            print(f"  Python UDF profile of the warm-up pass: {os.path.relpath(prof, harness.ROOT)}")
            for row in sorted(wl.udf_profile, key=lambda r: -r["self_s"])[:5]:
                print(f"    {row['self_s']:8.3f} s own  {row['function']}")
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    with open(result_path, "w") as f:
        json.dump({"seed": args.seed, **e2e, "walls": m["walls"], "setups": m["setups"],
                   "warm": m["warm"], "probe_s": probe_s}, f)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": m["attempted"],
        "failed": failed,
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
