"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 wlbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` also runs an event-logged session and prints the
per-layer metrics instead. Every scratch file lives under ``.bench_work/``
in the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "series_correction_project_updated_spark"
# A full measurement, 4 + 22 runs per workload, must fit in 3420 s, so a
# run measures few ops: a backfill pass with its reads costs about 15 s on
# 4 vCPUs, a late_refresh round about 9 s, mostly fixed per-job cost. Ops
# run while the next one fits the window, at least MIN_OPS. Three passes
# per run did not narrow the spread across runs, which comes from
# minutes-long slow periods of the shared machine.
MIN_OPS = 1
TRACED_OPS = 1
WARMUP_OPS = 1

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "read_s_p50": "s",
    "bytes_per_point": "B",
    "success_rate": "ratio",
}


def measure(wl, first: int, seconds: float, log) -> tuple[list[int], list[float], list[float]]:
    """Closed loop: start ops until the next one would end past ``seconds``
    (judged by the median op so far), with at least ``MIN_OPS`` ops."""
    ops, walls, reads, totals = [], [], [], []
    start = time.perf_counter()
    i = first
    while True:
        elapsed = time.perf_counter() - start
        if len(ops) >= MIN_OPS and elapsed + statistics.median(totals) > seconds:
            break
        t = time.perf_counter()
        try:
            wall, read_walls = wl.op(i)
        except Exception:
            wl.fail(i, [f"op {i} raised:\n{traceback.format_exc()}"])
            ops.append(i)
            break
        totals.append(time.perf_counter() - t)
        ops.append(i)
        walls.append(wall)
        reads += read_walls
        log(f"op {i}: {wall:.3f}s reads {[round(r, 3) for r in read_walls]}")
        i += 1
    return ops, walls, reads


def traced(wl, cores: int, work: str, untraced_walls: list[float], first: int, log) -> tuple[dict, list[int]]:
    """Event-logged ops in a new context of the same JVM, then (backfill) a
    ``local[1]`` pass. Returns the per-layer metrics and the ops it ran."""
    from . import box, layers
    from .eventlog import read_executions

    wl.spark.stop()
    events = os.path.join(work, "events")
    wl.rebind(box.start_session(work, cores, event_dir=events))
    # same warm JVM, but a new context starts new Python workers: without
    # this op the traced pass read 1.46x the untraced one
    wl.op(first, warm=True)
    ops = list(range(first + 1, first + 1 + TRACED_OPS))
    walls = [wl.op(i)[0] for i in ops]
    sweep = wl.sweep(ops[-1]) if hasattr(wl, "sweep") else None
    wl.check()
    wl.spark.stop()
    execs = read_executions(events)
    log(f"event log: {len(execs)} executions")
    metrics = dict.fromkeys(layers.ALL, 0.0)
    metrics.update(wl.layer_metrics(execs, ops, cores))
    metrics["trace.overhead_ratio"] = statistics.median(walls) / statistics.median(untraced_walls)
    if sweep is not None:
        metrics.update(layers.query_metrics(execs, sweep))
    if wl.scaling:
        wl.rebind(box.start_session(work, 1))
        ops.append(ops[-1] + 1)
        one = wl.op(ops[-1], warm=True)[0]
        metrics["scaling.backfill_speedup_4_over_1"] = one / statistics.median(untraced_walls)
        log(f"local[1] pass {one:.3f}s")
    return metrics, [first] + ops


def run(args, work: str, log) -> dict:
    from . import box, layers, selftest
    from .workloads import WORKLOADS

    cores = box.nproc()
    probe = box.cpu_probe()
    log(f"box: {cores} cores, driver {box.driver_mem_mb()} MB, cpu probe {probe:,.0f} iters/s (context only)")
    t0 = time.perf_counter()
    # the sampler walks /proc 4× a second, so it runs in traced runs only
    with box.RssSampler() if args.trace else contextlib.nullcontext() as rss:
        wl = WORKLOADS[args.workload](box.start_session(work, cores), work, args.seed, trace=bool(args.trace))
        try:
            wl.setup()
            for i in range(WARMUP_OPS):
                wl.op(i, warm=True)
            setup_s = time.perf_counter() - t0
            log(f"setup {setup_s:.3f}s")
            steal0, total0 = box.cpu_ticks()
            ops, walls, reads = measure(wl, WARMUP_OPS, args.seconds, log)
            steal1, total1 = box.cpu_ticks()
            steal = (steal1 - steal0) / max(1, total1 - total0)
            log(f"CPU steal while measuring: {steal:.1%} (context only)")
            if not walls or not reads:
                raise RuntimeError("no op completed:\n" + "\n".join(wl.errors))
            if args.trace:
                metrics, more = traced(wl, cores, work, walls, ops[-1] + 1, log)
                ops += more
            else:
                wl.check()
            log("checks done")
        finally:
            box.shutdown(wl.spark)
    log("stopped")
    wl.errors += selftest.run_all()
    failed = len([i for i in ops if i in wl.failed_ops])
    for e in wl.errors:
        log(f"CHECK FAILED: {e}")
    if args.trace:
        metrics["peak_rss_mb"] = rss.peak_mb  # read after the RSS sampler stopped
        out = {k: {"value": float(v), "unit": layers.unit(k)} for k, v in sorted(metrics.items())}
    else:
        values = {
            "setup_s": setup_s,
            "op_s_p50": statistics.median(walls),
            "read_s_p50": statistics.median(reads),
            "bytes_per_point": wl.bytes_per_point,
            "success_rate": (len(ops) - failed) / len(ops),
        }
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    print(json.dumps({"samples": {"op_s": len(walls), "read_s": len(reads)}, "op_s": walls, "read_s": reads, "steal": steal}))
    return {"correct": not wl.errors, "attempted": len(ops), "failed": failed, "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["backfill", "late_refresh"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"wlbench: no {PACKAGE}/ package next to wlbench/ under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from wlbench import box

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    box.prepare_env(ROOT, work)

    started = time.perf_counter()

    def log(msg):
        print(f"[wlbench {args.workload} {time.perf_counter() - started:7.2f}s] {msg}", file=sys.stderr, flush=True)

    try:
        from wlbench.run import run as run_workload

        result = run_workload(args, work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
