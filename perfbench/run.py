#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_batch --seed 1 --seconds 15 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics instead (half the
window untraced, then a session with the event log on for the other half,
so the tracing overhead is measured in the same run). Everything the run
writes lives under ``.perfbench_tmp/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.harness import Harness, cpu_ticks, isolate_env  # noqa: E402
from perfbench.workloads import QUERY_MIX, SETUPS, WORKLOADS  # noqa: E402

#: the program files the benchmark drives; without them it cannot run
REQUIRED = ("__spark_entry__.py", "engine/io.py", "scripts/run_cdc.py", "tests/oracle.py")
DRIVER_MEM = "1g"

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s", "write_amp": "ratio",
    "peak_rss_mb": "MB", "ok_ops_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.py_wait_s": "s",
        "spark.gc_s": "s", "spark.outside_jobs_s": "s", "spark.input_mb": "MB",
        "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.output_mb": "MB",
        "cdc.plan_s": "s", "run_cdc.changelog_write_s": "s",
        "run_cdc.snapshot_write_s": "s", "run_cdc.count_s": "s",
        "run_cdc.publish_s": "s", "cdc.unaccounted_s": "s", "cdc.read_amp": "ratio",
        "streaming.batches": "count", "streaming.batch_s": "s", "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
        "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
        "streaming.offsets_s": "s", "streaming.unaccounted_s": "s",
        "streaming.replay_overhead_s": "s", "streaming.snapshot_mb": "MB",
        "txlog.merge_s": "s", "txlog.ops_s": "s",
    }
    units.update({f"key.{k}_s": "s" for k in QUERY_MIX})
    units.update({"setup.first_s": "s", "trace.overhead_ratio": "ratio",
                  "host.steal_pct": "pct", "host.loop_ms": "ms"})
    return units


def steal_pct(since: tuple[int, int]) -> float:
    """Share of the machine's CPU time the hypervisor took since ``since``."""
    stolen, total = cpu_ticks()
    return 100.0 * (stolen - since[0]) / max(1, total - since[1])


def host_loop_ms() -> float:
    """Median wall of a fixed single-threaded Python loop: how fast this
    host runs right now. Contention on shared cores moves it without any
    steal showing."""
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) * 1e3


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def window(w, seconds: float, min_ops: int, prefix: str | None = None) -> None:
    """Closed loop, one client: ops until their timed walls sum to
    ``seconds`` and at least ``min_ops`` ran."""
    spent, i = 0.0, 0
    while spent < seconds or i < min_ops:
        spent += w.call(span=f"{prefix}{i}" if prefix else None)
        i += 1


def spark_layers(w, totals: dict[str, dict]) -> dict[str, float]:
    """Event-log totals of the traced ops, per op."""
    n = max(1, len(w.spans))
    t = {k: sum(v[k] for v in totals.values()) for k in eventlog.FIELDS}
    wall = sum((b - a) / 1e3 for _, a, b in w.spans)
    mb = 2.0 ** 20
    return {
        "spark.jobs": t["jobs"] / n,
        "spark.stages": t["stages"] / n,
        "spark.tasks": t["tasks"] / n,
        "spark.task_run_s": t["task_run_s"] / n,
        "spark.task_cpu_s": t["task_cpu_s"] / n,
        "spark.py_wait_s": (t["task_run_s"] - t["task_cpu_s"]) / n,
        "spark.gc_s": t["gc_s"] / n,
        "spark.outside_jobs_s": (wall - t["in_jobs_s"]) / n,
        "spark.input_mb": t["input_bytes"] / mb / n,
        "spark.shuffle_write_mb": t["shuffle_write_bytes"] / mb / n,
        "spark.spill_mb": t["spill_bytes"] / mb / n,
        "spark.output_mb": t["output_bytes"] / mb / n,
    }


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(ROOT, ".perfbench_tmp", f"{name}-{os.getpid()}")
    isolate_env(work, DRIVER_MEM)
    h = Harness(work)
    w = WORKLOADS[name](h, seed, os.path.join(work, "data"))
    try:
        t0 = time.perf_counter()
        w.generate()
        log(f"generate {time.perf_counter() - t0:.2f} s")
        setups = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            w.setup_once(i)
            setups.append(time.perf_counter() - t0)
        log("setups " + " ".join(f"{s:.2f}" for s in setups))
        t0 = time.perf_counter()
        w.prepare()
        log(f"prepare {time.perf_counter() - t0:.2f} s {getattr(w, 'verify_s', '')}")
        if not trace:
            stored, ticks = w.stored_bytes(), cpu_ticks()
            h.reset_peaks()
            window(w, seconds, w.min_ops)
            written = w.stored_bytes() - stored
            peak_rss = h.peak_rss_mb()
            log(f"host steal {steal_pct(ticks):.1f}% of CPU time in the window, "
                f"loop {host_loop_ms():.2f} ms")
            log("peak rss MB " + ", ".join(f"{k} {v:.0f}" for k, v in h.rss_parts_mb.items()))
            values = {
                "setup_s": statistics.median(setups),
                "op_p50_s": w.op_p50(),
                "rows_per_s": w.rows / sum(w.op_s),
                "write_amp": written / w.input_bytes,
                "peak_rss_mb": peak_rss,
                "ok_ops_ratio": w.verified / w.attempted,
            }
            units = END_TO_END
        else:
            window(w, seconds / 2, 2)
            base_p50 = statistics.median(w.op_s)
            n_untraced = len(w.op_s)
            log_dir = os.path.join(work, "eventlog")
            w.session(log_dir)
            w.call(counted=False)  # re-warm the new session, untimed
            w.start_tracing()
            ticks = cpu_ticks()
            try:
                window(w, seconds / 2, 2, prefix="s")
            finally:
                w.stop_tracing()
            steal, loop_ms = steal_pct(ticks), host_loop_ms()
            h.spark.stop()  # finishes the event log
            h.spark = None
            totals = eventlog.span_layers(eventlog.read_events(log_dir), w.spans)
            units = per_layer_units()
            values = dict.fromkeys(units, 0.0)
            values.update(spark_layers(w, totals))
            values.update(w.layers(totals))
            values["setup.first_s"] = setups[0]
            values["host.steal_pct"] = steal
            values["host.loop_ms"] = loop_ms
            values["trace.overhead_ratio"] = statistics.median(w.op_s[n_untraced:]) / base_p50
        log(f"{len(w.op_s)} ops: " + " ".join(f"{x:.3f}" for x in w.op_s))
        return {
            "correct": w.verified == w.attempted and not w.errors,
            "attempted": w.attempted,
            "failed": w.attempted - w.verified,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            "errors": w.errors,
        }
    finally:
        h.close()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 - no result line on a broken run
        traceback.print_exc()
        return 1
    errors = res.pop("errors")
    for e in errors:
        print(f"perfbench: verification failure: {e}", file=sys.stderr)
    sys.stdout.flush()
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
