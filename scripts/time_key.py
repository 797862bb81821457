#!/usr/bin/env python
"""Quick per-key timing loop for optimization work (guide §1.4).

Usage: python scripts/time_key.py <key> [key ...] [--reps N]
Times each key with the noop sink on a warmed bench-shaped session
(input-sized confs, same as bench.py) and prints min/med/max, plus
``compiles``: the Janino class compilations during the timed reps
(Spark's ``CodegenMetrics`` count). A key compiles its classes once, in
its first rep; a count that grows with ``--reps`` means the class cache
evicts them and every rep recompiles. This is the inner loop for
optimization A/Bs; the scored record stays bench.py.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Warm noop-sink timing per key.", allow_abbrev=False
    )
    ap.add_argument("keys", nargs="+", help="registry keys to time")
    ap.add_argument("--reps", type=int, default=5, help="timed reps per key")
    return ap.parse_args(argv)


def main() -> None:
    ns = parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from engine import registry
    from engine.io import harness_session

    registry.load_all()
    spark, _ = harness_session(sf_dir, app="time_key")
    spark.range(1_000_000).count()  # JVM warm-up
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    for key in ns.keys:
        fn = registry.QUERIES[key]
        spark.sparkContext.setJobDescription(f"time_key:{key}")
        ts, n0 = [], compiled.getCount()
        for _ in range(ns.reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        print(
            f"{key}: min={ts[0]:.4f} med={ts[len(ts) // 2]:.4f} max={ts[-1]:.4f} "
            f"reps={ns.reps} compiles={compiled.getCount() - n0}"
        )
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
