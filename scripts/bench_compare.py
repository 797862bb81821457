#!/usr/bin/env python
"""Same-harness Spark-vs-DuckDB comparison over the registered oracles.

Runs each selected key's Spark DataFrame program AND its DuckDB oracle SQL
on the SAME parquet fixtures, min-of-N warm, and prints a markdown table
plus one JSON line. This is the discipline BENCH.md's r02 section records:
both engines timed in one session, identical inputs, identical logical
work — no stale-baseline contamination.

Usage:
    python scripts/bench_compare.py [sf_dir] [keys_csv] [reps]

Defaults: sf_dir=/root/testdata/sf0.1, keys = the bench.py headline set
that has oracles, reps=3.

r06 (VERDICT r05 items 2+4): reps are INTERLEAVED — each rep times both
engines back-to-back, alternating which engine goes first (rep 0
spark-first, rep 1 duck-first, ...), so a host stall or a slow-engine
session lands on both sides symmetrically instead of flattering
whichever engine ran in the good minutes. Output rows carry min AND max
per engine so the recorded ratio's sensitivity to drift is visible.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_KEYS = [
    "agg_pricing_summary",
    "agg_revenue_by_nation",
    "agg_returned_items",
    "agg_large_volume_customer",
    "join_disjunctive_pred",
    "win_topk_per_group",
    "win_sessionize",
    "cdc_snapshot_diff",
    "cdc_dedup_extract",
    "llm_tf_top_terms",
    "llm_centroids",
    "llm_near_dedup_embedding",
    "llm_dedup_clusters",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    keys = sys.argv[2].split(",") if len(sys.argv) > 2 else DEFAULT_KEYS
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    # sf100 symmetric materialization needs >1g collect headroom; scoped
    # here via env (engine sessions keep the 1g guard — ADVICE r06).
    # Startup-only conf, so it must be set before get_spark.
    os.environ.setdefault("SPARK_GRAFT_MAX_RESULT", "16g")

    from engine import registry
    from engine.io import harness_session
    from tests.oracle import duck_run_df

    registry.load_all()
    spark, bench_confs = harness_session(sf_dir, app="bench-compare")
    # Arrow-backed toPandas: the DuckDB side materializes its result as a
    # pandas frame (vectorized, native); Spark's row-based .collect()
    # builds one Python Row object per result row, which at ~1M output
    # rows costs ~7 s of pure driver-side object churn that the engine
    # never spends (measured: win_sessionize sf1 = 1.0 s to a noop sink,
    # 7.8 s to .collect(), 0.5 s to Arrow toPandas). Both engines now
    # land in a pandas DataFrame — symmetric materialization work.
    print(f"confs: {bench_confs}", file=sys.stderr)

    rows = []
    for k in keys:
        fn = registry.QUERIES[k]
        sql = registry.ORACLE_SQL.get(k)
        fn(spark, sf_dir).toPandas()  # warm (plan compile, fixture cache)
        if sql is not None:
            duck_run_df(sf_dir, sql)  # warm (duckdb reads + plans)
        s_times: list[float] = []
        d_times: list[float] | None = [] if sql is not None else None
        for rep in range(reps):
            # alternate which engine goes first so host drift is symmetric
            legs = ["spark", "duck"] if rep % 2 == 0 else ["duck", "spark"]
            for leg in legs:
                if leg == "spark":
                    t0 = time.time()
                    fn(spark, sf_dir).toPandas()
                    s_times.append(time.time() - t0)
                elif d_times is not None:
                    t0 = time.time()
                    duck_run_df(sf_dir, sql)
                    d_times.append(time.time() - t0)
        rows.append(
            {
                "key": k,
                "spark_s": round(min(s_times), 4),
                "spark_max": round(max(s_times), 4),
                "duck_s": round(min(d_times), 4) if d_times else None,
                "duck_max": round(max(d_times), 4) if d_times else None,
                "ratio": round(min(s_times) / min(d_times), 2) if d_times else None,
            }
        )
        print(
            f"| {k} | {rows[-1]['spark_s']} ({rows[-1]['spark_max']}) |"
            f" {rows[-1]['duck_s']} ({rows[-1]['duck_max']}) |"
            f" {rows[-1]['ratio']} |",
            file=sys.stderr,
        )

    total_s = round(sum(r["spark_s"] for r in rows), 4)
    total_d = round(sum(r["duck_s"] for r in rows if r["duck_s"]), 4)
    print(
        json.dumps(
            {
                "metric": "bench_compare",
                "unit": "sec",
                "sf_dir": sf_dir,
                "reps": reps,
                "spark_total": total_s,
                "duck_total": total_d,
                "confs": bench_confs,
                "rows": rows,
            }
        )
    )


if __name__ == "__main__":
    main()
