#!/usr/bin/env python
"""Headline benchmark (SURVEY §6 / BASELINE.md).

Runs the headline query set at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Timing discipline (BASELINE.md): per-query EXECUTION time on a warmed
session — five INTERLEAVED rounds (each round runs every query once, so a
transient host stall lands in at most one rep per key instead of poisoning
all reps of whichever key it coincides with) and the MINIMUM per key is
reported (this host shows verified multi-10s scheduling spikes unrelated
to the engine — BENCH.md; min-of-N isolates engine cost). The per-key
spread (min/med/max across rounds) is emitted alongside so a stall round
is self-evident in the recorded JSON rather than silently inflating the
headline. The sink is the noop writer so results are fully computed but
never shipped to the driver. Spark's ~seconds of fixed local job overhead
is excluded by the warm-up, matching how the DuckDB baseline was measured
(in-process, second run).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "agg_pricing_summary",
    "agg_revenue_by_nation",
    "win_topk_per_group",
    "cdc_snapshot_diff",
    "cdc_dedup_extract",
    "win_sessionize",
    "llm_tf_top_terms",
    "llm_centroids",
]

#: Deployment doctrine (r08, VERDICT r07 item 7): at sf≥10 the LAYOUT
#: TWINS are the default plans — a 100 TB deployment ingest-sorts its
#: dominant-filter fact and co-buckets its repeated-join facts, so the
#: headline at scale reflects the layout such a deployment actually
#: runs; the unsorted/unbucketed originals stay registered AND timed
#: (EXTRA) as the measured comparison. Below sf10 the originals remain
#: the headline: at sf0.1/sf1 the fixed local-mode scheduling floor
#: dominates and no layout (or conf) claim is made there.
_LAYOUT_TWINS = {
    "agg_pricing_summary": "agg_pricing_summary_sorted",
    "agg_revenue_by_nation": "agg_revenue_by_nation_bucketed",
}
_TWIN_THRESHOLD_BYTES = 1 << 30  # ~sf10 fixture = 1.8 GB; sf1 = 180 MB


def headline_for(sf_dir: str) -> list[str]:
    from engine.io import _dir_bytes

    size = _dir_bytes(sf_dir) or 0
    if size >= _TWIN_THRESHOLD_BYTES:
        return [_LAYOUT_TWINS.get(k, k) for k in HEADLINE]
    return list(HEADLINE)

#: timed and reported per-query, but EXCLUDED from the headline total so
#: "value" stays comparable with BASELINE.md's original 8-query sum
EXTRA = [
    "llm_minhash_verified",
    "llm_dedup_clusters",
    "llm_pii_scrub",
    "cdc_multi_source",
    # r03 heavy additions, timed for the record (excluded from headline)
    "llm_kmeans_lloyd",
    "llm_substring_dedup",
    "join_waiting_orders",
    # late-r03 additions, timed for the record
    "llm_block_dedup",
    "llm_ann_pq",
    # r07: the bucketed Q5 flagship — records the exchange-free fact-join
    # plan next to its unbucketed twin every round. The one-time layout
    # write lands inside the FIRST timed rep (inflating that rep's
    # recorded spread) and is excluded from the reported number by min()
    # over the remaining warm reps.
    "agg_revenue_by_nation_bucketed",
    # r08: the sorted Q1 flagship — records the row-group-skipping
    # layout plan next to its unsorted twin every round (same one-time
    # write-cost treatment as the bucketed key above)
    "agg_pricing_summary_sorted",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from engine import registry
    from engine.io import apply_bench_confs, harness_session

    registry.load_all()
    # Input-sized shuffle partitions, scan split and AQE toggle (see
    # engine/io.py: apply_bench_confs): at sf0.1 shuffle partitions is 8 —
    # measured 15-50% off every floor-dominated key vs the core-count
    # default, no regression on the heavy keys.
    spark, bench_confs = harness_session(sf_dir, app="bench")
    spark.range(1_000_000).count()  # JVM/codegen warm-up

    def bench_at(dir_: str, rounds: int) -> dict[str, list[float]]:
        # interleaved rounds: a transient host stall hits ≤1 rep per key
        reps: dict[str, list[float]] = {n: [] for n in HEADLINE + EXTRA}
        for _ in range(rounds):
            for name in HEADLINE + EXTRA:
                fn = registry.QUERIES[name]
                t0 = time.perf_counter()
                fn(spark, dir_).write.format("noop").mode("overwrite").save()
                reps[name].append(time.perf_counter() - t0)
        return reps

    def tight_at(dir_: str, rounds: int) -> dict[str, list[float]]:
        # tight per-key loop (bench_compare's protocol): measures ISOLATED
        # engine cost. The interleaved protocol above measures MIXED-
        # WORKLOAD latency — a sub-second key that runs right after the
        # heavy keys carries their JVM debt (GC pressure, code-cache
        # churn): measured r07 at sf0.1, llm_centroids is 0.26-0.27 s in
        # a tight loop under every conf combination but 0.70 s
        # interleaved with llm_dedup_clusters/kmeans/ann_pq — the entire
        # r06 "0.70 vs 0.26" harness discrepancy (VERDICT r06 item 3),
        # none of it conf- or code-related. Both protocols are real;
        # recording both makes the sidecar self-explanatory.
        reps: dict[str, list[float]] = {n: [] for n in HEADLINE + EXTRA}
        for name in HEADLINE + EXTRA:
            fn = registry.QUERIES[name]
            for _ in range(rounds):
                t0 = time.perf_counter()
                fn(spark, dir_).write.format("noop").mode("overwrite").save()
                reps[name].append(time.perf_counter() - t0)
        return reps

    def summarize(reps: dict[str, list[float]]) -> tuple[dict, dict]:
        times = {n: round(min(r), 4) for n, r in reps.items()}
        spread = {
            n: {
                "min": round(min(r), 4),
                "med": round(sorted(r)[len(r) // 2], 4),
                "max": round(max(r), 4),
            }
            for n, r in reps.items()
        }
        return times, spread

    times, spread = summarize(bench_at(sf_dir, 5))
    tight, tight_spread = summarize(tight_at(sf_dir, 3))

    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    from engine import similarity

    hl = headline_for(sf_dir)
    out = {
        "metric": "headline_warm_total",
        "value": round(sum(times[n] for n in hl), 4),
        "unit": "sec",
        # which 8 keys the total sums — the layout twins at sf≥10
        # (deployment doctrine, see headline_for), the originals below
        "headline_keys": hl,
        "queries": times,
        "spread": spread,
        # tight-loop twin (isolated engine cost — see tight_at): compare
        # against "queries" to see each key's mixed-workload JVM debt
        "queries_tight": tight,
        "tight_spread": tight_spread,
        "tight_value": round(sum(tight[n] for n in hl), 4),
        "sf": sf_val,
        # what actually ran (see apply_bench_confs)
        "confs": bench_confs,
        # scale-regression telemetry: deeper dup chains ⇒ more
        # label-propagation rounds; watch this grow with sf
        "dedup_cluster_rounds": similarity.LAST_PROPAGATION_ROUNDS,
    }

    # sf1 block (VERDICT r03 item 6): the sf0.1 headline is dominated by
    # the ~0.25-0.6 s local-mode fixed cost per query; the 10×-scaled
    # fixture is where the engine's growth profile is visible in the
    # recorded JSON rather than only in BENCH.md prose. Built once via
    # scripts/make_scaled.py, marker-cached; min-of-3 interleaved rounds
    # (min-of-2 left measured 20-35 s host stalls in the min column when
    # a spike landed in both reps of a key; a third round costs ~1 min
    # and restores the stall isolation the sf0.1 block gets from 5).
    if not os.environ.get("SPARK_GRAFT_SKIP_SF1"):
        try:
            sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/engine_sf1")
            # marker records source dir + factor (ADVICE r04): rerunning
            # bench with a different SPARK_GRAFT_SF_DIR must rebuild the
            # scaled fixture, not silently reuse 10x-of-previous-source.
            marker = os.path.join(sf1_dir, "_SCALED_OK")
            want = {"source": os.path.abspath(sf_dir), "factor": 10}
            have = None
            if os.path.exists(marker):
                try:
                    have = json.load(open(marker))
                except ValueError:
                    have = None
            if have != want:
                sys.path.insert(
                    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
                )
                import make_scaled

                make_scaled.build(spark, sf_dir, sf1_dir, 10)
                with open(marker, "w") as f:
                    json.dump(want, f)
            sf1_confs = apply_bench_confs(spark, sf1_dir)
            t1, s1 = summarize(bench_at(sf1_dir, 3))
            t1t, _s1t = summarize(tight_at(sf1_dir, 2))
            hl1 = headline_for(sf1_dir)
            out["sf1"] = {
                "value": round(sum(t1[n] for n in hl1), 4),
                "headline_keys": hl1,
                "queries": t1,
                "spread": s1,
                "queries_tight": t1t,
                "tight_value": round(sum(t1t[n] for n in hl1), 4),
                "sf": sf_val * 10 if isinstance(sf_val, float) else sf_val,
                "dedup_cluster_rounds": similarity.LAST_PROPAGATION_ROUNDS,
                "confs": sf1_confs,
            }
        except Exception as e:  # sf1 is additive telemetry — never fail the bench
            out["sf1_error"] = f"{type(e).__name__}: {e}"[:300]

    # Streaming throughput record (VERDICT r06 item 6 → r07 item 4): the
    # four heaviest stateful shapes timed end-to-end — each run is a full
    # availableNow replay over the time-quartile input files with a fresh
    # checkpoint (warm rep 1 builds the cached stream-input files; the
    # recorded time is the min of 2 further runs), plus per-micro-batch
    # (rows, ms) breakdown captured by a StreamingQueryListener during
    # the LAST timed run, and two larger-batch cdc-pipeline points
    # (2 files/trigger, all-at-once) recording how per-batch merge
    # throughput scales with batch size. Fixed micro-batch machinery
    # dominates at small scale, so the claim is "per-batch merge
    # throughput scales", never "rows/s is constant".
    if not os.environ.get("SPARK_GRAFT_SKIP_STREAM"):
        try:
            from pyspark.sql.streaming import StreamingQueryListener

            from engine.io import load_tables
            from engine.streaming import _cdc_pipeline

            progress: list[dict] = []

            class _Capture(StreamingQueryListener):
                def onQueryStarted(self, event):
                    pass

                def onQueryProgress(self, event):
                    p = event.progress
                    ms = (p.durationMs or {}).get("triggerExecution")
                    progress.append(
                        {"batch": p.batchId, "rows": p.numInputRows, "ms": ms}
                    )

                def onQueryIdle(self, event):
                    pass

                def onQueryTerminated(self, event):
                    pass

            listener = _Capture()
            spark.streams.addListener(listener)

            def run_stream(fn, dir_):
                fn(spark, dir_).write.format("noop").mode("overwrite").save()  # warm
                secs, batches = [], []
                for _ in range(2):
                    progress.clear()
                    t0 = time.perf_counter()
                    fn(spark, dir_).write.format("noop").mode("overwrite").save()
                    secs.append(time.perf_counter() - t0)
                    time.sleep(0.3)  # listener delivery is async
                    batches = [dict(b) for b in progress]
                return min(secs), batches

            STREAM_KEYS = [
                "stream_cdc_pipeline",
                "stream_stream_join",
                "stream_timeout_sessions",
                "stream_scd2_foreachbatch",
            ]
            stream: dict[str, dict] = {}
            dirs = [(sf_dir, "base")]
            if "sf1" in out:
                dirs.append((os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/engine_sf1"), "sf1"))
            for dir_, label in dirs:
                apply_bench_confs(spark, dir_)
                rows = load_tables(spark, dir_)["events"].count()
                block: dict[str, dict] = {}
                for key in STREAM_KEYS:
                    dt, batches = run_stream(registry.QUERIES[key], dir_)
                    block[key] = {
                        "sec": round(dt, 3),
                        "rows": rows,
                        "rows_per_sec": int(rows / dt),
                        "batches": batches,
                    }
                # larger-batch points: same merge, bigger micro-batches
                for mf, tag in ((2, "cdc_pipeline_batch2"), (None, "cdc_pipeline_batch_all")):
                    dt, batches = run_stream(
                        lambda sp, d, _mf=mf: _cdc_pipeline(sp, d, max_files=_mf), dir_
                    )
                    block[tag] = {
                        "sec": round(dt, 3),
                        "rows": rows,
                        "rows_per_sec": int(rows / dt),
                        "batches": batches,
                    }
                stream[label] = block
            spark.streams.removeListener(listener)
            out["streaming"] = stream
        except Exception as e:  # additive telemetry — never fail the bench
            out["streaming_error"] = f"{type(e).__name__}: {e}"[:300]

    # The driver captures only the tail of stdout and parses the bench
    # record from it; BENCH_r04.json arrived unparsed because the full
    # payload outgrew that capture (VERDICT r04 item 2). Keep the contract
    # of ONE stdout JSON line, but make it compact (<1500 chars: metric,
    # totals, per-key mins) and move spreads + sf1 per-key detail to the
    # BENCH_DETAIL.json sidecar.
    here = os.path.dirname(os.path.abspath(__file__))
    # State-store A/B record (VERDICT r08 item 6 / r09 item 1): the A/B
    # runs out-of-band (scripts/state_store_ab.py, ~1 h at sf10) and its
    # committed sidecar is merged into the streaming block HERE so a
    # routine bench.py re-run — which rewrites BENCH_DETAIL.json
    # wholesale — can never erase the recorded numbers.
    try:
        with open(os.path.join(here, "STATE_STORE_AB.json")) as f:
            out.setdefault("streaming", {})["state_store_ab"] = json.load(f)
    except (OSError, ValueError):
        pass
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(out, f, indent=1)

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "tight_value": out["tight_value"],
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
        "dedup_cluster_rounds": out["dedup_cluster_rounds"],
        "detail": "BENCH_DETAIL.json",
    }
    if "sf1" in out:
        compact["sf1_value"] = out["sf1"]["value"]
        compact["sf1_sf"] = out["sf1"]["sf"]
    elif "sf1_error" in out:
        compact["sf1_error"] = out["sf1_error"][:120]
    line = json.dumps(compact)
    if len(line) > 1400:  # belt-and-braces: drop per-key detail before truncating
        compact.pop("queries", None)
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
