#!/usr/bin/env python
"""A/B the streaming state-store provider: HDFS-backed in-memory (the
default every streaming key has run under) vs RocksDB (the
large-state posture a 100 TB streaming deployment actually runs) —
VERDICT r08 item 6.

Why this matters at scale: the HDFS-backed provider keeps every
partition's ENTIRE state map in executor heap (fine for the fixture's
≤150 users; fatal when keyed state is 100s of GB per executor), while
RocksDBStateStoreProvider spills state to local SSD with an in-heap
block cache — state size stops being bounded by heap. The cost is
per-batch: JNI get/put per key touched + changelog/snapshot upload at
commit. This script measures that cost on the two custom-stateful keys
(`stream_timeout_sessions` — applyInPandasWithState with event-time
timeouts, `stream_stream_join` — symmetric join state) plus the
watermarked-agg key (`stream_watermark_late`), capturing per-batch
stateOperators metrics through a StreamingQueryListener.

Usage: python scripts/state_store_ab.py [sf_dir ...] [--reps N]
Output: one JSON line per (provider, key, sf) with wall-clock reps and
the summed per-batch state metrics of the LAST rep, ready to paste into
BENCH_DETAIL.json's streaming block.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYS = ["stream_timeout_sessions", "stream_stream_join", "stream_watermark_late"]

_HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
_ROCKS = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
_CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

#: provider variant → (providerClass, extra confs). The changelog
#: variant (r11, VERDICT r10 item 2) measures the claimed mitigation for
#: RocksDB's write-heavy commit cost: per-batch commit uploads the DELTA
#: changelog instead of a full snapshot (snapshots move to an async
#: background maintenance task), which is where the sf10 join's 1 599 s
#: commit total was going. Plain rocksdb pins the conf false explicitly
#: so variant order can never leak state between runs.
PROVIDERS = {
    "hdfs": (_HDFS, {}),
    "rocksdb": (_ROCKS, {_CHANGELOG: "false"}),
    "rocksdb_changelog": (_ROCKS, {_CHANGELOG: "true"}),
}


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(
        description="A/B the streaming state-store provider (HDFS-backed vs RocksDB)"
    )
    ap.add_argument("sf_dirs", nargs="*", help="fixture dirs (default /tmp/engine_sf1)")
    ap.add_argument("--reps", type=int, default=3, help="wall-clock reps per (provider, key)")
    ap.add_argument(
        "--keys", default=",".join(KEYS),
        help="comma-separated registry keys (default: the three A/B shapes)",
    )
    ap.add_argument(
        "--providers", default="hdfs,rocksdb",
        help=f"comma-separated variants from {sorted(PROVIDERS)} "
        "(rocksdb_changelog = RocksDB + changelog checkpointing)",
    )
    ns = ap.parse_args()
    reps = ns.reps
    dirs = ns.sf_dirs or ["/tmp/engine_sf1"]
    keys = [k for k in ns.keys.split(",") if k]
    provider_names = [p for p in ns.providers.split(",") if p]
    unknown = set(provider_names) - set(PROVIDERS)
    if unknown:
        ap.error(f"unknown providers: {sorted(unknown)}")

    from pyspark.sql.streaming import StreamingQueryListener

    from engine import registry
    from engine.io import harness_session

    registry.load_all()

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = json.loads(event.progress.json)
            self.batches.append(
                {
                    "batchId": p.get("batchId"),
                    "durationMs": p.get("durationMs", {}),
                    "stateOperators": [
                        {
                            k: so.get(k)
                            for k in (
                                "operatorName",
                                "numRowsTotal",
                                "numRowsUpdated",
                                "allUpdatesTimeMs",
                                "commitTimeMs",
                                "memoryUsedBytes",
                            )
                        }
                        for so in p.get("stateOperators", [])
                    ],
                }
            )

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    for sf_dir in dirs:
        spark, _ = harness_session(sf_dir, app="state_store_ab")
        listener = Progress()
        spark.streams.addListener(listener)
        for prov_name in provider_names:
            prov_cls, extra = PROVIDERS[prov_name]
            confs = {"spark.sql.streaming.stateStore.providerClass": prov_cls, **extra}
            for k, v in confs.items():
                spark.conf.set(k, v)
            for key in keys:
                fn = registry.QUERIES[key]
                walls = []
                for _ in range(reps):
                    listener.batches.clear()
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    walls.append(round(time.perf_counter() - t0, 3))
                    time.sleep(0.3)  # let async listener events drain
                state_ops = [b for b in listener.batches if b["stateOperators"]]
                tot_update = sum(
                    so["allUpdatesTimeMs"] or 0
                    for b in state_ops
                    for so in b["stateOperators"]
                )
                tot_commit = sum(
                    so["commitTimeMs"] or 0
                    for b in state_ops
                    for so in b["stateOperators"]
                )
                max_mem = max(
                    (
                        so["memoryUsedBytes"] or 0
                        for b in state_ops
                        for so in b["stateOperators"]
                    ),
                    default=0,
                )
                max_rows = max(
                    (
                        so["numRowsTotal"] or 0
                        for b in state_ops
                        for so in b["stateOperators"]
                    ),
                    default=0,
                )
                print(
                    json.dumps(
                        {
                            "provider": prov_name,
                            "key": key,
                            "sf_dir": os.path.basename(sf_dir.rstrip("/")),
                            "wall_s": walls,
                            "wall_min_s": min(walls),
                            "n_state_batches": len(state_ops),
                            "state_rows_max": max_rows,
                            "state_mem_max_bytes": max_mem,
                            "updates_ms_total_lastrep": tot_update,
                            "commit_ms_total_lastrep": tot_commit,
                        },
                        sort_keys=True,
                    ),
                    flush=True,
                )
        spark.stop()


if __name__ == "__main__":
    main()
