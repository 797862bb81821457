"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``engine`` package; this file only adapts the
registry to the driver's interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from engine import registry  # noqa: E402

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    from engine.relational import agg_pricing_summary

    return agg_pricing_summary(spark, "/root/testdata/sf0.001")


# Keys whose implementation changed THIS round — their recorded driver
# evidence is stale by construction, so they jump the queue regardless of
# past green rows (the ADVICE-r05 staleness lesson: a changed key must
# never coast on its old rank). The r12 list (all 8 re-passed their
# driver rows; CORRECTNESS_r12 was 50/50) is retired.
_PROMOTED_R13 = [
    # one τ-pair kernel + one home for the cosine Column helpers and the
    # label-centroid builder — outputs proven identical locally
    # (exceptAll both ways against the parent at sf0.1 and sf1 + oracle
    # parity), but changed keys never coast on their old driver rank:
    "llm_near_dedup_embedding",  # shared kernel; oracle from the one CTE
    "llm_dedup_clusters",        # shared kernel; _dup_edges inlined
    "llm_banding_recall_report", # shared kernel; oracle from the one CTE
    "llm_semdedup",              # shared kernel + _label_centroids
    "llm_cosine_topk",           # _label_centroids + llm_ext helpers
    "llm_embed_norm",            # _norm2 moved to llm_ext
    "fn_array_hof",              # norm² via llm_ext._norm2
    # foreachBatch sinks moved onto one TxTable commit path (one version
    # per micro-batch, batch-id token, atomic manifest publish), then
    # returned as a plain read of the committed version (manifest schema,
    # no localCheckpoint copy — the optimized plan changed for all five):
    "sink_foreachBatch_merge",   # join-shaped merge → TxTable.overwrite
    "stream_cdc_pipeline",       # union+dedup merge → TxTable.overwrite
    "stream_scd2_foreachbatch",  # SCD2 re-window → TxTable.overwrite
    "stream_txlog_sink",         # shared token check; plan's own partitioning
    "stream_join_ivm",           # partial set as TxTable versions
]

def _coverage_rank() -> tuple[dict[str, int], dict[str, int]]:
    """Rank keys by how much driver-side correctness evidence they have.

    Merge every CORRECTNESS_r*.json in the repo root. Returns
    (rank, last_pass_round): rank 0 = never driver-checked, 1 =
    checked-but-not-fully-passed, 2 = fully passed; last_pass_round is
    the most recent round whose record shows a full pass (rows + schema
    + hash), so spare prefix slots can re-confirm the STALEST greens
    first (VERDICT r05 item 5 — guard against silent drift since r01).
    """
    import glob
    import json
    import re

    rank: dict[str, int] = {}
    last_pass: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for key, res in rows.items():
            full = bool(res.get("rows_match")) and bool(res.get("schema_match")) and bool(
                res.get("hash_match")
            )
            rank[key] = max(rank.get(key, 0), 2 if full else 1)
            if full:
                last_pass[key] = max(last_pass.get(key, 0), rnd)
    return rank, last_pass


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered so the
    driver's fixed-prefix check lands on the keys that need it most:

    tier 0: keys whose implementation changed since their last driver
            row (_PROMOTED_R13) — their green rows are stale evidence;
    tier 3: previously rows-only keys that NOW carry a hash oracle
            (re-check upgrades r01/r02 recorded as weaker evidence);
    tier 4: never-driver-checked keys in name order (16 remain after
            r05 — all §2.12; the 50-key prefix covers every one);
    tier 5: fully-passed keys ordered OLDEST-evidence-first (last full
            pass round ascending, then name) so the ~30 spare prefix
            slots rotate through the stalest r01/r02 greens;
    tail:   checked-but-oracle-less keys (re-running a rows-only check
            adds no evidence).
    """
    rank, last_pass = _coverage_rank()
    promoted = {k: i for i, k in enumerate(_PROMOTED_R13)}

    def sort_key(item: tuple[str, Callable]) -> tuple[int, int, str]:
        name = item[0]
        if name in promoted:
            return (0, promoted[name], name)
        r = rank.get(name, 0)
        has_oracle = name in registry.ORACLE_SQL
        if r == 1 and has_oracle:
            return (3, 0, name)  # ran rows-only before, hash-checkable now
        if r == 0:
            return (4, 0, name)
        if r == 2:
            return (5, last_pass.get(name, 0), name)
        return (6, r, name)  # rank-1 without oracle: least marginal value

    ordered = sorted(registry.QUERIES.items(), key=sort_key)
    return dict(ordered)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins for every hash-checkable key."""
    return dict(registry.ORACLE_SQL)
