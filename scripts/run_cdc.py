#!/usr/bin/env python
"""Config-driven CDC pipeline CLI — the reference's operational entry
point (SURVEY §3.1: ``spark-submit cdc.py <config> <run-date>``) as a
runnable artifact over the engine's cdc_* operators (r09, VERDICT r08
item 7; `cdc_multi_source` pins the SEMANTICS of the per-source loop,
this pins the UX: config in, snapshot + changelog dirs out).

Usage:
    python scripts/run_cdc.py <config.json> <run-date>

Config schema (one table-backed JSON document)::

    {
      "output_root": "/data/cdc",          # snapshots + changelogs land here
      "sources": [
        {
          "name": "orders",
          "input_path": "/extracts/orders/{run_date}",   # {run_date} templated
          "format": "parquet",             # parquet | csv | json
          "schema": "o_orderkey BIGINT, ...",  # required for csv/json (explicit
                                               # schema, never inference — the
                                               # reference's posture)
          "key_cols": ["o_orderkey"],
          "tracked_cols": ["o_totalprice", "o_orderstatus"],
          "extract_type": "full",          # full: deletes detectable
                                           # delta: upsert feed, no deletes
          "dedup": {"order_col": "ts", "tiebreak": "o_orderkey"}  # optional:
                                           # collapse multi-row extracts to
                                           # latest-per-key before diffing
        }
      ]
    }

Per-source lifecycle (exactly the reference's linear batch pipeline):

1. read the extract for <run-date> with the configured explicit schema;
2. optional dedup_extract (latest row per key wins, deterministic tiebreak);
3. write the new current-state snapshot into a hidden staging dir: for a
   first run or a full extract it IS the (deduplicated) extract, for a
   delta extract it is the previous snapshot upserted with the delta;
4. first run (no snapshot strictly before this run-date): every row
   op='I'; else diff against the newest snapshot STRICTLY BEFORE the
   run-date — never the run-date's own snapshot, so re-running a day is
   idempotent (it recomputes the original diff) instead of diffing the
   extract against itself (ADVICE r09) — via snapshot_diff (full
   extracts — full-outer join, I/U/D/N classification, reading the
   staged snapshot as the current side) or a diff restricted to the
   delta's keys (delta extracts — I/U only, deletes undetectable by
   definition); the non-N changelog rows (op, key_hash, values,
   run_date) land under
   ``<output_root>/<name>/changelog/run_date=<run-date>/``;
5. publish the staged snapshot under
   ``<output_root>/<name>/snapshot/run_date=<run-date>/`` by rename
   (never an in-place rewrite — a re-run of the day _LATEST names must
   not expose a half-written dir to pointer-resolving readers), then
   repoint ``<output_root>/<name>/_LATEST`` forward-only (a one-line
   pointer file — the pointer flips only after both writes succeed, the
   same publish-then-point pattern as engine/txlog.py). A failure
   anywhere from the staging write to the rename removes the staging
   dir and leaves _LATEST where it was.

Every step is a lazy DataFrame plan; execution happens at two writes
and one collect. The staging write materializes the deduplicated
extract once; the changelog write reads those staged bytes back (with
their known schema, so no inference job) against the previous snapshot
(read with the day's schema too) — on a 100 TB extract the full-outer
diff is one key-partitioned shuffle per side, and the changelog
describes exactly the bytes that get published, which are also the
bytes tomorrow's diff reads. The per-op counts are one groupBy collect
over the written changelog. A diff day runs 8 Spark jobs.

Exit code 0 and one JSON summary line per source on stdout:
``{"source": ..., "run_date": ..., "first_run": ..., "counts": {...}}``
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.cdc import (
    SourceSpec,
    dedup_extract,
    incremental_upsert,
    snapshot_diff,
    with_fingerprints,
)
from engine.io import get_spark


def _read_extract(spark: SparkSession, src: dict, run_date: str) -> DataFrame:
    """The day's extract. Its schema is the day's schema contract:
    Parquet takes it from the file footer (the one inference job a day
    pays), csv/json from the configured ``schema``. run_source reads the
    previous snapshot and the staged snapshot with this schema, so a
    tracked column whose type drifts in a way that is not a widening
    fails the day instead of being coerced in the diff."""
    path = src["input_path"].format(run_date=run_date)
    fmt = src.get("format", "parquet")
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt not in ("csv", "json"):
        raise ValueError(f"{src['name']}: unknown format {fmt!r}")
    schema = src.get("schema")
    if not schema:
        # explicit schema is mandatory for text formats: inference samples
        # the data, so two runs over different extracts could disagree on
        # types and silently flag every row as U
        raise ValueError(f"{src['name']}: csv/json extracts require 'schema'")
    reader = spark.read.schema(schema)
    if fmt == "csv":
        return reader.option("header", "true").csv(path)
    return reader.json(path)


def _latest_pointer(root: str, name: str) -> str:
    return os.path.join(root, name, "_LATEST")


def _resolve_latest(root: str, name: str) -> str | None:
    """The snapshot readers should use: the _LATEST pointer when it
    names a COMPLETE snapshot, else the newest complete snapshot on
    disk (r11, ADVICE r10): a crash between the publish's two renames
    leaves no dir at the path _LATEST names — readers following the
    pointer blindly would error on a table that has perfectly good
    older snapshots. The _SUCCESS check also shields readers from a
    pointer that somehow names a torn dir (it never should — the
    pointer flips after the write — but the reader is the last line)."""
    p = _latest_pointer(root, name)
    snap = None
    if os.path.exists(p):
        with open(p) as fh:
            snap = fh.read().strip() or None
    if snap is not None and os.path.exists(os.path.join(snap, "_SUCCESS")):
        return snap
    dates = _snapshot_dates(root, name)
    if not dates:
        return None
    return os.path.join(root, name, "snapshot", f"run_date={dates[-1]}")


#: stale staging/displaced dirs older than this are reclaimed on the next
#: run of the source. Generous: a staging dir is live only for the
#: duration of one Spark write + two renames, so a day-old one can only
#: be a crash leftover.
_STALE_DIR_GRACE_SEC = 86400.0


def _sweep_stale_dirs(root: str, name: str, grace_sec: float = _STALE_DIR_GRACE_SEC) -> int:
    """Crash hygiene on entry to run_source (r11, ADVICE r10): a crash
    after the staging write (or during the displaced-dir rmtree) leaks
    `.staging_*` / `.old_*` dirs that no later run would ever clean —
    each one a full snapshot copy. Age-guarded by dir mtime, mirroring
    txlog.vacuum()'s orphan sweep, so a CONCURRENT run's in-flight
    staging dir is never swept mid-write. Returns the count removed."""
    snap_root = os.path.join(root, name, "snapshot")
    if not os.path.isdir(snap_root):
        return 0
    cutoff = time.time() - grace_sec
    swept = 0
    for d in os.listdir(snap_root):
        if not (d.startswith(".staging_") or d.startswith(".old_")):
            continue
        full = os.path.join(snap_root, d)
        try:
            if os.path.isdir(full) and os.path.getmtime(full) <= cutoff:
                shutil.rmtree(full, ignore_errors=True)
                swept += 1
        except OSError:
            continue  # raced with another sweep — already gone
    return swept


def _snapshot_dates(root: str, name: str) -> list[str]:
    """Complete snapshots on disk, oldest → newest. Only dirs carrying
    Spark's ``_SUCCESS`` marker count — a crashed half-write is never
    diffed against (the directory listing replaces the _LATEST pointer
    for PREV resolution, so it needs the same crash-safety property the
    pointer gave: _SUCCESS is written last by the committer)."""
    snap_root = os.path.join(root, name, "snapshot")
    if not os.path.isdir(snap_root):
        return []
    return sorted(
        d.split("=", 1)[1]
        for d in os.listdir(snap_root)
        if d.startswith("run_date=")
        and os.path.exists(os.path.join(snap_root, d, "_SUCCESS"))
    )


def _resolve_prev(root: str, name: str, run_date: str) -> str | None:
    """The snapshot to diff against: the newest complete snapshot
    STRICTLY BEFORE ``run_date`` (ISO dates order lexically).

    Resolving via _LATEST alone made re-runs destructive (ADVICE r09):
    re-running the date _LATEST already named diffed the extract against
    ITSELF — an all-'N' diff that clobbered the day's changelog with an
    empty partition, and for delta sources the snapshot write read from
    the very directory it was overwriting. Strictly-before resolution
    makes a re-run recompute exactly what the original run computed,
    which is what the overwrite-mode writes' idempotence claim actually
    requires."""
    prior = [d for d in _snapshot_dates(root, name) if d < run_date]
    if not prior:
        return None
    return os.path.join(root, name, "snapshot", f"run_date={prior[-1]}")


def run_source(spark: SparkSession, root: str, src: dict, run_date: str) -> dict:
    _sweep_stale_dirs(root, src["name"])
    spec = SourceSpec(
        name=src["name"],
        key_cols=tuple(src["key_cols"]),
        tracked_cols=tuple(src["tracked_cols"]),
        extract_type=src.get("extract_type", "full"),
    )
    curr = _read_extract(spark, src, run_date).select(
        *spec.key_cols, *spec.tracked_cols
    )
    if "dedup" in src:
        curr = dedup_extract(
            curr, list(spec.key_cols), src["dedup"]["order_col"], src["dedup"]["tiebreak"]
        )

    prev_path = _resolve_prev(root, spec.name, run_date)
    first_run = prev_path is None
    # The previous snapshot was written by this CLI, so its schema is the
    # day's schema: read it with curr's schema instead of paying an
    # inference job. A value-preserving widening (int32 file read as
    # BIGINT) still reads; a type drift that is not a widening (a DOUBLE
    # column arriving as STRING) raises here instead of being coerced
    # silently in the diff's join condition.
    prev = None if first_run else spark.read.schema(curr.schema).parquet(prev_path)

    snap_dir = os.path.join(root, spec.name, "snapshot", f"run_date={run_date}")
    log_dir = os.path.join(root, spec.name, "changelog", f"run_date={run_date}")
    # Snapshot lands in a staging dir and is published by TWO renames,
    # never an in-place rewrite: on a RE-run of the day _LATEST already
    # names, an in-place overwrite would expose a half-written dir to
    # every reader resolving the pointer for the full duration of the
    # Spark write; the rename swap shrinks that window to two metadata
    # ops (same publish-then-point discipline as engine/txlog.py, one
    # level down). Staging dirs start with '.' so _snapshot_dates can
    # never mistake one for a complete snapshot.
    snap_parent = os.path.dirname(snap_dir)
    staging = os.path.join(snap_parent, f".staging_{run_date}_{uuid.uuid4().hex[:8]}")
    try:
        if first_run or spec.extract_type == "full":
            # the new snapshot IS the deduplicated extract: materialize it
            # once, as the staged snapshot, and compute the changelog from
            # those staged bytes — no second read and dedup shuffle of the
            # extract, and the changelog describes exactly what is published
            curr.write.mode("overwrite").parquet(staging)
            curr = spark.read.schema(curr.schema).parquet(staging)
            if first_run:
                # first ever run: no previous snapshot → all rows are inserts
                changes = with_fingerprints(curr, spec).select(
                    F.lit("I").alias("op"), "key_hash", *spec.key_cols, *spec.tracked_cols
                )
            else:
                changes = snapshot_diff(prev, curr, spec).where(F.col("op") != "N")
        else:
            # delta feed: deletes undetectable; snapshot = upsert, and the
            # changelog classifies each delta row I/U by key presence,
            # diffing only the prev rows whose keys the delta touches so
            # untouched rows never produce phantom D/N entries.
            incremental_upsert(prev, curr, spec).write.mode("overwrite").parquet(staging)
            prev_touched = prev.join(
                curr.select(*spec.key_cols).distinct(), list(spec.key_cols), "left_semi"
            )
            changes = snapshot_diff(prev_touched, curr, spec).where(F.col("op").isin("I", "U"))
        changes = changes.withColumn("run_date", F.lit(run_date))
        changes.write.mode("overwrite").parquet(log_dir)  # idempotent re-run
        displaced = None
        if os.path.exists(snap_dir):
            displaced = os.path.join(snap_parent, f".old_{run_date}_{uuid.uuid4().hex[:8]}")
            os.rename(snap_dir, displaced)
        os.rename(staging, snap_dir)
    except BaseException:
        # the day's own staging copy is reclaimed now, not by the next
        # run's age-guarded sweep; _LATEST has not moved
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if displaced is not None:
        shutil.rmtree(displaced, ignore_errors=True)
    # publish-then-point: the pointer flips only after both writes landed,
    # and only FORWARD — a re-run of an older date must not repoint
    # readers backwards past days that already ran (run_date= prefixes
    # are equal-length, so the basename comparison is a date comparison)
    latest = _resolve_latest(root, spec.name)
    if latest is None or os.path.basename(latest) <= f"run_date={run_date}":
        ptr = _latest_pointer(root, spec.name)
        tmp = ptr + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(snap_dir)
        os.replace(tmp, ptr)

    counts = {
        r["op"]: r["n"]
        for r in spark.read.schema(changes.schema)
        .parquet(log_dir)
        .groupBy("op")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    return {
        "source": spec.name,
        "run_date": run_date,
        "first_run": first_run,
        "snapshot": snap_dir,
        "changelog": log_dir,
        "counts": counts,
    }


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    config_path, run_date = argv[1], argv[2]
    with open(config_path) as fh:
        cfg = json.load(fh)
    root = cfg["output_root"]
    os.makedirs(root, exist_ok=True)
    spark = get_spark(app="run_cdc")
    for src in cfg["sources"]:
        summary = run_source(spark, root, src, run_date)
        print(json.dumps(summary, sort_keys=True), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
