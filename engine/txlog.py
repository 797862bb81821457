"""Minimal transaction-log table format (round 8 — shrinking the
"no Delta/Iceberg in the sandbox" gap to the wire format only).

What Delta/Iceberg add over bare parquet directories is a METADATA
layer: versioned manifests listing exactly which data files constitute
each table version, committed atomically, so readers get snapshot
isolation, writers get copy-on-write MERGE, OPTIMIZE is a metadata swap
(same rows, fewer files), and VACUUM deletes only files no retained
version references. This module implements that layer on plain
parquet + JSON manifests:

- A table is ``<path>/data/*.parquet`` plus ``<path>/_log/vNNNNN.json``;
  manifest v is the FULL file listing of version v (Iceberg-style
  snapshot manifest — no log replay needed to read) and the table's
  schema as the parquet read sees it, so ``read()`` plans from the
  manifest alone: 0 Spark jobs, where inferring the schema from the
  files' footers costs one job per read. A manifest without a schema
  (written before it was recorded) still reads by inference.
- Commits write the manifest to a temp name and publish it with
  ``os.link`` (create-exclusive: fails with EEXIST if the version
  already exists) — atomic on a POSIX filesystem AND mutually
  exclusive, the putIfAbsent primitive Delta's log store requires; a
  reader either sees version v complete or not at all, and two writers
  racing for the same version number cannot both win (r09, closing the
  ADVICE r08 clobber: plain ``os.rename`` silently overwrites, so the
  loser's commit vanished). The loser gets :class:`CommitConflict` and
  must re-derive from the NEW latest snapshot before retrying —
  optimistic concurrency control, exercised by ``sink_txlog_conflict``.
- Readers pin a manifest ONCE (`read(version)`) and are isolated from
  every later commit: the files a manifest lists are immutable and
  VACUUM never deletes files referenced by a retained version.
- MERGE is copy-on-write at table granularity here (rewrite = anti-join
  + union into new files); production formats narrow the rewrite to
  touched files via min/max pruning — same algebra, smaller working set
  (the partition-pruned variant of this rewrite is already pinned by
  `cdc_partition_pruned_merge`).
- OVERWRITE replaces the rows as one version, pinned to the version the
  writer read; it is the per-batch commit of the streaming snapshot sinks
  (``engine/streaming.py`` ``_tx_sink``), whose op note carries the
  batch-id idempotence token. CREATE is the same write under its own op.

At 100 TB the manifest is the thing that makes planning O(files listed)
instead of O(objects in the prefix) — no eventual-consistency listing,
no partial-write visibility — and VACUUM's reference counting is a set
difference over manifests, never a data scan.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from engine.io import load_tables
from engine.registry import query


class CommitConflict(Exception):
    """Another writer committed the version this transaction targeted.

    The caller's staged files were derived from a snapshot that is no
    longer latest — it must re-read, re-derive, and re-stage. The staged
    data files become orphans: unreferenced by any manifest, so readers
    never see them, and reclaimed by ``vacuum()``'s age-guarded orphan
    sweep once they are older than ``orphan_grace_sec`` (they appear in
    no manifest, so the manifest set-difference alone could never find
    them — ADVICE r09)."""


def _as_read(t):
    """A schema's ``jsonValue()`` as a parquet read of its files infers
    it: Spark writes parquet with every field, array element and map
    value nullable."""
    if not isinstance(t, dict):
        return t
    return {
        k: True if k in ("nullable", "containsNull", "valueContainsNull")
        else v if k == "metadata" else _as_read(v)
        for k, v in t.items()
    }


class TxTable:
    """A versioned parquet table with an atomic JSON manifest log."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.log_dir = os.path.join(path, "_log")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.log_dir, exist_ok=True)

    # -- manifest plumbing ------------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"v{version:05d}.json")

    def versions(self) -> list[int]:
        return sorted(
            int(f[1:6]) for f in os.listdir(self.log_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def _abs(self, f: str) -> str:
        """Resolve a manifest file entry to an absolute path.

        Manifests store paths RELATIVE to ``data_dir`` (r11, ADVICE r10
        medium): absolute paths recorded at write time made the orphan
        sweep destructive if the table was later opened via a different
        path spelling — a symlinked mount, a relative-vs-absolute cwd, a
        moved directory — because every committed file then failed the
        exact-string ``in referenced`` check and aged into the drop set.
        Delta stores paths relative to the table root for exactly this
        reason. Absolute entries are legacy-manifest compat, resolved as
        written."""
        return f if os.path.isabs(f) else os.path.join(self.data_dir, f)

    def _canon(self, f: str) -> str:
        """Canonical absolute form for identity comparisons (vacuum):
        realpath collapses symlinks/`..`/duplicate-slash spellings so a
        file is referenced iff it IS a manifest entry's file, however
        either side was spelled."""
        return os.path.realpath(self._abs(f))

    def ops(self) -> list[str]:
        return [self.manifest(v)["op"] for v in self.versions()]

    def _commit(
        self,
        files: list[str],
        op: str,
        expected_version: int | None = None,
        *,
        schema: StructType | None = None,
    ) -> int:
        """Publish a manifest with putIfAbsent semantics; ``schema`` is
        the written frame's, recorded for :meth:`read`.

        ``expected_version`` pins the version this transaction's files
        were derived for (latest-at-read + 1); if another writer got
        there first — either the version counter moved, or the atomic
        ``os.link`` publish hits EEXIST in the race window between
        ``versions()`` and the link — the commit raises
        :class:`CommitConflict` instead of silently clobbering or
        blindly renumbering (a COW merge renumbered past a conflicting
        commit would drop that commit's changes: the lost update)."""
        version = (self.versions()[-1] + 1) if self.versions() else 0
        if expected_version is not None and version != expected_version:
            raise CommitConflict(
                f"expected to commit v{expected_version} but latest is v{version - 1}"
            )
        doc = {"version": version, "op": op, "files": sorted(files)}
        if schema is not None:
            doc["schema"] = _as_read(schema.jsonValue())
        fd, tmp = tempfile.mkstemp(dir=self.log_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(doc, fh)
        try:
            # atomic + exclusive commit point: link fails on EEXIST
            os.link(tmp, self._manifest_path(version))
        except FileExistsError as exc:
            raise CommitConflict(f"lost the race for v{version}") from exc
        finally:
            os.unlink(tmp)
        return version

    def _write_files(self, df: DataFrame, n_files: int | None, tag: str) -> list[str]:
        # mkdtemp, not a deterministic tag dir: two writers staging the
        # same target version concurrently must not overwrite each
        # other's data files before the manifest race even happens (the
        # r09 concurrency model stages files first, commits second)
        out = tempfile.mkdtemp(dir=self.data_dir, prefix=f"{tag}_")
        # repartition, not coalesce: coalesce can only REDUCE partition
        # count, so a 1-split input would silently produce 1 file and the
        # manifest file-count contract would depend on the reader's split
        # arithmetic rather than on this writer. n_files=None keeps the
        # plan's own partitioning (no extra shuffle, no file-count contract)
        (df if n_files is None else df.repartition(n_files)).write.mode("overwrite").parquet(out)
        # manifest entries are RELATIVE to data_dir — see _abs()
        return [
            os.path.relpath(os.path.join(out, f), self.data_dir)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        ]

    # -- table operations -------------------------------------------------
    def create(self, df: DataFrame, n_files: int | None = 4, note: str = "") -> int:
        """The table's first rows: :meth:`overwrite` logged as op CREATE."""
        return self.overwrite(df, n_files, note, op="CREATE")

    def overwrite(
        self,
        df: DataFrame,
        n_files: int | None = None,
        note: str = "",
        expected_version: int | None = None,
        *,
        op: str = "OVERWRITE",
    ) -> int:
        """Replace the table's rows with ``df`` as ONE new version, op
        ``OVERWRITE#note``. ``expected_version`` is the version the
        caller derived ``df`` for: latest-at-read + 1, or 0 if it read
        an empty table (default: the next version when this is called).
        If another writer commits first, this raises
        :class:`CommitConflict` instead of clobbering it, and the staged
        files stay unreferenced orphans. ``note`` is the streaming
        sinks' batch-id idempotence token; ``n_files=None`` writes the
        plan's own partitioning."""
        if expected_version is None:
            vs = self.versions()
            expected_version = vs[-1] + 1 if vs else 0
        files = self._write_files(df, n_files, "base")  # the table's new base
        op += f"#{note}" if note else ""
        return self._commit(files, op, expected_version=expected_version, schema=df.schema)

    def read(self, version: int | None = None) -> DataFrame:
        """Version ``version`` (default: latest), pinned to its manifest."""
        v = self.versions()[-1] if version is None else version
        m = self.manifest(v)
        r = self.spark.read
        if "schema" in m:
            r = r.schema(StructType.fromJson(m["schema"]))
        return r.parquet(*[self._abs(f) for f in m["files"]])

    def stage_merge(self, updates: DataFrame, key: str, n_files: int = 4) -> tuple[int, list[str]]:
        """Derive + land a COW upsert's data files WITHOUT committing.

        Returns ``(target_version, files)``: the snapshot read and the
        version the files are valid for (latest + 1). This is the read
        phase of an optimistic transaction — ``_commit(files, op,
        expected_version=target_version)`` is the write phase, and a
        :class:`CommitConflict` there means the snapshot went stale and
        the merge must be re-staged from the new latest."""
        return self._stage_merge(updates, key, n_files)[:2]

    def _stage_merge(self, updates: DataFrame, key: str, n_files: int | None):
        """:meth:`stage_merge` plus the schema of the frame it wrote."""
        base = self.versions()[-1]
        cur = self.read(base)
        merged = cur.join(updates.select(key), key, "left_anti").unionByName(updates)
        target = base + 1
        return target, self._write_files(merged, n_files, f"merge_v{target}"), merged.schema

    def merge(
        self,
        updates: DataFrame,
        key: str,
        n_files: int | None = 4,
        note: str = "",
        max_retries: int = 3,
    ) -> int:
        """Copy-on-write upsert: latest snapshot anti-joined on the key,
        unioned with the updates, landed as NEW files; old files stay
        untouched for older versions' readers. ``note`` lands in the
        committed op string — the idempotence token a streaming sink
        checks before re-applying a redelivered batch.

        Optimistic concurrency (r09): on :class:`CommitConflict` the
        whole merge re-derives from the NEW latest snapshot and retries
        — rebasing on top of the winning commit, never clobbering it —
        up to ``max_retries`` times (Delta's ConcurrentAppend semantics
        at table granularity). ``n_files=None`` writes the plan's own
        partitioning."""
        op = "MERGE" + (f"#{note}" if note else "")
        for _ in range(max_retries + 1):
            target, files, schema = self._stage_merge(updates, key, n_files)
            try:
                return self._commit(files, op, expected_version=target, schema=schema)
            except CommitConflict:
                continue  # snapshot went stale: re-derive and rebase
        raise CommitConflict(f"merge lost {max_retries + 1} commit races; giving up")

    def delete(self, predicate, n_files: int = 4) -> int:
        kept = self.read().where(~predicate)
        tag = f"delete_v{len(self.versions())}"
        return self._commit(
            self._write_files(kept, n_files, tag), "DELETE", schema=kept.schema
        )

    def optimize(self) -> int:
        """Compaction as a METADATA SWAP: same rows, one file."""
        cur = self.read()
        tag = f"optimize_v{len(self.versions())}"
        return self._commit(self._write_files(cur, 1, tag), "OPTIMIZE", schema=cur.schema)

    def vacuum(self, retain_last: int, orphan_grace_sec: float = 86400.0) -> int:
        """Delete data files referenced by NO retained manifest; returns
        the number removed.

        Two sweeps, still no data scan:

        1. Manifest set-difference — files listed by a non-retained
           manifest and by no retained one. Safe at any age: they were
           committed, so no in-flight transaction can still be writing
           them.
        2. Orphan sweep (r10, ADVICE r09) — files on disk under
           ``data_dir`` that appear in NO manifest at all: the staged
           output of conflicted or abandoned transactions. Without this,
           every lost commit race leaked a full COW copy of the table
           forever (orphans are invisible to the manifest walk by
           construction). Age-guarded by ``orphan_grace_sec`` against
           the file mtime so an IN-FLIGHT transaction's staging dir —
           written before its commit point — is never swept mid-write;
           Delta's VACUUM uses the same mtime-retention defense.

        All identity comparisons are on CANONICAL paths (``_canon``:
        relative-manifest entry resolved against data_dir, then
        realpath) — r11, ADVICE r10: with exact string matching, a
        table opened via a different path spelling would see every
        committed file fail the ``in referenced`` check and DELETE the
        whole table once past the grace. Returns the number of files
        actually removed (successful ``os.remove`` only — a swallowed
        removal failure must not inflate the count callers assert on).
        """
        vs = self.versions()
        retained = set(vs[-retain_last:])
        keep: set[str] = set()
        for v in retained:
            keep.update(self._canon(f) for f in self.manifest(v)["files"])
        referenced: set[str] = set(keep)
        drop: set[str] = set()
        for v in vs:
            if v not in retained:
                files = {self._canon(f) for f in self.manifest(v)["files"]}
                drop.update(files - keep)
                referenced.update(files)
        cutoff = time.time() - orphan_grace_sec
        for dirpath, _, names in os.walk(self.data_dir):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.realpath(os.path.join(dirpath, name))
                if full in referenced:
                    continue
                try:
                    if os.path.getmtime(full) <= cutoff:
                        drop.add(full)
                except OSError:
                    continue  # raced with another cleanup — already gone
        removed = 0
        for f in drop:
            try:
                os.remove(f)
                removed += 1
            except OSError:
                pass
        # best-effort: remove staging dirs emptied of parquet (their
        # _SUCCESS/.crc markers are dead weight once the data is gone);
        # same age guard — removing files above bumps the dir mtime, so
        # a dir swept this pass is usually reclaimed on the NEXT vacuum,
        # which is fine: correctness never depends on empty dirs.
        for d in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, d)
            if not os.path.isdir(full):
                continue
            try:
                if os.path.getmtime(full) > cutoff:
                    continue
                if any(
                    f.endswith(".parquet")
                    for _, _, fs in os.walk(full)
                    for f in fs
                ):
                    continue
                for dp, _, fs in os.walk(full, topdown=False):
                    for f in fs:
                        os.remove(os.path.join(dp, f))
                    os.rmdir(dp)
            except OSError:
                continue
        return removed


_CHECKSUM = "CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"


@query(
    "sink_txlog_acid",
    oracle=f"""
    WITH v0 AS (SELECT o_orderkey, o_totalprice FROM orders),
    v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice
      FROM v0
    ),
    v2 AS (SELECT * FROM v1 WHERE o_orderkey % 10 <> 0)
    SELECT 0 AS version, 'CREATE' AS op, 4 AS n_files,
           CAST(count(*) AS BIGINT) AS n, {_CHECKSUM} AS checksum_cents FROM v0
    UNION ALL
    SELECT 1, 'MERGE', 4, CAST(count(*) AS BIGINT), {_CHECKSUM} FROM v1
    UNION ALL
    SELECT 2, 'DELETE', 4, CAST(count(*) AS BIGINT), {_CHECKSUM} FROM v2
    UNION ALL
    SELECT 3, 'OPTIMIZE', 1, CAST(count(*) AS BIGINT), {_CHECKSUM} FROM v2
    """,
)
def sink_txlog_acid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse metadata layer end-to-end: CREATE → copy-on-write
    MERGE (price bump on every 7th key) → DELETE (every 10th key) →
    OPTIMIZE (metadata-swap compaction to one file). Every version's
    (file count, row count, exact-cents checksum) is read back FROM THE
    COMMITTED MANIFESTS and hash-checked against the oracle's direct
    derivation — a torn commit, stale manifest, or double-applied merge
    shifts a checksum; OPTIMIZE must change n_files (4 → 1) while
    leaving (n, checksum) bit-identical to the DELETE version, which is
    exactly the compaction-is-metadata-only guarantee."""
    o = load_tables(spark, sf_dir)["orders"].select("o_orderkey", "o_totalprice")
    with tempfile.TemporaryDirectory(prefix="engine_txlog_") as root:
        t = TxTable(spark, os.path.join(root, "tbl"))
        t.create(o)
        upd = o.where(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1
        )
        t.merge(upd, "o_orderkey")
        t.delete(F.col("o_orderkey") % 10 == 0)
        t.optimize()
        rows = []
        for v in t.versions():
            m = t.manifest(v)
            agg = t.read(v).agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
                .cast("long")
                .alias("c"),
            ).collect()[0]
            rows.append((v, m["op"], len(m["files"]), agg.n, agg.c))
        return spark.createDataFrame(
            rows, "version int, op string, n_files int, n bigint, checksum_cents bigint"
        )


@query(
    "scan_txlog_snapshot_isolation",
    oracle=f"""
    WITH v0 AS (SELECT o_orderkey, o_totalprice FROM orders),
    v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice
      FROM v0
    )
    SELECT 'pinned_before_commit' AS reader, CAST(count(*) AS BIGINT) AS n,
           {_CHECKSUM} AS checksum_cents FROM v0
    UNION ALL
    SELECT 'pinned_after_commit', CAST(count(*) AS BIGINT), {_CHECKSUM} FROM v0
    UNION ALL
    SELECT 'latest_after_commit', CAST(count(*) AS BIGINT), {_CHECKSUM} FROM v1
    UNION ALL
    SELECT 'post_vacuum_latest', CAST(count(*) AS BIGINT), {_CHECKSUM} FROM v1
    """,
)
def scan_txlog_snapshot_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + vacuum safety, witnessed by checksums: a
    reader pins version 0, a writer commits a MERGE (version 1), and the
    pinned reader's re-scan is BIT-IDENTICAL to its pre-commit scan (the
    manifest's files are immutable — no dirty reads, no torn versions).
    Then VACUUM(retain_last=1) deletes version 0's unreferenced files
    and the latest reader still reconstructs version 1 exactly — vacuum
    removed only what no retained manifest references (here the merge
    rewrote every file, so vacuum reclaims all 4 v0 files; the count is
    asserted engine-side). The scenario every lakehouse reader relies
    on, hash-gated."""
    o = load_tables(spark, sf_dir)["orders"].select("o_orderkey", "o_totalprice")

    def chk(df: DataFrame):
        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("c"),
        ).collect()[0]
        return r.n, r.c

    with tempfile.TemporaryDirectory(prefix="engine_txsi_") as root:
        t = TxTable(spark, os.path.join(root, "tbl"))
        t.create(o)
        pinned = t.read(0)  # reader pins the v0 manifest
        before = chk(pinned)
        upd = o.where(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1
        )
        t.merge(upd, "o_orderkey")  # concurrent writer commits v1
        after = chk(pinned)  # same manifest, must be bit-identical
        latest = chk(t.read())
        removed = t.vacuum(retain_last=1)
        assert removed == 4, f"vacuum should reclaim exactly v0's 4 files, got {removed}"
        post_vacuum = chk(t.read())
        rows = [
            ("pinned_before_commit", *before),
            ("pinned_after_commit", *after),
            ("latest_after_commit", *latest),
            ("post_vacuum_latest", *post_vacuum),
        ]
        return spark.createDataFrame(rows, "reader string, n bigint, checksum_cents bigint")


@query(
    "sink_txlog_conflict",
    oracle=f"""
    WITH v0 AS (SELECT o_orderkey, o_totalprice FROM orders),
    v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice
      FROM v0
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 2
                  WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice
      FROM v0
    )
    SELECT 0 AS version, 'CREATE' AS op,
           CAST(count(*) AS BIGINT) AS n, {_CHECKSUM} AS checksum_cents FROM v0
    UNION ALL
    SELECT 1, 'MERGE#A', CAST(count(*) AS BIGINT), {_CHECKSUM} FROM v1
    UNION ALL
    SELECT 2, 'MERGE#B', CAST(count(*) AS BIGINT), {_CHECKSUM} FROM v2
    """,
)
def sink_txlog_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic-concurrency conflict detection, end-to-end (r09,
    closing VERDICT r08 item 4 / the ADVICE rename-clobber): two writers
    race for the same table version and the loser must NOT silently
    vanish — it must detect the conflict and rebase.

    Script (a deterministic interleaving of the real race): writer B
    stages a COW merge against snapshot v0 (files written, no commit);
    writer A commits its own merge first, taking v1; B's staged commit
    for v1 now raises CommitConflict (asserted in-key — with the old
    os.rename publish it would have silently clobbered A's manifest);
    B retries properly via merge()'s rebase loop, re-deriving from v1
    and landing v2. The hash gate then certifies the lost-update-free
    lineage: v1 carries A's +1 on every 7th key, v2 carries BOTH
    writers' effects (B's upsert wins on the overlapping %70 keys —
    last-writer-wins upsert semantics, deterministic because B rebased).
    Also asserted: the loser's orphaned staged files are referenced by
    NO manifest (readers can never see a failed transaction's data).
    At 100 TB the manifest race costs O(1) metadata ops; only the
    rebase re-derivation re-touches data, exactly as in Delta."""
    o = load_tables(spark, sf_dir)["orders"].select("o_orderkey", "o_totalprice")
    with tempfile.TemporaryDirectory(prefix="engine_txconf_") as root:
        t = TxTable(spark, os.path.join(root, "tbl"))
        t.create(o)
        upd_b = o.where(F.col("o_orderkey") % 10 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 2
        )
        # writer B: read phase against v0 (stages files for v1, no commit)
        target_b, files_b = t.stage_merge(upd_b, "o_orderkey")
        assert target_b == 1
        # writer A wins the race: commits its merge as v1
        upd_a = o.where(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1
        )
        t.merge(upd_a, "o_orderkey", note="A")
        # writer B's write phase must now fail loudly, not clobber v1
        conflicted = False
        try:
            t._commit(files_b, "MERGE#B", expected_version=target_b)
        except CommitConflict:
            conflicted = True
        assert conflicted, "stale-snapshot commit must raise CommitConflict"
        # B retries properly: merge() re-derives from v1 and rebases to v2
        t.merge(upd_b, "o_orderkey", note="B")
        referenced: set[str] = set()
        for v in t.versions():
            referenced.update(t.manifest(v)["files"])
        assert not (set(files_b) & referenced), (
            "a failed transaction's staged files must stay unreferenced"
        )
        rows = []
        for v in t.versions():
            m = t.manifest(v)
            agg = t.read(v).agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
                .cast("long")
                .alias("c"),
            ).collect()[0]
            rows.append((v, m["op"], agg.n, agg.c))
        return spark.createDataFrame(
            rows, "version int, op string, n bigint, checksum_cents bigint"
        )
