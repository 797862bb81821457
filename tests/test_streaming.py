"""Streaming-specific semantic assertions (beyond oracle parity)."""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from engine import registry, streaming
from engine.cdc import dedup_extract
from engine.io import load_tables
from engine.txlog import CommitConflict, TxTable
from tests.oracle import compare

registry.load_all()


def test_watermark_drops_late_row(spark, sf_dir):
    """The injected late row (user_id = -1) must not reach the sink."""
    df = registry.QUERIES["stream_watermark_late"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.late_row_absent for r in rows), "late row leaked past watermark"


def test_cdc_pipeline_idempotent_vs_batch(spark, sf_dir):
    """Streaming CDC snapshot ≡ batch latest-per-key (exactly-once merge)."""
    stream_snap = registry.QUERIES["stream_cdc_pipeline"](spark, sf_dir)
    batch = registry.QUERIES["cdc_dedup_extract"](spark, sf_dir)
    s = {tuple(r) for r in stream_snap.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def _copy_feed(spark, sf_dir, feed, parts):
    """Copy time-quartile input files into ``feed``, one mtime apart."""
    src = streaming._events_stream_dir(spark, sf_dir)
    for b in parts:
        shutil.copytree(os.path.join(src, b), os.path.join(feed, b))
        time.sleep(0.05)


def _stream(spark, sf_dir, feed):
    schema = load_tables(spark, sf_dir)["events"].schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed)
    )


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_cdc_pipeline_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Recovery semantics across a query RESTART: run stream_cdc_pipeline's
    commit over half the feed with a persistent checkpoint and table,
    stop, add the rest of the files, restart from the same checkpoint.
    The restarted query must process ONLY the new files (no version is
    committed for an already-committed batch — at-least-once delivery +
    batch-id token + checkpoint = exactly-once state), and the final
    table must equal the batch latest-per-key over the whole feed."""
    feed, table, ckpt = (str(tmp_path / d) for d in ("feed", "tbl", "ckpt"))
    commit = streaming._overwrite(streaming._merge_latest)

    _copy_feed(spark, sf_dir, feed, ("b0", "b1"))
    t = streaming._tx_sink(_stream(spark, sf_dir, feed), commit, table, ckpt)
    v1 = t.versions()
    assert len(v1) == 2, f"phase 1 should commit 2 micro-batches, got {t.ops()}"

    _copy_feed(spark, sf_dir, feed, ("b2", "b3"))
    streaming._tx_sink(_stream(spark, sf_dir, feed), commit, table, ckpt)
    v2 = t.versions()
    assert len(v2) - len(v1) == 2, (
        f"restart must process ONLY the 2 new files; ops {t.ops()}"
    )
    assert t.ops() == [f"OVERWRITE#batch={i}" for i in range(4)]

    batch = dedup_extract(load_tables(spark, sf_dir)["events"], ["user_id"], "ts", "event_id")
    assert _rows(t.read().select(*streaming._CDC_COLS)) == _rows(
        batch.select(*streaming._CDC_COLS)
    )


def test_snapshot_commit_rejects_write_since_its_read(spark, sf_dir, tmp_path):
    """A snapshot sink's commit is pinned to the version it read: if
    another writer commits between the read of ``prev`` and the
    overwrite, the commit raises CommitConflict instead of committing a
    merge built on the stale ``prev`` (which would drop the winner's
    rows — the lost update)."""
    ev = load_tables(spark, sf_dir)["events"].select(*streaming._CDC_COLS)
    first, second = ev.where("user_id % 2 = 0"), ev.where("user_id % 2 = 1")
    t = TxTable(spark, str(tmp_path / "tbl"))
    commit = streaming._overwrite(streaming._merge_latest)
    commit(t, first, "batch=0")

    def merge_while_winner_commits(prev, batch_df):
        TxTable(spark, t.path).overwrite(second, note="winner")
        return streaming._merge_latest(prev, batch_df)

    with pytest.raises(CommitConflict):
        streaming._overwrite(merge_while_winner_commits)(t, first, "batch=1")
    assert t.ops() == ["OVERWRITE#batch=0", "OVERWRITE#winner"]
    assert _rows(t.read()) == _rows(second)


# (commit, output columns of the registered key) per foreachBatch sink;
# the key's own DuckDB oracle is the batch truth for the final table
_SINK_COMMITS = {
    "sink_foreachBatch_merge": (
        streaming._overwrite(streaming._merge_join), ["user_id", "event_id", "value"]
    ),
    "stream_cdc_pipeline": (
        streaming._overwrite(streaming._merge_latest), streaming._CDC_COLS
    ),
    "stream_scd2_foreachbatch": (
        streaming._overwrite(streaming._merge_scd2),
        ["user_id", "event_id", "value", "effective_from", "effective_to", "is_current"],
    ),
    "stream_txlog_sink": (streaming._upsert, ["user_id", "event_id", "value"]),
}
_uninterrupted: dict[str, set] = {}


class _Crash(RuntimeError):
    pass


def _killed_parquet(writer, path, *args, **kwargs):
    """A parquet write killed mid-job: its output dir holds only
    ``_temporary/0`` (what a killed process leaves), then the batch dies."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "_temporary", "0"))
    raise _Crash(f"killed while writing {path}")


def _staged(t):
    return set(os.listdir(t.data_dir))


def _referenced(t):
    return {f.split(os.sep)[0] for v in t.versions() for f in t.manifest(v)["files"]}


@pytest.mark.parametrize("crash", ["mid_write", "after_commit"])
@pytest.mark.parametrize("sink", sorted(_SINK_COMMITS))
def test_sink_survives_crash_mid_batch(spark, sf_dir, tmp_path, monkeypatch, sink, crash):
    """Exactly-once across a CRASH inside the third micro-batch (batch
    id 2), not only a clean restart. ``mid_write``: the batch's data
    write dies leaving a staging dir with only ``_temporary/0``, before
    any manifest commits. ``after_commit``: the manifest commits, then
    the batch function dies before returning to Spark. Either way the
    checkpoint holds ``offsets/2`` and no ``commits/2``, so Spark replays
    batch 2 on restart; the table must then equal an uninterrupted run
    and the batch oracle, with one ``#batch={id}`` token per batch, and
    the crashed attempt's files in no manifest."""
    commit, cols = _SINK_COMMITS[sink]
    feed, table, ckpt = (str(tmp_path / d) for d in ("feed", "tbl", "ckpt"))
    _copy_feed(spark, sf_dir, feed, ("b0", "b1", "b2", "b3"))
    if sink not in _uninterrupted:
        clean = streaming._tx_sink(
            _stream(spark, sf_dir, feed), commit, str(tmp_path / "clean"), str(tmp_path / "ck0")
        )
        _uninterrupted[sink] = _rows(clean.read())

    with monkeypatch.context() as m:
        if crash == "mid_write":
            real_write = TxTable._write_files

            def write_files(self, df, n_files, tag):
                if len(self.versions()) == 2:  # the third batch
                    m.setattr(DataFrameWriter, "parquet", _killed_parquet)
                return real_write(self, df, n_files, tag)

            m.setattr(TxTable, "_write_files", write_files)
        else:
            real_commit = TxTable._commit

            def commit_then_die(self, files, op, expected_version=None, **kw):
                v = real_commit(self, files, op, expected_version, **kw)
                if op.endswith("#batch=2"):
                    raise _Crash(f"died after committing {op}")
                return v

            m.setattr(TxTable, "_commit", commit_then_die)
        with pytest.raises(Exception, match="_Crash"):
            streaming._tx_sink(_stream(spark, sf_dir, feed), commit, table, ckpt)

    assert os.path.exists(os.path.join(ckpt, "offsets", "2"))
    assert not os.path.exists(os.path.join(ckpt, "commits", "2"))
    t = TxTable(spark, table)
    crashed = _staged(t) - _referenced(t)
    if crash == "mid_write":
        (d,) = crashed
        assert len(t.versions()) == 2
        assert os.listdir(os.path.join(t.data_dir, d)) == ["_temporary"]

    streaming._tx_sink(_stream(spark, sf_dir, feed), commit, table, ckpt)
    assert [op.split("#", 1)[1] for op in t.ops()] == [f"batch={i}" for i in range(4)]
    assert not (crashed & _referenced(t)), "a crashed attempt's files must stay unreferenced"
    assert _staged(t) - _referenced(t) == crashed
    assert _rows(t.read()) == _uninterrupted[sink]
    ok, msg = compare(t.read().select(*cols), sf_dir, registry.ORACLE_SQL[sink])
    assert ok, f"{sink} after a {crash} crash: {msg}"


def test_txlog_sink_job_count(spark, sf_dir, count_jobs):
    """One warm ``stream_txlog_sink`` call and the noop write of its
    result run at most 15 Spark jobs (24 while every TxTable read
    inferred its schema, the sink repartitioned each write to 2 files and
    the key copied its table into a local checkpoint)."""
    streaming._events_stream_dir(spark, sf_dir)  # the feed is written once
    fn = registry.QUERIES["stream_txlog_sink"]
    _, jobs = count_jobs(
        lambda: fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    )
    assert jobs <= 15, jobs
