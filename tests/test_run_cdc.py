"""End-to-end test of the operational CLI (scripts/run_cdc.py): a
two-source config processed over two run dates must produce the
reference lifecycle's artifacts — versioned current-state snapshots, an
appended changelog partitioned by run_date, and a _LATEST pointer that
only ever names a fully-written snapshot (SURVEY §3.1)."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from engine.cdc import SourceSpec, apply_changes
from engine.io import load_tables
from perfbench import gen
from tests.oracle import DEFAULT_SF_DIR


def _load_cli():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "run_cdc", os.path.join(here, "scripts", "run_cdc.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def cli():
    return _load_cli()


def _write_extracts(spark, base):
    """Day-1/day-2 extracts for two differently-shaped sources.

    orders (full extracts → deletes detectable):
      d1: keys % 10 != 0;  d2: keys % 11 != 0, price+1 on % 7 == 0
    customer (delta extract on day 2 → upsert feed):
      d1 full load: keys % 9 != 0
      d2 delta: keys % 8 == 0 rows only, acctbal+1 (mix of U and I)
    """
    t = load_tables(spark, DEFAULT_SF_DIR)
    o = t["orders"].select("o_orderkey", "o_totalprice", "o_orderstatus")
    c = t["customer"].select("c_custkey", "c_acctbal", "c_mktsegment")
    o.where(F.col("o_orderkey") % 10 != 0).write.parquet(f"{base}/orders/d1")
    o.where(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    ).write.parquet(f"{base}/orders/d2")
    c.where(F.col("c_custkey") % 9 != 0).write.parquet(f"{base}/customer/d1")
    c.where(F.col("c_custkey") % 8 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1
    ).write.parquet(f"{base}/customer/d2")
    return o, c


def _config(base, out):
    return {
        "output_root": out,
        "sources": [
            {
                "name": "orders",
                "input_path": base + "/orders/{run_date}",
                "format": "parquet",
                "key_cols": ["o_orderkey"],
                "tracked_cols": ["o_totalprice", "o_orderstatus"],
                "extract_type": "full",
            },
            {
                "name": "customer",
                "input_path": base + "/customer/{run_date}",
                "format": "parquet",
                "key_cols": ["c_custkey"],
                "tracked_cols": ["c_acctbal", "c_mktsegment"],
                "extract_type": "delta",
            },
        ],
    }


def test_two_sources_two_days_end_to_end(spark, tmp_path, cli):
    base, out = str(tmp_path / "extracts"), str(tmp_path / "cdc_out")
    o, c = _write_extracts(spark, base)
    cfg = _config(base, out)
    cfg_path = str(tmp_path / "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)

    # ---- day 1: first run → everything 'I' --------------------------------
    summaries = {
        s["source"]: s
        for s in (cli.run_source(spark, out, src, "d1") for src in cfg["sources"])
    }
    n_o1 = o.where(F.col("o_orderkey") % 10 != 0).count()
    n_c1 = c.where(F.col("c_custkey") % 9 != 0).count()
    assert summaries["orders"]["first_run"] and summaries["customer"]["first_run"]
    assert summaries["orders"]["counts"] == {"I": n_o1}
    assert summaries["customer"]["counts"] == {"I": n_c1}
    assert open(os.path.join(out, "orders", "_LATEST")).read().endswith("run_date=d1")

    # ---- day 2 -------------------------------------------------------------
    summaries2 = {
        s["source"]: s
        for s in (cli.run_source(spark, out, src, "d2") for src in cfg["sources"])
    }
    # orders (full): I = in d2 not d1; D = in d1 not d2; U = %7 price bump
    # present both days
    both = lambda k: (k % 10 != 0) and (k % 11 != 0)  # noqa: E731
    keys = [r.o_orderkey for r in o.select("o_orderkey").collect()]
    want = {"I": 0, "U": 0, "D": 0}
    for k in keys:
        d1_has, d2_has = k % 10 != 0, k % 11 != 0
        if d2_has and not d1_has:
            want["I"] += 1
        elif d1_has and not d2_has:
            want["D"] += 1
        elif both(k) and k % 7 == 0:
            want["U"] += 1
    got = summaries2["orders"]["counts"]
    assert {k: got.get(k, 0) for k in want} == want
    assert "N" not in got, "changelog must never contain no-op rows"

    # customer (delta): delta keys %8==0; U where also %9!=0 (existed), else I
    want_c = {"I": 0, "U": 0}
    for r in c.select("c_custkey").collect():
        k = r.c_custkey
        if k % 8 == 0:
            want_c["U" if k % 9 != 0 else "I"] += 1
    got_c = summaries2["customer"]["counts"]
    assert {k: got_c.get(k, 0) for k in want_c} == want_c
    assert "D" not in got_c, "delta feeds cannot produce deletes"

    # ---- snapshot correctness ----------------------------------------------
    # orders current state == day-2 extract exactly
    snap = spark.read.parquet(summaries2["orders"]["snapshot"])
    exp = o.where(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    assert snap.count() == exp.count()
    assert snap.exceptAll(exp).count() == 0 and exp.exceptAll(snap).count() == 0
    # customer current state == d1 upserted with the delta
    snap_c = spark.read.parquet(summaries2["customer"]["snapshot"])
    n_c2 = snap_c.count()
    assert n_c2 == c.where((F.col("c_custkey") % 9 != 0) | (F.col("c_custkey") % 8 == 0)).count()
    bumped = snap_c.where(F.col("c_custkey") % 8 == 0)
    orig = c.where(F.col("c_custkey") % 8 == 0)
    assert (
        bumped.agg(F.sum("c_acctbal")).collect()[0][0]
        == pytest.approx(orig.agg(F.sum("c_acctbal") + F.count("*")).collect()[0][0])
    )

    # ---- changelog is partitioned and cumulative ---------------------------
    log = spark.read.option("basePath", os.path.join(out, "orders", "changelog")).parquet(
        os.path.join(out, "orders", "changelog")
    )
    assert set(r.run_date for r in log.select("run_date").distinct().collect()) == {
        "d1",
        "d2",
    }
    # day-1 partition untouched by day-2 append
    assert log.where(F.col("run_date") == "d1").count() == n_o1
    # _LATEST now points at d2; day-1 snapshot still readable (versioned)
    assert open(os.path.join(out, "orders", "_LATEST")).read().endswith("run_date=d2")
    assert spark.read.parquet(
        os.path.join(out, "orders", "snapshot", "run_date=d1")
    ).count() == n_o1


def test_rerun_day_is_idempotent(spark, tmp_path, cli):
    """ADVICE r09: re-running a run-date whose snapshot _LATEST already
    points at must recompute the ORIGINAL diff, not diff the extract
    against itself (which clobbered the day's changelog with an all-'N'
    empty partition, and for delta sources read from the directory being
    overwritten). Also: a re-run of an OLDER day must not repoint
    _LATEST backwards."""
    base, out = str(tmp_path / "extracts"), str(tmp_path / "cdc_out")
    _write_extracts(spark, base)
    cfg = _config(base, out)

    def run_day(d):
        return {
            s["source"]: s
            for s in (cli.run_source(spark, out, src, d) for src in cfg["sources"])
        }

    run_day("d1")
    first = run_day("d2")

    def log_counts(name):
        log = spark.read.option(
            "basePath", os.path.join(out, name, "changelog")
        ).parquet(os.path.join(out, name, "changelog"))
        return {
            (r.run_date, r.op): r.n
            for r in log.groupBy("run_date", "op").agg(F.count("*").alias("n")).collect()
        }

    before = {name: log_counts(name) for name in ("orders", "customer")}
    assert any(k[0] == "d2" for k in before["orders"]), "day-2 changelog must be non-empty"

    # --- the ADVICE scenario: re-run d2 while _LATEST names d2 -------------
    second = run_day("d2")
    assert not second["orders"]["first_run"] and not second["customer"]["first_run"]
    # per-op counts identical to the original run (not all-'N'/empty)
    assert second["orders"]["counts"] == first["orders"]["counts"]
    assert second["customer"]["counts"] == first["customer"]["counts"]
    assert {name: log_counts(name) for name in ("orders", "customer")} == before
    assert open(os.path.join(out, "orders", "_LATEST")).read().endswith("run_date=d2")

    # --- re-run the OLDER day: idempotent AND no backward repoint ----------
    third = run_day("d1")
    assert third["orders"]["first_run"], "d1 has no strictly-earlier snapshot"
    assert {name: log_counts(name) for name in ("orders", "customer")} == before
    for name in ("orders", "customer"):
        assert open(os.path.join(out, name, "_LATEST")).read().endswith(
            "run_date=d2"
        ), "_LATEST must never move backwards"
    # the rename-publish path leaves no staging/displaced dirs behind
    for name in ("orders", "customer"):
        leftovers = [
            d
            for d in os.listdir(os.path.join(out, name, "snapshot"))
            if not d.startswith("run_date=")
        ]
        assert not leftovers, f"staging dirs leaked: {leftovers}"


def test_crash_window_recovery(spark, tmp_path, cli):
    """VERDICT r10 item 5 + ADVICE r10: the publish-then-point pattern's
    crash windows, simulated by reproducing each window's on-disk state
    and asserting (a) pointer-resolving readers never see a half-published
    day, (b) a re-run recovers cleanly, (c) crash leftovers are reclaimed
    age-guarded on the next run instead of leaking forever."""
    base, out = str(tmp_path / "extracts"), str(tmp_path / "cdc_out")
    _write_extracts(spark, base)
    src = _config(base, out)["sources"][0]  # orders, full extracts
    cli.run_source(spark, out, src, "d1")
    first = cli.run_source(spark, out, src, "d2")
    snap_root = os.path.join(out, "orders", "snapshot")
    aged = time.time() - 2 * cli._STALE_DIR_GRACE_SEC

    # --- window A: process died after the staging write, before any
    # rename — a .staging_* dir (and a .old_* from a died-mid-rmtree
    # re-run) sit on disk with no owner.
    stale_staging = os.path.join(snap_root, ".staging_d2_deadbeef")
    stale_old = os.path.join(snap_root, ".old_d2_cafef00d")
    for d in (stale_staging, stale_old):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write("x")
        os.utime(d, (aged, aged))
    # hidden dirs are never mistaken for snapshots (reader invariant)
    assert set(cli._snapshot_dates(out, "orders")) == {"d1", "d2"}
    # a YOUNG staging dir — indistinguishable from a concurrent run's
    # in-flight write — must survive the sweep
    young = os.path.join(snap_root, ".staging_d2_12345678")
    os.makedirs(young)
    second = cli.run_source(spark, out, src, "d2")  # re-run recovers
    assert second["counts"] == first["counts"]
    assert not os.path.exists(stale_staging), "aged staging dir must be swept"
    assert not os.path.exists(stale_old), "aged displaced dir must be swept"
    assert os.path.isdir(young), "in-flight-age staging dir must survive"
    shutil.rmtree(young)

    # --- window B: died between the two renames — the day's snapshot
    # dir is GONE (displaced, replacement never landed) while _LATEST
    # still names it.
    d2_dir = os.path.join(snap_root, "run_date=d2")
    displaced = os.path.join(snap_root, ".old_d2_00000000")
    os.rename(d2_dir, displaced)
    os.utime(displaced, (aged, aged))
    ptr = open(os.path.join(out, "orders", "_LATEST")).read().strip()
    assert ptr.endswith("run_date=d2") and not os.path.exists(ptr)
    # readers fall back to the newest COMPLETE snapshot, never error
    resolved = cli._resolve_latest(out, "orders")
    assert resolved.endswith("run_date=d1")
    assert os.path.exists(os.path.join(resolved, "_SUCCESS"))
    # the re-run heals: original diff recomputed, snapshot republished,
    # pointer valid again, crash leftover reclaimed
    third = cli.run_source(spark, out, src, "d2")
    assert third["counts"] == first["counts"]
    assert cli._resolve_latest(out, "orders").endswith("run_date=d2")
    assert os.path.exists(os.path.join(d2_dir, "_SUCCESS"))
    assert not os.path.exists(displaced)

    # --- window C: a torn snapshot dir (no _SUCCESS) that _LATEST
    # somehow names — the reader-side guard is the last line of defense.
    torn = os.path.join(snap_root, "run_date=d3")
    os.makedirs(torn)
    with open(os.path.join(out, "orders", "_LATEST"), "w") as fh:
        fh.write(torn)
    assert cli._resolve_latest(out, "orders").endswith("run_date=d2")
    assert "d3" not in cli._snapshot_dates(out, "orders")
    # and diff-base resolution for a later day skips the torn dir too
    assert cli._resolve_prev(out, "orders", "d4").endswith("run_date=d2")


def test_cli_main_runs_from_config_file(spark, tmp_path, cli, monkeypatch):
    """The argv surface: main() reads the config, processes every source,
    prints one JSON line each, exits 0."""
    base, out = str(tmp_path / "extracts"), str(tmp_path / "cdc_out")
    _write_extracts(spark, base)
    cfg_path = str(tmp_path / "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(_config(base, out), fh)
    import io

    monkeypatch.setattr(cli, "get_spark", lambda app=None, **kw: spark)
    buf = io.StringIO()
    monkeypatch.setattr("sys.stdout", buf)
    rc = cli.main(["run_cdc.py", cfg_path, "d1"])
    assert rc == 0
    lines = [json.loads(line) for line in buf.getvalue().strip().splitlines()]
    assert [s["source"] for s in lines] == ["orders", "customer"]
    assert all(s["first_run"] for s in lines)


# ---------------------------------------------------------------------------
# the dedup path, on a seeded chain with stale duplicate rows per key

_CHAIN_DAYS = 4
#: Spark jobs one diff day may run: extract schema inference, the dedup
#: exchange and the staged snapshot write, the two diff exchanges and the
#: changelog write, the counts exchange and collect.
_MAX_JOBS_PER_DIFF_DAY = 8


def _jobs_in_group(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is fed async
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory, cli):
    """Run every day of a seeded orders chain whose extracts repeat 2% of
    their keys with a stale older version; each day runs in its own job
    group. Returns the source, the generator truth, the per-day summaries
    and the per-day job counts."""
    base = tmp_path_factory.mktemp("chain")
    src, truth = gen.cdc_days(str(base / "extracts"), 7, _CHAIN_DAYS, 2000)
    out = str(base / "out")
    sc = spark.sparkContext
    summaries, jobs = [], []
    try:
        for day in range(_CHAIN_DAYS):
            group = f"test_run_cdc_chain_{day}"
            sc.setJobGroup(group, group)
            summaries.append(cli.run_source(spark, out, src, gen.run_date(day)))
            jobs.append(_jobs_in_group(spark, group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return src, truth, summaries, jobs


def test_dedup_chain_counts_and_replay(spark, chain):
    """Every day's counts equal the generator truth, and replaying the
    day's changelog onto the previous snapshot gives the published one."""
    src, truth, summaries, _ = chain
    spec = SourceSpec(src["name"], tuple(src["key_cols"]), tuple(src["tracked_cols"]))
    cols = [*spec.key_cols, *spec.tracked_cols]
    prev = None
    for day, s in enumerate(summaries):
        assert s["first_run"] == (day == 0)
        assert s["counts"] == truth[day], f"day {day}"
        snap = spark.read.parquet(s["snapshot"]).select(*cols)
        assert snap.count() == snap.select(*spec.key_cols).distinct().count()
        log = spark.read.parquet(s["changelog"])
        if prev is None:
            prev = snap.limit(0)
        replayed = apply_changes(prev, log, spec)
        assert replayed.exceptAll(snap).count() == 0, f"day {day}"
        assert snap.exceptAll(replayed).count() == 0, f"day {day}"
        prev = snap


def test_diff_day_job_count(chain):
    """The scheduling floor of a diff day: the deduplicated extract is
    materialized once (as the staged snapshot) and no file whose schema
    is known is inferred."""
    jobs = chain[3]
    assert max(jobs[1:]) <= _MAX_JOBS_PER_DIFF_DAY, jobs


def test_failed_day_cleans_staging_and_recovers(spark, tmp_path, cli):
    """A day-2 extract whose tracked DOUBLE column arrives as STRING must
    fail (reading the previous snapshot with the day's schema raises, it
    is not coerced in the join), leave no staging dir, keep _LATEST on
    day 1, and a re-run with the fixed extract must give the true counts."""
    src, truth = gen.cdc_days(str(tmp_path / "extracts"), 3, 2, 500)
    out = str(tmp_path / "out")
    d1, d2 = gen.run_date(0), gen.run_date(1)
    assert cli.run_source(spark, out, src, d1)["counts"] == truth[0]

    part = os.path.join(src["input_path"].format(run_date=d2), "part-0.parquet")
    good = pq.read_table(part)
    i = good.schema.get_field_index("o_totalprice")
    pq.write_table(good.set_column(i, "o_totalprice", good["o_totalprice"].cast(pa.string())), part)
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        cli.run_source(spark, out, src, d2)
    snap_root = os.path.join(out, "orders", "snapshot")
    assert sorted(os.listdir(snap_root)) == [f"run_date={d1}"]
    assert open(os.path.join(out, "orders", "_LATEST")).read().endswith(f"run_date={d1}")

    pq.write_table(good, part)
    assert cli.run_source(spark, out, src, d2)["counts"] == truth[1]
    assert open(os.path.join(out, "orders", "_LATEST")).read().endswith(f"run_date={d2}")


def test_read_extract_formats(spark, tmp_path, cli):
    """A CSV extract read with the configured schema gives the same counts
    as the Parquet one; JSON without a schema and an unknown format raise."""
    src, truth = gen.cdc_days(str(tmp_path / "extracts"), 5, 2, 500)
    csv_base = str(tmp_path / "csv")
    for day in range(2):
        d = gen.run_date(day)
        spark.read.parquet(src["input_path"].format(run_date=d)).write.option(
            "header", "true"
        ).csv(os.path.join(csv_base, d))
    csv_src = dict(
        src,
        input_path=csv_base + "/{run_date}",
        format="csv",
        schema="o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_version BIGINT",
    )
    for day in range(2):
        d = gen.run_date(day)
        pq_counts = cli.run_source(spark, str(tmp_path / "pq_out"), src, d)["counts"]
        csv_counts = cli.run_source(spark, str(tmp_path / "csv_out"), csv_src, d)["counts"]
        assert csv_counts == pq_counts == truth[day]

    with pytest.raises(ValueError, match="require 'schema'"):
        cli._read_extract(spark, dict(src, format="json"), gen.run_date(0))
    with pytest.raises(ValueError, match="unknown format"):
        cli._read_extract(spark, dict(src, format="orc"), gen.run_date(0))


# ---------------------------------------------------------------------------
# the _LATEST flip: a symlink rename, never a regular file renamed over one


def _pointer_files(out: str, name: str) -> list[str]:
    return sorted(f for f in os.listdir(os.path.join(out, name)) if f.startswith("_LATEST."))


def test_pointer_flip_is_metadata_only(spark, tmp_path, cli, monkeypatch):
    """Over a 3-day chain no rename run_source makes moves a regular file
    onto an existing path (ext4 flushes the renamed file's data for that
    one: ~50 ms a day); _LATEST is a symlink to the one pointer file left,
    which names the day's snapshot. Re-running an older day leaves the
    pointer, its file and the directory listing exactly as they were."""
    src, truth = gen.cdc_days(str(tmp_path / "extracts"), 11, 3, 500)
    out = str(tmp_path / "out")
    ptr = os.path.join(out, "orders", "_LATEST")
    moves = []

    def recording(real):
        def move(a, b, *args, **kw):
            regular = os.path.isfile(a) and not os.path.islink(a)
            moves.append((a, b, regular, os.path.lexists(b)))
            return real(a, b, *args, **kw)

        return move

    monkeypatch.setattr(os, "replace", recording(os.replace))
    monkeypatch.setattr(os, "rename", recording(os.rename))
    for day in range(3):
        s = cli.run_source(spark, out, src, gen.run_date(day))
        assert s["counts"] == truth[day], day
        assert os.path.islink(ptr)
        assert open(ptr).read() == s["snapshot"]
        assert _pointer_files(out, "orders") == [os.readlink(ptr)]
    assert [m for m in moves if m[2] and m[3]] == [], "regular file renamed over a path"
    assert sum(1 for a, b, _, existed in moves if b == ptr and existed) == 2

    before = (os.readlink(ptr), _pointer_files(out, "orders"))
    n_moves = len(moves)
    s = cli.run_source(spark, out, src, gen.run_date(1))
    assert s["counts"] == truth[1]
    assert (os.readlink(ptr), _pointer_files(out, "orders")) == before
    assert all(b != ptr for _, b, _, _ in moves[n_moves:]), "older day moved _LATEST"


def _fake_snapshot(out: str, name: str, run_date: str) -> str:
    d = os.path.join(out, name, "snapshot", f"run_date={run_date}")
    os.makedirs(d)
    open(os.path.join(d, "_SUCCESS"), "w").close()
    return d


def test_pointer_resolution_and_orphan_sweep(tmp_path, cli):
    """A legacy regular-file _LATEST is read, then upgraded to a symlink by
    the next flip. An empty pointer file, a dangling link and a dir all
    read as "no pointer": the newest complete snapshot answers. Pointer
    files _LATEST does not name are swept once aged; a young one and the
    live one survive."""
    out = str(tmp_path)
    d1, d2 = _fake_snapshot(out, "t", "d1"), _fake_snapshot(out, "t", "d2")
    ptr = os.path.join(out, "t", "_LATEST")
    with open(ptr, "w") as fh:  # the legacy one-line pointer file
        fh.write(d1 + "\n")
    assert cli._resolve_latest(out, "t") == d1
    cli._publish_pointer(out, "t", d2, "d2")
    assert os.path.islink(ptr) and cli._resolve_latest(out, "t") == d2
    assert _pointer_files(out, "t") == [os.readlink(ptr)]
    cli._publish_pointer(out, "t", d1, "d1")  # forward-only is run_source's rule
    assert cli._resolve_latest(out, "t") == d1
    assert _pointer_files(out, "t") == [os.readlink(ptr)]

    live = os.path.join(out, "t", os.readlink(ptr))
    open(live, "w").close()  # zero-length pointer file
    assert cli._resolve_latest(out, "t") == d2
    os.remove(live)  # dangling link
    assert cli._resolve_latest(out, "t") == d2
    os.remove(ptr)
    os.makedirs(ptr)  # not a file at all
    assert cli._resolve_latest(out, "t") == d2
    os.rmdir(ptr)

    cli._publish_pointer(out, "t", d2, "d2")
    aged = time.time() - 2 * cli._STALE_DIR_GRACE_SEC
    live = os.path.join(out, "t", os.readlink(ptr))
    orphan = os.path.join(out, "t", "_LATEST.d3.deadbeef")
    link = os.path.join(out, "t", "_LATEST.deadbeef.link")
    young = os.path.join(out, "t", "_LATEST.d3.cafef00d")
    for p in (orphan, young):
        with open(p, "w") as fh:
            fh.write(d2)
    os.symlink(os.path.basename(orphan), link)
    for p in (orphan, live):
        os.utime(p, (aged, aged))
    os.utime(link, (aged, aged), follow_symlinks=False)
    assert cli._sweep_stale_dirs(out, "t") == 2
    assert not os.path.lexists(orphan) and not os.path.lexists(link)
    assert os.path.exists(young) and os.path.exists(live)
    assert cli._resolve_latest(out, "t") == d2
