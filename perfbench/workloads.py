"""The workloads. Each one makes its inputs from the seed before Spark
starts, sets up the program several times, warms up, then runs closed
loop, one client, for the measured seconds. Every op is verified.

- ``cdc_batch``: one op is one CLI day, ``run_cdc.run_source``.
- ``query_mix``: one op is one pass of a fixed key list, in seeded order,
  through ``__spark_entry__.queries()`` into the noop sink.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import tempfile
import threading
import time

from perfbench import gen
from perfbench.harness import Harness

#: setups per run; setup_s is their median
SETUPS = 3

#: the Structured Streaming CDC sink in the mix; each pass replays its
#: whole feed
STREAM_SINK = "stream_txlog_sink"
#: the tmpdir prefix of the sink's transaction-log table, one per replay
SINK_DIR_PREFIX = "engine_txsink_"
#: query_mix keys: two of the headline-8, the dedup keys the open
#: performance items target, and a streaming CDC sink. The first one is
#: also the setup's warm-up query. README.md lists the keys left out.
QUERY_MIX = [
    "agg_pricing_summary", "cdc_snapshot_diff", "llm_minhash_verified",
    "llm_substring_dedup", "llm_semdedup", STREAM_SINK,
]

#: cdc_batch input shape: keys on day 0; update/delete/insert churn per day
CDC_KEYS = 20_000
#: generated days: enough for a 15 s window at 0.5 s per day, and for
#: ``CdcBatch.min_ops``
CDC_DAYS = 60
#: warm-up diff days after the setups. The measured days still speed up
#: by about 10% over the window; 10 warm-up days instead of 4 did not
#: flatten that and cost 8 s a run
CDC_SETTLE_DAYS = 4

_WARM_SEED_OFFSET = 1_000_003


class _Recorder:
    """Wraps methods so each call's wall lands in ``events`` as
    ``(label, t0, t1)``; ``restore`` undoes every wrap."""

    def __init__(self) -> None:
        self.events: list[tuple[str, float, float]] = []
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner: object, attr: str, label: str) -> None:
        orig = getattr(owner, attr)
        events = self.events

        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return orig(*a, **k)
            finally:
                events.append((label, t0, time.perf_counter()))

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


class Workload:
    """One closed-loop client. An op is one call into the program's entry
    point: a CLI day or a pass over the key list."""

    name = ""
    #: fewest ops an untraced window measures, however long they take
    min_ops = 1

    def __init__(self, h: Harness, seed: int, data_dir: str):
        self.h = h
        self.seed = seed
        self.data_dir = data_dir
        self.op_s: list[float] = []
        self.rows = 0
        self.input_bytes = 0
        self.attempted = 0
        self.verified = 0
        self.errors: list[str] = []
        self.recorder: _Recorder | None = None
        #: traced ops: (span, start_ms, end_ms) around the timed part only
        self.spans: list[tuple[str, float, float]] = []
        self.span_info: dict[str, dict] = {}

    # hooks ---------------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def setup_once(self, i: int) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed work between setup and the window (warm-up, checks)."""

    def call(self, span: str | None = None, counted: bool = True) -> float:
        """Run one op and verify it. A counted op is recorded; a traced
        one (``span`` set) also records its span. Returns the timed wall."""
        raise NotImplementedError

    def _span(self, span: str | None, t0_ms: float, t1_ms: float, **info) -> None:
        if span is not None:
            self.spans.append((span, t0_ms, t1_ms))
            self.span_info[span] = info

    def start_tracing(self) -> None:
        self.recorder = _Recorder()

    def stop_tracing(self) -> None:
        if self.recorder is not None:
            self.recorder.restore()

    def op_p50(self) -> float:
        """The median op wall."""
        return statistics.median(self.op_s)

    def layers(self, layer_totals: dict[str, dict]) -> dict[str, float]:
        """Workload-specific per-layer metrics of the traced calls."""
        return {}

    def session(self, event_log_dir: str | None = None):
        return self.h.session(event_log_dir)

    def stored_bytes(self) -> int:
        """Bytes of the files the program keeps under its output dirs."""
        return sum(gen.dir_bytes(d) for d in self.output_dirs())

    def output_dirs(self) -> list[str]:
        raise NotImplementedError

    def _fail(self, msg: str) -> None:
        if len(self.errors) < 5:
            self.errors.append(msg)


# ---------------------------------------------------------------------------
class CdcBatch(Workload):
    name = "cdc_batch"
    #: with 11-15 days, a spell of host contention of about 10 s moved the
    #: median day by up to 30%
    min_ops = 20

    def generate(self) -> None:
        d = self.data_dir
        self.src, self.truth = gen.cdc_days(os.path.join(d, "extracts"), self.seed,
                                            CDC_DAYS, CDC_KEYS)
        self.warm_src, _ = gen.cdc_days(os.path.join(d, "warm_extracts"),
                                        self.seed + _WARM_SEED_OFFSET,
                                        1 + CDC_SETTLE_DAYS, CDC_KEYS)
        self.day_bytes = [
            gen.dir_bytes(self.src["input_path"].format(run_date=gen.run_date(i)))
            for i in range(CDC_DAYS)
        ]
        self.day_rows = [
            _parquet_rows(self.src["input_path"].format(run_date=gen.run_date(i)))
            for i in range(CDC_DAYS)
        ]
        self.next_day = 0

    def _run_source(self, root: str, src: dict, day: int) -> dict:
        from scripts.run_cdc import run_source

        return run_source(self.h.spark, root, src, gen.run_date(day))

    def setup_once(self, i: int) -> None:
        # a session and the full load of a fresh warm-up source
        self.session()
        self.warm_root = os.path.join(self.data_dir, f"warm_out{i}")
        self._run_source(self.warm_root, self.warm_src, 0)

    def prepare(self) -> None:
        # warm-up diff days on the warm-up source
        for day in range(1, 1 + CDC_SETTLE_DAYS):
            self._run_source(self.warm_root, self.warm_src, day)
        # the measured chain's full load is not a diff day: run it untimed
        self.out_root = os.path.join(self.data_dir, "out")
        self.call(counted=False)

    def call(self, span: str | None = None, counted: bool = True) -> float:
        day = self.next_day
        if day >= CDC_DAYS:
            raise RuntimeError("cdc_batch ran out of generated days")
        self.next_day += 1
        if span is not None:
            self.h.spark.sparkContext.setJobGroup(span, span)
        n0 = len(self.recorder.events) if self.recorder else 0
        w0, t0 = time.time() * 1e3, time.perf_counter()
        try:
            res = self._run_source(self.out_root, self.src, day)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            res = {"counts": None, "error": repr(exc)}
        t1 = time.perf_counter()
        dt = t1 - t0
        ok = res["counts"] == self.truth[day]
        if not ok:
            self._fail(f"day {day}: got {res.get('counts')} {res.get('error', '')} "
                       f"want {self.truth[day]}")
            if not counted:
                raise RuntimeError(self.errors[-1])
        if counted:
            self.attempted += 1
            self.verified += ok
            self.op_s.append(dt)
            self.rows += self.day_rows[day]
            self.input_bytes += self.day_bytes[day]
            self._span(span, w0, w0 + dt * 1e3, t0=t0, t1=t1, n0=n0,
                       extract_rows=self.day_rows[day])
        return dt

    def output_dirs(self) -> list[str]:
        return [self.out_root]

    def start_tracing(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        super().start_tracing()
        self.recorder.wrap(DataFrameWriter, "parquet", "write")
        self.recorder.wrap(DataFrame, "collect", "collect")

    def layers(self, layer_totals: dict[str, dict]) -> dict[str, float]:
        """Split each day's wall at run_source's two writes and its count
        collect: plan (up to the changelog write), changelog write,
        snapshot write, publish (renames and pointer), count, remainder.
        ``cdc.read_amp`` is rows scanned per extract row."""
        parts = dict.fromkeys(("plan", "changelog", "snapshot", "publish", "count"), 0.0)
        remainder = 0.0
        scanned = extract = 0
        for name, _, _ in self.spans:
            info = self.span_info[name]
            t0, t1 = info["t0"], info["t1"]
            ev = [e for e in self.recorder.events[info["n0"]:] if t0 <= e[1] <= t1]
            writes = [e for e in ev if e[0] == "write"]
            collects = [e for e in ev if e[0] == "collect"]
            if len(writes) != 2 or len(collects) != 1:
                self._fail(f"{name}: unexpected call shape {[e[0] for e in ev]}")
                continue
            (_, w1a, w1b), (_, w2a, w2b), (_, ca, cb) = writes[0], writes[1], collects[0]
            p = {"plan": w1a - t0, "changelog": w1b - w1a, "snapshot": w2b - w2a,
                 "publish": ca - w2b, "count": cb - ca}
            for k, v in p.items():
                parts[k] += v
            remainder += (t1 - t0) - sum(p.values())
            scanned += layer_totals[name]["input_records"]
            extract += info["extract_rows"]
        n = max(1, len(self.spans))
        return {
            "cdc.plan_s": parts["plan"] / n,
            "run_cdc.changelog_write_s": parts["changelog"] / n,
            "run_cdc.snapshot_write_s": parts["snapshot"] / n,
            "run_cdc.count_s": parts["count"] / n,
            "run_cdc.publish_s": parts["publish"] / n,
            "cdc.unaccounted_s": remainder / n,
            "cdc.read_amp": scanned / extract if extract else 0.0,
        }


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


# ---------------------------------------------------------------------------
def _progress_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started = 0
            self.terminated = 0
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            with self.lock:
                self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.progress.append({
                    "rows": p.numInputRows,
                    "batch_ms": p.batchDuration,
                    "durations": dict(p.durationMs),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated += 1

        def wait_idle(self, timeout: float = 30.0) -> None:
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self.lock:
                    if self.terminated >= self.started:
                        return
                time.sleep(0.01)
            raise RuntimeError("streaming listener missed a termination event")

        def take(self) -> list[dict]:
            with self.lock:
                out, self.progress = self.progress, []
            return out

    return ProgressListener()


# ---------------------------------------------------------------------------
def fixture_dirs() -> tuple[str, str]:
    """The tables the program's DuckDB oracle tests read (``sf0.01``), and
    their ``sf0.001`` sibling, the warm-up input."""
    from tests.oracle import DEFAULT_SF_DIR

    return DEFAULT_SF_DIR, os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")


class QueryMix(Workload):
    name = "query_mix"
    #: op_p50 takes each key's median over the passes
    min_ops = 3

    def generate(self) -> None:
        # the tables are fixed; the seed sets the key order
        self.fx, self.warm_fx = fixture_dirs()
        for d in (self.fx, self.warm_fx):
            if not os.path.isdir(d):
                raise FileNotFoundError(f"query_mix input tables missing: {d}")
        self.pass_rows = _parquet_rows(self.fx)
        self.pass_bytes = gen.dir_bytes(self.fx)
        self.keys = list(QUERY_MIX)
        random.Random(self.seed).shuffle(self.keys)
        self.key_s: dict[str, list[float]] = {k: [] for k in QUERY_MIX}
        self.key_ok: dict[str, bool] = {}

    def session(self, event_log_dir: str | None = None):
        spark = super().session(event_log_dir)
        self.listener = _progress_listener()
        spark.streams.addListener(self.listener)
        return spark

    def output_dirs(self) -> list[str]:
        # the streaming sink's table lands in an engine tmpdir
        return [tempfile.gettempdir()]

    def setup_once(self, i: int) -> None:
        import __spark_entry__
        from engine.io import load_tables

        self.session()
        load_tables(self.h.spark, self.fx)
        __spark_entry__.queries()[QUERY_MIX[0]](self.h.spark, self.warm_fx).write.format(
            "noop").mode("overwrite").save()

    def prepare(self) -> None:
        """The verification pass, every key against its DuckDB oracle once
        per run, then a warm-up pass."""
        import __spark_entry__
        from tests.oracle import compare

        q, oracle = __spark_entry__.queries(), __spark_entry__.oracle_sql()
        self.verify_s = {}
        for k in self.keys:
            t0 = time.perf_counter()
            try:
                ok, msg = compare(q[k](self.h.spark, self.fx), self.fx, oracle[k])
            except Exception as exc:  # noqa: BLE001
                ok, msg = False, repr(exc)
            self.key_ok[k] = ok
            if not ok:
                self._fail(f"{k}: {msg[:300]}")
            if k == STREAM_SINK:
                self.listener.wait_idle()
            self.verify_s[k] = round(time.perf_counter() - t0, 2)
        self.listener.take()
        # after the verification pass alone, the first two measured passes
        # ran 5-25% slower than the third. A warm-up pass on the sf0.001
        # tables took 10 s, twice a measured pass
        self.call(counted=False)

    def call(self, span: str | None = None, counted: bool = True) -> float:
        import __spark_entry__

        q = __spark_entry__.queries()
        sc = self.h.spark.sparkContext
        ok = all(self.key_ok.values())
        per_key, batches, sink_bytes = {}, [], 0
        w0, t_pass = time.time() * 1e3, time.perf_counter()
        for k in self.keys:
            if span is not None:
                sc.setJobGroup(span, k)
            t0 = time.perf_counter()
            try:
                q[k](self.h.spark, self.fx).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                ok = False
                self._fail(f"{k}: {exc!r}"[:300])
            per_key[k] = time.perf_counter() - t0
            if k == STREAM_SINK:
                # listener and snapshot bookkeeping is untimed: it lands
                # between keys
                d = time.perf_counter()
                self.listener.wait_idle()
                batches = [p for p in self.listener.take() if p["rows"] > 0]
                if span is not None:
                    sink_bytes = _newest_sink_bytes()
                t_pass += time.perf_counter() - d
        dt = time.perf_counter() - t_pass
        if counted:
            self.attempted += 1
            self.verified += ok
            self.op_s.append(dt)
            for k, v in per_key.items():
                self.key_s[k].append(v)
            self.rows += self.pass_rows
            self.input_bytes += self.pass_bytes
            self._span(span, w0, w0 + dt * 1e3, per_key=per_key, batches=batches,
                       sink_bytes=sink_bytes)
        return dt

    def op_p50(self) -> float:
        """The pass time made of each key's median wall over the passes:
        a slow spell that hits one key in one pass is voted out."""
        return sum(statistics.median(v) for v in self.key_s.values())

    def start_tracing(self) -> None:
        from engine.txlog import TxTable

        super().start_tracing()
        self.recorder.wrap(TxTable, "merge", "merge")
        self.recorder.wrap(TxTable, "ops", "ops")

    def layers(self, layer_totals: dict[str, dict]) -> dict[str, float]:
        """Mean wall per key over the traced passes; for the streaming
        sink, the micro-batch phases from the listener's ``durationMs``,
        each replay's wall outside its micro-batches, the size of the
        table it leaves and the sink's transaction-log calls."""
        infos = [self.span_info[name] for name, _, _ in self.spans]
        out = {
            f"key.{k}_s": statistics.mean(i["per_key"][k] for i in infos) if infos else 0.0
            for k in QUERY_MIX
        }
        prog = [p for i in infos for p in i["batches"]]
        n = max(1, len(prog))

        def dur(*keys: str) -> float:
            return sum(p["durations"].get(k, 0) for p in prog for k in keys) / 1e3 / n

        batch = sum(p["batch_ms"] for p in prog) / 1e3
        replays = sum(i["per_key"][STREAM_SINK] for i in infos)
        n_replays = max(1, len(infos))
        named = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "latestOffset", "getBatch")
        merges = [b - a for lbl, a, b in self.recorder.events if lbl == "merge"]
        ops = [b - a for lbl, a, b in self.recorder.events if lbl == "ops"]
        out.update({
            "streaming.batches": len(prog) / n_replays,
            "streaming.batch_s": batch / n,
            "streaming.trigger_s": dur("triggerExecution"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.wal_commit_s": dur("walCommit", "commitOffsets"),
            "streaming.offsets_s": dur("latestOffset", "getBatch"),
            "streaming.unaccounted_s": batch / n - dur(*named),
            "streaming.replay_overhead_s": (replays - batch) / n_replays,
            "streaming.snapshot_mb": sum(i["sink_bytes"] for i in infos) / 2.0 ** 20 / n_replays,
            "txlog.merge_s": statistics.mean(merges) if merges else 0.0,
            "txlog.ops_s": statistics.mean(ops) if ops else 0.0,
        })
        return out


def _newest_sink_bytes() -> int:
    """Bytes of the newest sink table directory: every copy-on-write
    version and manifest one replay left."""
    dirs = glob.glob(os.path.join(tempfile.gettempdir(), SINK_DIR_PREFIX + "*"))
    return gen.dir_bytes(max(dirs, key=os.path.getmtime)) if dirs else 0


WORKLOADS = {w.name: w for w in (CdcBatch, QueryMix)}
