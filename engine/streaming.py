"""Structured Streaming surface (SURVEY.md §2.9) — the north-star core:
CDC processing is exactly what Structured Streaming is designed for.

Every key runs a finite file-source stream with ``trigger(availableNow)``
so results are checkable; the oracle is the batch-equivalent query —
precisely the guarantee Structured Streaming makes (streaming result ≡
batch result on the same data; Armbrust et al., SIGMOD 2018).

Mechanics shared by all keys:
- Input: the normalized ``events`` table written once per (session,
  sf_dir) to a temp dir as FOUR time-ordered parquet files; with
  ``maxFilesPerTrigger=1`` this yields four genuine micro-batches.
- State: aggregations use complete/update mode into a memory sink. Every
  foreachBatch sink commits through ONE path (``_tx_sink``): each
  micro-batch lands as exactly one TxTable version (engine/txlog.py)
  whose op carries the batch-id token. A version is visible only once
  its manifest commits, so a crash mid-write leaves unreferenced files,
  never a torn snapshot; Spark replays the uncommitted batch on restart,
  and a replayed batch whose token is already committed is a no-op —
  at-least-once delivery becomes exactly-once state (SURVEY §4).
- At scale: the same code reads a real feed (Kafka/files) with watermarks
  bounding state; state stores shard by group key across executors.
"""

from __future__ import annotations

import itertools
import os
import tempfile
import time
import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.cdc import dedup_extract
from engine.io import load_tables
from engine.io import tmpdir as io_tmpdir
from engine.registry import query

_uid = itertools.count()
_CDC_COLS = ["user_id", "event_id", "ts", "value"]
# weakly keyed by the session (r09, VERDICT r08 item 8): an id()-keyed
# dict is never evicted, so a new session allocated at a dead session's
# address would inherit its entries — same hazard class the r08 ADVICE
# flagged for conf overrides (harmless here only because the content is
# deterministic per sf_dir; fixed for consistency with that pattern)
_stream_input_cache: "weakref.WeakKeyDictionary[SparkSession, dict[str, str]]" = (
    weakref.WeakKeyDictionary()
)


def _events_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write normalized events as 4 time-ordered parquet files (cached per
    session+sf_dir). Files are written sequentially so modification-time
    order == event-time order (micro-batch simulation)."""
    per_session = _stream_input_cache.setdefault(spark, {})
    cached = per_session.get(sf_dir)
    if cached is not None and os.path.isdir(cached):
        return cached
    ev = load_tables(spark, sf_dir)["events"]
    base = io_tmpdir("engine_stream_in_")
    bounds = ev.select(
        F.percentile("ts_ns", 0.25).alias("q1"),
        F.percentile("ts_ns", 0.5).alias("q2"),
        F.percentile("ts_ns", 0.75).alias("q3"),
    ).collect()[0]
    cuts = [float("-inf"), bounds.q1, bounds.q2, bounds.q3, float("inf")]
    for i in range(4):
        part = ev.where(
            (F.col("ts_ns") > F.lit(cuts[i])) & (F.col("ts_ns") <= F.lit(cuts[i + 1]))
            if i > 0
            else (F.col("ts_ns") <= F.lit(cuts[1]))
        )
        part.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, f"b{i}"))
        time.sleep(0.05)  # distinct mtimes → deterministic batch order
    per_session[sf_dir] = base
    return base


def _read_stream(spark: SparkSession, sf_dir: str, max_files: int | None = None) -> DataFrame:
    d = _events_stream_dir(spark, sf_dir)
    schema = load_tables(spark, sf_dir)["events"].schema
    r = spark.readStream.schema(schema)
    if max_files:
        r = r.option("maxFilesPerTrigger", max_files)
    return r.option("recursiveFileLookup", "true").parquet(d)


def _drain(writer, ckpt: str | None = None) -> None:
    """Run a configured DataStreamWriter as an availableNow query to
    completion, checkpointing in ``ckpt`` (a restartable location) or in
    a temp dir removed afterwards."""
    with tempfile.TemporaryDirectory(prefix="engine_ckpt_") as tmp:
        q = writer.option("checkpointLocation", ckpt or tmp).trigger(availableNow=True).start()
        q.awaitTermination()


def _run_to_memory(stream_df: DataFrame, mode: str) -> DataFrame:
    """Run an availableNow stream into a memory sink; return final table."""
    name = f"memsink_{next(_uid)}"
    _drain(stream_df.writeStream.format("memory").queryName(name).outputMode(mode))
    return stream_df.sparkSession.table(name)


def _once(t, commit):
    """foreachBatch body: ``commit(t, batch_df, token)`` with token
    ``batch={id}``, skipped when a committed op already carries the
    token — a replayed batch is a no-op before it touches data."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        token = f"batch={batch_id}"
        if not any(op.endswith(f"#{token}") for op in t.ops()):
            commit(t, batch_df, token)

    return run


def _tx_sink(stream: DataFrame, commit, table: str | None = None, ckpt: str | None = None):
    """Drain ``stream`` into a TxTable, one committed version per
    micro-batch via ``_once(t, commit)``; returns the table. ``table``
    and ``ckpt`` default to fresh temp dirs; passing both lets a caller
    restart a query against the same state. The default table dir is an
    ``io.tmpdir``, removed only at exit, and committed files are never
    rewritten, so a key returns a plain ``t.read()`` with no copy."""
    from engine.txlog import TxTable

    t = TxTable(stream.sparkSession, table or os.path.join(io_tmpdir("engine_txsink_"), "tbl"))
    _drain(stream.writeStream.foreachBatch(_once(t, commit)), ckpt)
    return t


def _overwrite(merge):
    """The commit of a snapshot sink: ``merge(prev or None, batch_df)``
    becomes the version after the one it read, committed with
    ``overwrite`` in the plan's own partitioning; a writer that
    committed since the read makes it raise CommitConflict."""

    def commit(t, batch_df: DataFrame, token: str) -> None:
        vs = t.versions()
        prev = t.read(vs[-1]) if vs else None
        t.overwrite(merge(prev, batch_df), note=token, expected_version=vs[-1] + 1 if vs else 0)

    return commit


@query(
    "source_stream_files",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events GROUP BY event_type
    """,
)
def source_stream_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based readStream over the events feed; streamed counts/sums per
    type must equal the batch query (§2.2 source key). NB exact distinct is
    unsupported on streams — use approx_count_distinct there."""
    s = _read_stream(spark, sf_dir)
    agg = s.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("value").alias("tv")
    )
    out = _run_to_memory(agg, "complete")
    return out.select("event_type", "n", F.round("tv", 4).alias("total_value"))


@query(
    "stream_tumbling_count",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS ws,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per type per 1-hour tumbling window (complete mode — final
    state ≡ batch)."""
    s = _read_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").count()
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").alias("ws"), "event_type", F.col("count").alias("n")
    )


@query(
    "stream_sliding_avg",
    oracle="""
    WITH offs AS (SELECT unnest(generate_series(0, 3)) AS k)
    SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))
             - k * INTERVAL 15 MINUTE AS ws,
           floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100.0 / count(*) * 1000000 + 0.5) / 1000000 AS avg_value,
           count(*) AS n
    FROM events, offs
    GROUP BY 1
    """,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min: each event lands in 4 windows.

    The average is exact-cents-sum / count with a floor 6dp snap, NOT
    avg()+round(): value is a 2dp column and window populations here are
    powers of two, so the true mean lands EXACTLY on decimal
    half-boundaries (46.2796875 at sf1) where Spark's BigDecimal HALF_UP
    and DuckDB's std::round disagree — caught by the r07 sf1 parity
    sweep. Cents sums are exact integers on both engines, the division
    chain is the same IEEE ops, and floor is bit-identical."""
    s = _read_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour", "15 minutes")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("cents"),
        F.count("*").alias("n"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").alias("ws"),
        (
            F.floor(
                F.col("cents").cast("double") / 100.0 / F.col("n") * 1000000
                + F.lit(0.5)
            ).cast("double")
            / 1000000
        ).alias("avg_value"),
        "n",
    )


@query(
    "stream_session_window",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, sum(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap). session_window end = last
    event + gap, matching the lag-based batch formulation exactly."""
    s = _read_stream(spark, sf_dir)
    agg = s.groupBy(F.session_window("ts", "30 minutes"), "user_id").count()
    out = _run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        F.col("count").alias("n_events"),
    )


@query(
    "stream_watermark_late",
    oracle="""
    WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events),
    w AS (
      SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS ws,
             CAST(count(*) AS BIGINT) AS n,
             min(user_id) AS min_user
      FROM events GROUP BY 1
    )
    SELECT w.ws, w.n, w.min_user, true AS late_row_absent
    FROM w, mx WHERE w.ws + INTERVAL 1 HOUR <= mx.m - INTERVAL 1 HOUR
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour watermark with an injected late row — r03: FULL hash oracle
    (was rows-only). Append mode makes watermark semantics
    SQL-derivable: the finalized output is exactly the hourly windows
    whose end ≤ final watermark (max event time − 1 h), with counts that
    EXCLUDE the dropped late row and the never-finalized buffer window —
    so the oracle recomputes those windows from the batch table and the
    hash gate now verifies all three watermark behaviors at once
    (finalization boundary, late-drop, open-window retention). A leaked
    late row shifts a count AND min_user (= −1); a mis-finalized window
    changes the row set. The window grid is epoch-aligned in both
    engines (Spark window() ↔ DuckDB time_bucket).

    Batch 0 carries all real events; batch 1 is a buffer row at max ts
    (Spark applies an advanced watermark with a one-batch delay — verified
    empirically: without the buffer, the late row in the very next batch
    still merges); batch 2 carries one fabricated row whose ts predates
    the now-effective watermark by weeks. It must be dropped
    (numRowsDroppedByWatermark) and its user_id=-1 must NOT reach the
    sink. Output = finalized windows + the in-query late_row_absent flag."""
    ev = load_tables(spark, sf_dir)["events"]
    base = io_tmpdir("engine_late_")
    ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "b0"))
    time.sleep(0.05)

    def one_row(order_col, user_id):
        return (
            ev.orderBy(order_col)
            .limit(1)
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                F.lit(user_id).cast("long").alias("user_id"),
                F.col("event_type"),
                F.col("value"),
                F.col("props"),
                F.col("ts"),
                F.col("ts_ns"),
            )
            .select(*[f.name for f in ev.schema.fields])
        )

    # buffer batch at max ts: makes the advanced watermark effective
    one_row(F.col("ts").desc(), 999_999).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(base, "b1")
    )
    time.sleep(0.05)
    # the late row: earliest ts, weeks behind the watermark
    one_row(F.col("ts").asc(), -1).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(base, "b2")
    )
    time.sleep(0.05)

    s = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(base)
    )
    # watermarks require TimestampType; session tz is UTC so NTZ→TZ is identity
    s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"), F.min("user_id").alias("min_user"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.col("window.start").alias("ws"), "n", "min_user",
        (F.col("min_user") >= 0).alias("late_row_absent"),
    )


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT DISTINCT event_id, user_id, event_type FROM events
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates within a watermark over a feed that
    delivers every event twice (duplicated input files) — the dedup state
    must emit each event_id exactly once ≡ batch DISTINCT."""
    ev = load_tables(spark, sf_dir)["events"]
    base = io_tmpdir("engine_dup_")
    ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "b0"))
    time.sleep(0.05)
    ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "b1"))
    s = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(base)
    )
    dedup = (
        s.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_to_memory(dedup, "append")


@query(
    "stream_stateful_running",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running aggregate in UPDATE mode (state store). The memory
    sink accumulates every per-batch update; the LATEST state per user is
    the row with max n_events (strictly monotonic — update mode only
    emits a user's row when new events arrived), whose tv is taken via
    max_by. NOT max(tv): the running sum is only monotonic while values
    are positive, so max(tv) would silently return a stale intermediate
    state if any value were negative (r01 ADVICE)."""
    s = _read_stream(spark, sf_dir, max_files=1)
    agg = s.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("tv")
    )
    out = _run_to_memory(agg, "update")
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max_by("tv", "n_events"), 4).alias("total_value"),
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, n.n_name AS nation
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension: the static side is planned per
    micro-batch (broadcast — 25 rows), no stream-stream state needed."""
    t = load_tables(spark, sf_dir)
    s = _read_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    j = s.join(
        F.broadcast(t["nation"]), s["user_id"] % 25 == F.col("n_nationkey")
    ).select("event_id", "user_id", F.col("n_name").alias("nation"))
    return _run_to_memory(j, "append")


@query(
    "stream_stream_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'click')
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM p JOIN c ON p.user_id = c.user_id
      AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases ⋈ clicks of the same user
    within the preceding hour. Both sides carry watermarks and the join
    condition carries the time-range bound — that pair is what lets the
    state store EVICT old rows instead of growing forever (the required
    shape for stream-stream joins at scale). Result ≡ the batch range
    join on the same data."""
    s1 = _read_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    s2 = _read_stream(spark, sf_dir).where(F.col("event_type") == "click")
    p = (
        s1.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        s2.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    j = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
    return _run_to_memory(j, "append")


@query(
    "stream_custom_stateful",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(max(value), 4) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, max) kept in an explicit state store across
    micro-batches, emitted on every update; the memory sink's LAST update
    per user equals the batch aggregate. This is the escape hatch for
    state machines Spark's built-in aggregates can't express (the state
    schema is user-defined); state shards by group key across executors."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdf_iter:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "max_value": [mx]})

    s = _read_stream(spark, sf_dir, max_files=1)
    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, max_value double",
        stateStructType="n long, mx double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = _run_to_memory(out, "update")
    # last update per user == final state (counts grow monotonically)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        res.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "n_events", F.round("max_value", 4).alias("max_value"))
    )


def _merge_join(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """sink_foreachBatch_merge's merge: full-outer join prev⋈batch on
    user_id, the newer (ts, event_id) side wins the whole row."""
    latest = dedup_extract(batch_df.select(*_CDC_COLS), ["user_id"], "ts", "event_id")
    if prev is None:
        return latest
    p = prev.select(*[F.col(c).alias(f"p_{c}") for c in _CDC_COLS])
    b = latest.select(*[F.col(c).alias(f"b_{c}") for c in _CDC_COLS])
    j = p.join(b, F.col("p_user_id") == F.col("b_user_id"), "full_outer")
    b_wins = F.col("p_user_id").isNull() | (
        F.col("b_user_id").isNotNull()
        & (
            (F.col("b_ts") > F.col("p_ts"))
            | ((F.col("b_ts") == F.col("p_ts")) & (F.col("b_event_id") >= F.col("p_event_id")))
        )
    )
    return j.select(
        *[F.when(b_wins, F.col(f"b_{c}")).otherwise(F.col(f"p_{c}")).alias(c) for c in _CDC_COLS]
    )


@query(
    "sink_foreachBatch_merge",
    oracle="""
    SELECT user_id, event_id, value
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def sink_foreachBatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 sink key: per-micro-batch MERGE of a CDC feed into the
    current-state snapshot via foreachBatch — hand-rolled MERGE WHEN
    MATCHED semantics (no Delta Lake): full-outer join prev⋈batch on the
    key, newest (ts, event_id) wins per column set. Unlike
    stream_cdc_pipeline's union+dedup formulation, this is the explicit
    join-shaped merge; both are order-independent, and both must equal
    the batch latest-per-key oracle. Each batch's snapshot is one TxTable
    OVERWRITE version, visible only once its manifest commits; a replayed
    batch is a no-op by its token (``_tx_sink``)."""
    t = _tx_sink(_read_stream(spark, sf_dir, max_files=1), _overwrite(_merge_join))
    return t.read().select("user_id", "event_id", "value")


@query(
    "stream_cdc_pipeline",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_cdc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NORTH-STAR FLAGSHIP: events as a CDC feed → foreachBatch →
    idempotent merge → current-state snapshot.

    Each micro-batch merges into the snapshot with latest-per-key (max
    ts, event_id tie-break) semantics — ORDER-INDEPENDENT, so reordered
    batches converge to the same snapshot — and commits it as one
    TxTable OVERWRITE version, visible only once its manifest commits.
    A replayed batch is a no-op by its batch-id token, so at-least-once
    delivery becomes exactly-once state, crash mid-batch included
    (SURVEY §4). Final snapshot ≡ batch latest-per-key over all events.
    """
    return _cdc_pipeline(spark, sf_dir, max_files=1)


def _merge_latest(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """stream_cdc_pipeline's merge: union + latest-per-key dedup."""
    inc = batch_df.select(*_CDC_COLS)
    return dedup_extract(
        inc if prev is None else prev.unionByName(inc), ["user_id"], "ts", "event_id"
    )


def _cdc_pipeline(spark: SparkSession, sf_dir: str, max_files: int | None = 1) -> DataFrame:
    """stream_cdc_pipeline's body with the micro-batch size as a knob:
    ``max_files`` files per trigger over the 4 time-quartile input files
    (None = the whole feed in ONE batch). The registered key pins
    max_files=1 (4 merges — the per-batch machinery under test);
    bench.py's larger-batch points call this directly to record how
    per-batch merge throughput scales with batch size (VERDICT r07
    item 4). Snapshot semantics are order-independent, so every batch
    size converges to the same final snapshot."""
    t = _tx_sink(_read_stream(spark, sf_dir, max_files=max_files), _overwrite(_merge_latest))
    return t.read().select(*_CDC_COLS)


def _scd2_window(df: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return df.select(
        "user_id",
        "event_id",
        "value",
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def _merge_scd2(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """stream_scd2_foreachbatch's merge: untouched users' history passes
    through (anti-join); touched users' rows are re-windowed. The
    re-window is per touched user, but the commit is an OVERWRITE of the
    whole history, so each batch rewrites the table so far: at sf0.1
    (bench confs) the four batches write 0.61, 1.25, 1.88 and 2.49 MB."""
    inc = batch_df.select("user_id", "event_id", "value", "ts")
    if prev is None:
        return _scd2_window(inc)
    touched = inc.select("user_id").distinct()
    untouched = prev.join(touched, "user_id", "left_anti")
    touched_rows = prev.join(touched, "user_id", "left_semi").select(
        "user_id", "event_id", "value", F.col("effective_from").alias("ts")
    )
    return untouched.unionByName(_scd2_window(touched_rows.unionByName(inc)))


@query(
    "stream_scd2_foreachbatch",
    oracle="""
    SELECT user_id, event_id, value,
           CAST(ts AS TIMESTAMP) AS effective_from,
           lead(CAST(ts AS TIMESTAMP)) OVER w AS effective_to,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def stream_scd2_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance: each micro-batch upserts into a Type-2
    history (effective_from / effective_to / is_current per user change).
    The re-window is per key: history rows for users untouched by the
    batch pass through (anti-join); only touched users' histories are
    re-windowed over their own rows. The commit still rewrites the whole
    history (see ``_merge_scd2`` for the bytes). Order-independent: a key's
    intervals are a pure function of its accumulated rows, so late or
    reordered batches converge to the same history (the oracle is the
    batch window over ALL events). The streaming twin of
    cdc_scd2_history. Each batch's history is one TxTable OVERWRITE
    version, visible only once its manifest commits; a replayed batch is
    a no-op by its token."""
    t = _tx_sink(_read_stream(spark, sf_dir, max_files=1), _overwrite(_merge_scd2))
    return t.read().select(
        "user_id", "event_id", "value", "effective_from", "effective_to", "is_current"
    )


@query(
    "stream_timeout_sessions",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, sum(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
           CAST(max(us) AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def stream_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sessionization with EVENT-TIME TIMEOUTS — the
    applyInPandasWithState feature the rest of the streaming surface
    doesn't touch: a session closes either because a later event arrives
    past the 30-minute gap (in-batch split) or because the WATERMARK
    passes last_event + 30 min with no successor (state timeout fires
    and evicts). Built-in session_window gives the same aggregate
    (stream_session_window); this key exists because real pipelines
    need custom per-session state machines with eviction, and timeouts
    are how bounded state is guaranteed.

    Determinism: two far-future sentinel files follow the four real
    micro-batches. The first advances the watermark past every real
    session's deadline; the SECOND runs a batch under that advanced
    watermark, so every remaining real session times out then — no
    reliance on whether availableNow schedules a trailing eviction-only
    batch. Sentinel users (≥ 999000) never reach the output; the oracle
    is the batch 30-min-gap sessionization (win_sessionize semantics)
    over the real events. State is (start, last, n) per user — O(users)
    bounded by eviction, sharded by group key at scale."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = load_tables(spark, sf_dir)["events"]
    base = io_tmpdir("engine_tosess_")
    src = _events_stream_dir(spark, sf_dir)
    import shutil

    for b in ("b0", "b1", "b2", "b3"):
        shutil.copytree(os.path.join(src, b), os.path.join(base, b))
        time.sleep(0.02)
    mx = ev.agg(F.max("ts_ns").alias("m")).collect()[0].m
    for i, (uid, offset_days) in enumerate(((999_999, 10), (999_998, 20))):
        ns = mx + offset_days * 86_400_000_000_000
        row = ev.limit(1).select(
            F.lit(-1 - i).cast("long").alias("event_id"),
            F.lit(uid).cast("long").alias("user_id"),
            F.col("event_type"),
            F.col("value"),
            F.col("props"),
            F.expr(
                f"cast(timestamp_micros({ns} div 1000) as timestamp_ntz)"
            ).alias("ts"),
            F.lit(ns).cast("long").alias("ts_ns"),
        ).select(*[f.name for f in ev.schema.fields])
        row.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(base, f"b{4 + i}")
        )
        time.sleep(0.02)

    gap_us = 1_800_000_000

    def update(key, pdf_iter, state: GroupState):
        rows = [pdf for pdf in pdf_iter if len(pdf)]
        closed = []
        if state.hasTimedOut:
            start, last, n = state.get
            closed.append((key[0], start, last, n))
            state.remove()
        else:
            pdf = (
                pd.concat(rows).sort_values(["ts_ns", "event_id"])
                if rows
                else None
            )
            if pdf is not None:
                if state.exists:
                    start, last, n = state.get
                else:
                    start = last = None
                for r_us, _eid in zip(
                    (pdf["ts_ns"] // 1000).tolist(), pdf["event_id"].tolist()
                ):
                    if last is None:
                        start, last, n = r_us, r_us, 1
                    elif r_us - last > gap_us:
                        closed.append((key[0], start, last, n))
                        start, last, n = r_us, r_us, 1
                    else:
                        last, n = r_us, n + 1
                state.update((start, last, n))
                state.setTimeoutTimestamp(last // 1000 + gap_us // 1000)
        yield pd.DataFrame(
            closed, columns=["user_id", "start_us", "end_us", "n_events"]
        )

    schema = ev.schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(base)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
    )
    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, start_us long, end_us long, n_events long",
        stateStructType="start long, last long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    res = _run_to_memory(out, "append")
    return res.where(F.col("user_id") < 999_000).localCheckpoint(eager=True)


@query(
    "stream_join_ivm",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100 AS revenue
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY c.c_mktsegment
    """,
)
def stream_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental maintenance of an AGGREGATED JOIN VIEW
    (revenue by market segment from purchases ⋈ customer): each
    micro-batch computes its own partial (batch ⋈ broadcast dim →
    segment aggregate of exact cents) and commits the partial set so far
    (prev ∪ partial, O(batches × segments) rows) as one TxTable OVERWRITE
    version; the view is the re-aggregation of the committed partials.

    This is the exactly-once pattern for additive views: a version is
    visible only once its manifest commits, and a replayed batch finds
    its batch-id token and no-ops instead of double-counting.
    Decomposable partials make the refresh cost O(|batch|) probe work
    against the broadcast dim — the streaming twin of cdc_join_ivm's
    delta-join identity, with the batch sequence as the delta stream.
    Final view ≡ the batch join+aggregate over all events (the oracle),
    which is Structured Streaming's equivalence guarantee applied
    through the foreachBatch escape hatch."""
    cust = load_tables(spark, sf_dir)["customer"].select("c_custkey", "c_mktsegment")

    def add_partial(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        partial = (
            batch_df.where(F.col("event_type") == "purchase")
            .join(F.broadcast(cust), batch_df["user_id"] == F.col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("cents"),
            )
        )
        # O(batches × segments) rows: one file, no per-partition files
        return (partial if prev is None else prev.unionByName(partial)).coalesce(1)

    t = _tx_sink(_read_stream(spark, sf_dir, max_files=1), _overwrite(add_partial))
    # a source with zero micro-batches (empty events dir) commits no
    # version: return an empty view with the same schema instead
    if not t.versions():
        return spark.createDataFrame(
            [], "c_mktsegment string, n_purchases long, revenue double"
        )
    return t.read().groupBy("c_mktsegment").agg(
        F.sum("n").cast("long").alias("n_purchases"),
        (F.sum("cents").cast("double") / 100).alias("revenue"),
    )


@query(
    "stream_rate_source",
    oracle="""
    SELECT n_name, count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_value
    FROM range(5000) t(v)
    JOIN nation ON n_nationkey = v % 25
    GROUP BY n_name
    """,
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A NON-FILE streaming source (the one source-family gap the r07
    verdict listed): Spark's built-in ``rate-micro-batch`` generator —
    the deterministic twin of the ``rate`` source (value 0..n-1 and a
    batch-indexed timestamp instead of wall-clock rows/sec), so the
    streamed result is hash-checkable like every other key. The stream
    is enriched against the broadcast nation dim (stream-static join,
    the Kafka-feed-joins-dimension shape) and aggregated in complete
    mode. The ``value < 5000`` predicate pins the checked window to the
    first batch's key space, so the key stays deterministic even if the
    availableNow run ever delivered more than one batch. At scale the
    same plan reads Kafka: swap ``format("rate-micro-batch")`` for
    ``format("kafka")`` — watermarks, the broadcast enrich, and the
    stateful agg are source-agnostic (no Kafka in this sandbox; the
    rate source IS a real external-clock source, not a file replay)."""
    nation = load_tables(spark, sf_dir)["nation"]
    s = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 5000)
        .option("numPartitions", 8)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60000)
        .load()
    )
    enriched = s.where(F.col("value") < 5000).join(
        F.broadcast(nation), F.pmod(F.col("value"), F.lit(25)) == F.col("n_nationkey")
    )
    agg = enriched.groupBy("n_name").agg(
        F.count("*").alias("n_rows"), F.sum("value").alias("sum_value")
    )
    return _run_to_memory(agg, "complete")


@query(
    "stream_txlog_sink",
    oracle="""
    SELECT user_id, event_id, value
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_txlog_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sink into the hand-rolled transaction log — the Delta-
    streaming-sink pattern: each micro-batch MERGEs its latest-per-key
    rows into a TxTable (engine/txlog.py) with the BATCH ID committed in
    the manifest as an idempotence token, so at-least-once redelivery is
    EXACTLY-ONCE at the table: a replayed batch finds its token and
    no-ops before touching data. The replay is exercised for real — after
    the stream drains, the last batch id is re-submitted with a
    poisoned DataFrame (the full raw feed); the version count and final
    result must be unchanged, which only holds if the token check fired
    (engine-asserted, and any leak would also shift the hash vs the
    batch latest-per-key oracle). Later batches carry strictly later
    event times (quartile-cut files), so merge-last-wins ≡ global
    latest-per-key. Each version is written in the merge plan's own
    partitioning, like the snapshot sinks, and read back with the
    manifest's schema: a warm call and the write of its result run 15
    Spark jobs at sf0.01. At 100 TB the COW merge narrows to touched
    partitions (`cdc_partition_pruned_merge`'s shape); the manifest
    commit stays one atomic link per batch."""
    t = _tx_sink(_read_stream(spark, sf_dir, max_files=1), _upsert)
    n_versions = len(t.versions())
    # simulate at-least-once redelivery with a poisoned payload: if the
    # idempotence token were ignored, the raw feed would corrupt the table
    _once(t, _upsert)(load_tables(spark, sf_dir)["events"], n_versions - 1)
    assert len(t.versions()) == n_versions, "replayed batch must be a no-op"
    return t.read().select("user_id", "event_id", "value")


def _upsert(t, batch_df: DataFrame, token: str) -> None:
    """stream_txlog_sink's commit: the batch's latest-per-key rows as a
    CREATE (first batch) or a copy-on-write MERGE on user_id, written in
    the plan's own partitioning like the snapshot sinks' ``_overwrite``."""
    latest = dedup_extract(batch_df.select(*_CDC_COLS), ["user_id"], "ts", "event_id")
    if not t.versions():
        t.create(latest, n_files=None, note=token)
    else:
        t.merge(latest, "user_id", n_files=None, note=token)
