import json
import os
import time

from perfbench import eventlog


def _task(stage, run_ms, cpu_ns, spill=0, rows=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
        "Input Metrics": {"Bytes Read": 100, "Records Read": rows},
        "Output Metrics": {"Bytes Written": 10},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
        "Memory Bytes Spilled": spill, "Disk Bytes Spilled": spill}}


def _job(jid, stages, start, end, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def test_span_layers_attributes_by_group_then_time():
    events = (
        _job(0, [0], 1000, 1400, group="a")          # group a, overlaps span b's time
        + _job(1, [1, 2], 2100, 2300)                # no group: time puts it in b
        + _job(2, [3], 9000, 9100)                   # outside every span: dropped
        + [{"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": s}}
           for s in range(4)]
        + [_task(0, 50, 40_000_000, rows=5), _task(1, 20, 10_000_000, spill=3),
           _task(2, 20, 10_000_000), _task(3, 99, 1)]
    )
    spans = [("a", 900, 1500), ("b", 1000, 2500)]
    out = eventlog.span_layers(events, spans)
    a, b = out["a"], out["b"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 1, 1)
    assert (b["jobs"], b["stages"], b["tasks"]) == (1, 2, 2)
    assert a["task_run_s"] == 0.05 and abs(a["task_cpu_s"] - 0.04) < 1e-12
    assert a["input_records"] == 5 and b["spill_bytes"] == 3
    assert a["in_jobs_s"] == 0.4 and b["in_jobs_s"] == 0.2


def test_parser_on_one_tiny_spark_job(tmp_path):
    """A real session with the traced event-log confs: one small
    aggregation shows up as at least one job and no spill."""
    from perfbench.harness import Harness, isolate_env

    work = str(tmp_path / "work")
    isolate_env(work, "1g")
    h = Harness(work)
    log_dir = str(tmp_path / "events")
    try:
        h.session()
        spark = h.session(log_dir)
        spark.sparkContext.setJobGroup("tiny", "tiny")
        t0 = time.time() * 1e3
        rows = spark.range(0, 1000, 1, 2).selectExpr("id % 3 AS k").groupBy("k").count().collect()
        t1 = time.time() * 1e3
        spark.stop()
        h.spark = None
        assert sorted(r["count"] for r in rows) == [333, 333, 334]
        files = os.listdir(log_dir)
        assert len(files) == 1 and not files[0].endswith(".inprogress")
        with open(os.path.join(log_dir, files[0])) as fh:
            json.loads(fh.readline())  # plain JSON lines: not compressed
        out = eventlog.span_layers(eventlog.read_events(log_dir), [("tiny", t0, t1)])["tiny"]
        assert out["jobs"] >= 1 and out["tasks"] >= 1
        assert out["spill_bytes"] == 0
        assert 0 < out["in_jobs_s"] <= (t1 - t0) / 1e3
    finally:
        h.close()
