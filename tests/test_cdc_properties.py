"""CDC property tests (SURVEY §5.2.4): for random snapshots with nulls,
collisions, and disjoint keys, the diff/apply/upsert/SCD2 algebra must
hold exactly.

Row model: key k (small int domain to force I/D/U/N collisions), tracked
value v (nullable string), tracked value w (nullable int).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.cdc import (
    ORDERS_SPEC,
    SourceSpec,
    _prev_curr,
    apply_changes,
    dedup_extract,
    incremental_upsert,
    snapshot_diff,
    with_fingerprints,
)

SPEC = SourceSpec(name="t", key_cols=("k",), tracked_cols=("v", "w"))

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("w", T.IntegerType(), True),
    ]
)

rows = st.lists(
    st.tuples(
        st.integers(0, 9),
        st.one_of(st.none(), st.sampled_from(["a", "b", "<NULL>", ""])),
        st.one_of(st.none(), st.integers(0, 3)),
    ),
    max_size=12,
)


def snap(spark, data):
    """Unique-key snapshot from a raw row list (last write per key wins)."""
    seen = {}
    for k, v, w in data:
        seen[k] = (k, v, w)
    return spark.createDataFrame(list(seen.values()) or [], SCHEMA)


def multiset(df):
    return sorted((tuple(r) for r in df.select("k", "v", "w").collect()),
                  key=lambda t: tuple((x is None, str(x)) for x in t))


# Spark job latency dominates (~1-3s per example); keep example counts low —
# the domains are tiny (keys 0-9, 4 values), so coverage saturates quickly.
common = settings(
    max_examples=5,
    deadline=None,
    derandomize=True,  # deterministic corpus: CI-stable, no flaky shrink runs
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(prev_rows=rows, curr_rows=rows)
@common
def test_diff_replay_reproduces_curr(spark, prev_rows, curr_rows):
    """apply(prev, diff(prev, curr)) == curr — the fundamental CDC law."""
    prev, curr = snap(spark, prev_rows), snap(spark, curr_rows)
    changelog = snapshot_diff(prev, curr, SPEC).where(F.col("op") != "N")
    replayed = apply_changes(prev, changelog, SPEC)
    assert multiset(replayed) == multiset(curr)


@given(prev_rows=rows, curr_rows=rows)
@common
def test_diff_op_partition(spark, prev_rows, curr_rows):
    """Every key appears exactly once in the diff, with the right op."""
    prev, curr = snap(spark, prev_rows), snap(spark, curr_rows)
    d = snapshot_diff(prev, curr, SPEC)
    got = {r.k: r.op for r in d.collect()}
    pk = {k for (k, *_l) in multiset(prev)}
    ck = {k for (k, *_l) in multiset(curr)}
    assert set(got) == pk | ck
    pmap = {t[0]: t for t in multiset(prev)}
    cmap = {t[0]: t for t in multiset(curr)}
    for k, op in got.items():
        if k in pk and k not in ck:
            assert op == "D"
        elif k in ck and k not in pk:
            assert op == "I"
        elif pmap[k] == cmap[k]:
            assert op == "N"
        else:
            assert op == "U"


@given(prev_rows=rows, delta_rows=rows)
@common
def test_incremental_upsert_laws(spark, prev_rows, delta_rows):
    """Upsert: delta rows land verbatim; untouched prev rows survive; no
    other rows appear; never deletes."""
    prev, delta = snap(spark, prev_rows), snap(spark, delta_rows)
    out = multiset(incremental_upsert(prev, delta, SPEC))
    dmap = {t[0]: t for t in multiset(delta)}
    pmap = {t[0]: t for t in multiset(prev)}
    expect = dict(pmap)
    expect.update(dmap)
    assert sorted(out, key=str) == sorted(expect.values(), key=str)


def test_fingerprint_no_boundary_collision(spark):
    """('ab','c') and ('a','bc') must hash differently; None is distinct
    from the sentinel string '<NULL>' — wait, it is NOT: the sentinel IS
    the encoding of NULL, so a literal '<NULL>' string collides by design.
    This test documents that known, accepted ambiguity and proves the
    separator prevents shift collisions."""
    df = spark.createDataFrame([(1, "ab", None), (2, "a", None)], SCHEMA)
    spec = SourceSpec(name="t", key_cols=("k",), tracked_cols=("v", "w"))
    fp = {r.k: r.nonkey_hash for r in with_fingerprints(df, spec).collect()}
    assert fp[1] != fp[2]


def test_null_key_matching_is_null_safe(spark):
    """r06 raw-key-join rework pin: the md5-sentinel join made NULL key
    components match NULL (coalesce to '<NULL>' before hashing); the
    eqNullSafe rewrite must preserve exactly that. A composite key with a
    NULL component present on BOTH sides is one key (N/U, never I+D),
    and delete detection must see a NULL-keyed prev row as matched."""
    schema = T.StructType(
        [
            T.StructField("k1", T.IntegerType(), True),
            T.StructField("k2", T.StringType(), True),
            T.StructField("v", T.StringType(), True),
        ]
    )
    spec = SourceSpec(name="t", key_cols=("k1", "k2"), tracked_cols=("v",))
    prev = spark.createDataFrame(
        [(None, "a", "x"), (1, None, "y"), (None, None, "z"), (2, "b", "w")],
        schema,
    )
    curr = spark.createDataFrame(
        [(None, "a", "x"), (1, None, "CHANGED"), (None, None, None), (3, "c", "new")],
        schema,
    )
    ops = {
        (r.k1, r.k2): r.op for r in snapshot_diff(prev, curr, spec).collect()
    }
    assert ops == {
        (None, "a"): "N",     # NULL component, both sides, same value
        (1, None): "U",       # NULL component, value changed
        (None, None): "U",    # all-NULL key, value z -> NULL counts as change
        (2, "b"): "D",
        (3, "c"): "I",
    }
    # delete-detect: only (2,'b') is absent from curr — NULL-keyed prev
    # rows matched their curr twins and must NOT be reported deleted
    from engine.cdc import _anti_on_keys

    gone = [(r.k1, r.k2) for r in _anti_on_keys(prev, curr, spec).collect()]
    assert gone == [(2, "b")]


def test_scd2_intervals_partition_time(spark, sf_dir):
    """SCD2: per key, intervals are ordered, non-overlapping, gapless, and
    exactly one open (is_current) interval exists."""
    from engine import registry

    registry.load_all()
    df = registry.QUERIES["cdc_scd2_history"](spark, sf_dir)
    bad_order = df.where(
        F.col("effective_to").isNotNull() & (F.col("effective_to") < F.col("effective_from"))
    ).count()
    assert bad_order == 0
    per_key = df.groupBy("entity_key").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_open"),
        F.count("*").alias("n"),
    )
    assert per_key.where(F.col("n_open") != 1).count() == 0


@given(data=rows)
@common
def test_dedup_extract_latest_wins(spark, data):
    """dedup_extract keeps exactly the highest (order, tiebreak) row/key."""
    if not data:
        pytest.skip("empty")
    df = spark.createDataFrame(data, SCHEMA).withColumn(
        "seq", F.monotonically_increasing_id()
    )
    out = dedup_extract(df, ["k"], "seq", "seq")
    per_key = out.groupBy("k").count().where(F.col("count") > 1).count()
    assert per_key == 0
    assert out.count() == df.select("k").distinct().count()


def test_snapshot_diff_build_py4j_round_trips(spark, sf_dir, monkeypatch):
    """Building the diff's plan is SQL-expression strings, not one py4j
    call per Column operator: one build for the orders spec stays within
    100 round trips on the building thread (1,091 when built from Column
    calls). py4j's own thread releasing Java objects of earlier tests is
    not the build's."""
    import threading

    from py4j.clientserver import ClientServerConnection

    prev, curr = _prev_curr(spark, sf_dir)
    calls = []
    me = threading.get_ident()
    real = ClientServerConnection.send_command

    def counting(self, command, *args, **kw):
        if threading.get_ident() == me:
            calls.append(command[:1])
        return real(self, command, *args, **kw)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    snapshot_diff(prev, curr, ORDERS_SPEC)
    monkeypatch.undo()
    assert 0 < len(calls) <= 100, len(calls)


def test_snapshot_diff_quotes_config_names(spark):
    """Config-driven names that SQL would split or misparse — a space, a
    dot, a backtick — each still name one column: every op, merged value
    and key_hash matches the hand-built expectation."""
    import hashlib

    schema = T.StructType(
        [
            T.StructField("a b", T.IntegerType(), True),
            T.StructField("x.y", T.StringType(), True),
            T.StructField("we`ird", T.StringType(), True),
        ]
    )
    spec = SourceSpec(name="t", key_cols=("a b", "x.y"), tracked_cols=("we`ird",))
    prev = spark.createDataFrame(
        [(1, "p", "old"), (2, "q", "same"), (3, "r", "gone"), (None, "n", None)], schema
    )
    curr = spark.createDataFrame(
        [(1, "p", "new"), (2, "q", "same"), (4, "s", "ins"), (None, "n", None)], schema
    )
    got = {
        (r["a b"], r["x.y"]): (r["op"], r["we`ird"], r["key_hash"])
        for r in snapshot_diff(prev, curr, spec).collect()
    }

    def kh(a, x):
        s = "||".join("<NULL>" if v is None else str(v) for v in (a, x))
        return hashlib.md5(s.encode()).hexdigest()

    want = {
        (1, "p"): "U", (2, "q"): "N", (3, "r"): "D", (4, "s"): "I", (None, "n"): "N"
    }
    value = {(1, "p"): "new", (2, "q"): "same", (3, "r"): "gone", (4, "s"): "ins"}
    assert got == {k: (op, value.get(k), kh(*k)) for k, op in want.items()}
