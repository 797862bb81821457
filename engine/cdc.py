"""CDC core (SURVEY.md §2.1) — the reference's soul, Spark-first.

Semantics re-expressed from the public `avensolutions/cdc-at-scale-using-spark`
design (hash-fingerprint snapshot diffing; the local reference checkout is
empty — see SURVEY §0 — so semantics are cited at the design level, not
file:line): each source extract gets two derived fingerprint columns —
``key_hash`` over the business-key columns and ``nonkey_hash`` over the
tracked non-key columns — and the entire change-detection problem reduces
to a full outer join of previous snapshot vs new extract **on the key hash
alone**, comparing one hash per side for update detection.

Why this scales to 100 TB: the diff is a single pure equi full-outer join
between the two snapshots, update comparison is column-local inside the
join stage, and business keys are unique so the join cannot skew; AQE
handles residual partition imbalance. One deliberate departure from the
reference design (r06, measured): the JOIN runs on the RAW key columns,
not md5(key) — Spark hash-partitions the raw key exactly as uniformly as
it would the hash string, so pre-hashing both sides paid 2×(stringify +
concat + md5) per row and +64 shuffle bytes/row for nothing (the value
columns must cross the shuffle anyway for changelog emission), and added
a collision failure mode. The fingerprint columns remain first-class
(``with_fingerprints``, ``cdc_hash_fingerprint``) for stored-snapshot
pipelines that persist hashes to avoid re-reading values.

Library API: ``SourceSpec`` + pure DataFrame→DataFrame functions, reused by
the streaming CDC pipeline (engine/streaming.py) under ``foreachBatch``.

Fixture derivation (FIXTURES.md): prev = orders with ``o_orderkey % 10 <>
0``; curr = orders with ``o_orderkey % 11 <> 0``, with ``o_totalprice + 1``
where ``o_orderkey % 7 = 0``. Both engines use exactly this derivation.
"""

from __future__ import annotations

import os

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.io import load_tables
from engine.registry import query

NULL_SENTINEL = "<NULL>"
SEP = "||"

#: Fixed changelog timestamp — run timestamps are parameters, never wall
#: clock (determinism, SURVEY §5.3).
RUN_TS = "2026-01-01 00:00:00"


@dataclass(frozen=True)
class SourceSpec:
    """Config-driven source definition: the reference supplies key columns
    and tracked columns per source by configuration, never by inference."""

    name: str
    key_cols: tuple[str, ...]
    tracked_cols: tuple[str, ...]
    extract_type: str = "full"  # "full" (deletes detectable) | "delta"


ORDERS_SPEC = SourceSpec(
    name="orders",
    key_cols=("o_orderkey",),
    tracked_cols=("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
)


def _stringify(c: str):
    return F.coalesce(F.col(c).cast("string"), F.lit(NULL_SENTINEL))


def with_fingerprints(df: DataFrame, spec: SourceSpec, algo: str = "md5") -> DataFrame:
    """Add ``key_hash`` and ``nonkey_hash``. ``algo``: 'md5' (cross-engine
    verifiable) or 'xxhash64' (faster, JVM-only — use at scale)."""
    def h(cols):
        s = F.concat_ws(SEP, *[_stringify(c) for c in cols])
        if algo == "md5":
            return F.md5(s)
        if algo == "xxhash64":
            return F.xxhash64(s)
        raise ValueError(f"unknown hash algo: {algo}")

    return df.withColumn("key_hash", h(spec.key_cols)).withColumn(
        "nonkey_hash", h(spec.tracked_cols)
    )


def _q(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier. Key and tracked
    column names come from configuration, so a name holding a space, a
    dot or a backtick must still name exactly one column."""
    return "`" + name.replace("`", "``") + "`"


def _fold(op: str, terms: list[str]) -> str:
    """``((a op b) op c) ...``: parenthesized left to right, because the SQL
    parser balances a bare ``a OR b OR c OR d`` chain into a tree whose
    plan differs from the left fold a Column-built condition gives."""
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} {op} {t})"
    return out


def snapshot_diff(prev: DataFrame, curr: DataFrame, spec: SourceSpec) -> DataFrame:
    """Full outer join prev vs curr on the RAW key columns (null-safe);
    classify each key: I (only curr), D (only prev), U (both, any tracked
    column differs), N (same). Returns curr's columns (prev's for D rows)
    + ``op`` + ``key_hash`` (downstream contract).

    r06 rework: the first implementation md5-fingerprinted BOTH sides
    before the shuffle and joined on the 32-char hash — paying
    2×(stringify + concat + md5) per input row and widening every
    shuffled row by ~64 bytes (the values must cross the shuffle anyway,
    so the hashes saved nothing), plus a hash-collision failure mode.
    Joining on the raw key columns with ``<=>`` is what a 100 TB diff
    wants: the shuffle carries only the values, Spark hash-partitions the
    raw key exactly as uniformly as it would the md5 string, and update
    detection is a null-safe column comparison inside the join stage
    (codegen'd, no md5). NULL-key semantics are unchanged: the old
    sentinel made NULL==NULL match, and so does ``<=>``.
    ``key_hash`` is still emitted — computed once, post-join, on the
    merged key (measured same-session sf10 warm min: 6.09 → 2.62 s,
    interleaved ratio vs DuckDB 3.39 → 1.43; same hash at sf0.01/sf0.1
    vs the DuckDB oracle, which keeps the hash-join formulation as an
    independent cross-check).

    Every expression is one SQL string (``selectExpr``/``F.expr``) over
    ``_q``-quoted names: building the plan for the 6-column orders spec
    takes 41 py4j round trips and 13-17 ms of a perfbench CLI day (1,091
    and 37-42 ms when each operator was a py4j Column call). Both folds
    are left folds, so the optimized plan is the Column-built one's.

    prev's columns become ``p_<name>`` beside curr's, and the sides carry
    ``p_present``/``c_present`` flags. A spec column with one of those
    names would be an ambiguous reference at the join, so it raises
    ``ValueError`` naming the column before any Spark call (compared
    case-insensitively, as Spark resolves names by default).
    """
    cols = (*spec.key_cols, *spec.tracked_cols)
    internal = {n.lower() for n in ("p_present", "c_present", *["p_" + c for c in cols])}
    clash = [c for c in cols if c.lower() in internal]
    if clash:
        raise ValueError(
            f"snapshot_diff: spec column {clash[0]!r} collides with a name the diff "
            "uses internally (p_<spec column>, p_present, c_present)"
        )
    p = prev.selectExpr("true AS p_present", *[f"{_q(c)} AS {_q('p_' + c)}" for c in cols])
    c = curr.selectExpr("true AS c_present", *[_q(c) for c in cols])
    j = c.join(p, F.expr(_fold("AND", [f"{_q(k)} <=> {_q('p_' + k)}" for k in spec.key_cols])),
               "full_outer")
    # key-only specs (no tracked cols) can never produce U: the fold
    # starts from a literal false, which the optimizer drops
    changed = _fold(
        "OR", ["false", *[f"NOT ({_q(t)} <=> {_q('p_' + t)})" for t in spec.tracked_cols]]
    )
    op = (
        "CASE WHEN p_present IS NULL THEN 'I' WHEN c_present IS NULL THEN 'D' "
        f"WHEN {changed} THEN 'U' ELSE 'N' END"
    )
    # D rows take prev's values; every other op takes curr's — NEVER
    # coalesce(curr, prev) per column: that would back-fill a legitimate
    # NULL in an updated row with the stale prev value (caught by the
    # hypothesis replay property test).
    merged = {
        col: f"CASE WHEN c_present IS NULL THEN {_q('p_' + col)} ELSE {_q(col)} END"
        for col in cols
    }
    key_hash = "md5(concat_ws('{}', {}))".format(
        SEP,
        ", ".join(
            f"coalesce(CAST({merged[k]} AS STRING), '{NULL_SENTINEL}')" for k in spec.key_cols
        ),
    )
    return j.selectExpr(
        f"{op} AS op",
        f"{key_hash} AS key_hash",
        *[f"{expr} AS {_q(col)}" for col, expr in merged.items()],
    )


def _anti_on_keys(left: DataFrame, right: DataFrame, spec: SourceSpec) -> DataFrame:
    """left rows whose key (null-safe) does NOT appear in right.

    r06: joins on the raw key columns instead of md5(key) — same
    partitioning uniformity (Spark hashes the join key either way),
    narrower shuffle, no per-row stringify+md5, no collision mode. The
    probe side is renamed to avoid self-join lineage ambiguity (the
    changelog is usually derived from ``left``)."""
    probe = right.select(
        *[F.col(k).alias(f"_probe_{k}") for k in spec.key_cols]
    ).distinct()
    cond = None
    for k in spec.key_cols:
        e = left[k].eqNullSafe(F.col(f"_probe_{k}"))
        cond = e if cond is None else (cond & e)
    return left.join(probe, cond, "left_anti")


def apply_changes(prev: DataFrame, changelog: DataFrame, spec: SourceSpec) -> DataFrame:
    """Replay a changelog (op ∈ {I,U,D} rows) onto a snapshot:
    delete D keys, upsert I/U rows. MERGE semantics without Delta Lake."""
    cols = [*spec.key_cols, *spec.tracked_cols]
    untouched = _anti_on_keys(prev, changelog, spec).select(*cols)
    upserts = changelog.where(F.col("op").isin("I", "U")).select(*cols)
    return untouched.unionByName(upserts)


def incremental_upsert(prev: DataFrame, delta: DataFrame, spec: SourceSpec) -> DataFrame:
    """Delta-extract path: upsert incoming keys, keep the rest, no deletes."""
    cols = [*spec.key_cols, *spec.tracked_cols]
    kept = _anti_on_keys(prev, delta, spec).select(*cols)
    return kept.unionByName(delta.select(*cols))


def dedup_extract(df: DataFrame, key_cols: list[str], order_col: str, tiebreak: str) -> DataFrame:
    """Collapse multi-change-per-key extracts to the latest row per key."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc(), F.col(tiebreak).desc())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# fixture derivation shared by queries and oracles
# ---------------------------------------------------------------------------


def _prev_curr(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = load_tables(spark, sf_dir)["orders"]
    prev = o.where(F.col("o_orderkey") % 10 != 0)
    curr = o.where(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    return prev, curr


_SQL_PREV = "SELECT * FROM orders WHERE o_orderkey % 10 <> 0"
_SQL_CURR = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 11 <> 0
"""

#: DuckDB mirror of with_fingerprints for the orders spec. Doubles/timestamps
#: stringify identically in Spark and DuckDB for this fixture's value ranges
#: (verified by the hash-match itself).
_SQL_FP = """
    md5(concat_ws('||', coalesce(CAST(o_orderkey AS VARCHAR), '<NULL>'))) AS key_hash,
    md5(concat_ws('||',
        coalesce(CAST(o_custkey AS VARCHAR), '<NULL>'),
        coalesce(CAST(o_orderstatus AS VARCHAR), '<NULL>'),
        coalesce(CAST(o_totalprice AS VARCHAR), '<NULL>'),
        coalesce(CAST(o_orderdate AS VARCHAR), '<NULL>'),
        coalesce(CAST(o_orderpriority AS VARCHAR), '<NULL>'))) AS nonkey_hash
"""

_SQL_DIFF = f"""
    WITH prev AS ({_SQL_PREV}), curr AS ({_SQL_CURR}),
    p AS (SELECT *, {_SQL_FP} FROM prev),
    c AS (SELECT *, {_SQL_FP} FROM curr),
    j AS (
      SELECT c.key_hash AS c_kh, p.key_hash AS p_kh,
             c.nonkey_hash AS c_nh, p.nonkey_hash AS p_nh,
             CASE WHEN c.key_hash IS NULL THEN p.o_orderkey ELSE c.o_orderkey END AS o_orderkey,
             CASE WHEN c.key_hash IS NULL THEN p.o_totalprice ELSE c.o_totalprice END AS o_totalprice
      FROM c FULL OUTER JOIN p ON c.key_hash = p.key_hash
    )
    SELECT CASE WHEN p_kh IS NULL THEN 'I'
                WHEN c_kh IS NULL THEN 'D'
                WHEN c_nh <> p_nh THEN 'U'
                ELSE 'N' END AS op,
           o_orderkey, o_totalprice
    FROM j
"""


# ---------------------------------------------------------------------------
# §2.1 registered keys
# ---------------------------------------------------------------------------


@query(
    "cdc_hash_fingerprint",
    oracle=f"SELECT o_orderkey, {_SQL_FP} FROM orders",
)
def cdc_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key/non-key MD5 fingerprints on orders — null-safe stringification
    with an explicit sentinel so column-boundary ambiguity can't collide."""
    o = load_tables(spark, sf_dir)["orders"]
    return with_fingerprints(o, ORDERS_SPEC).select("o_orderkey", "key_hash", "nonkey_hash")


@query(
    "cdc_snapshot_diff",
    plan_cache=True,
    oracle=f"SELECT op, count(*) AS n, round(sum(o_totalprice), 2) AS total FROM ({_SQL_DIFF}) GROUP BY op",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full diff classification, summarized per op (I/U/D/N counts +
    checksum) — the row-level diff feeds the other cdc_* keys."""
    prev, curr = _prev_curr(spark, sf_dir)
    d = snapshot_diff(prev, curr, ORDERS_SPEC)
    return d.groupBy("op").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@query(
    "cdc_apply_changes",
    oracle=f"SELECT o_orderkey, o_totalprice FROM ({_SQL_CURR})",
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay property in query form: diff(prev, curr) applied to prev must
    reproduce curr exactly (full-extract semantics). The oracle is simply
    curr — if the replay has any bug, the hash mismatches."""
    prev, curr = _prev_curr(spark, sf_dir)
    changelog = snapshot_diff(prev, curr, ORDERS_SPEC).where(F.col("op") != "N")
    snap = apply_changes(prev, changelog, ORDERS_SPEC)
    return snap.select("o_orderkey", "o_totalprice")


@query(
    "cdc_delete_detect_full",
    oracle=f"""
    WITH prev AS ({_SQL_PREV}), curr AS ({_SQL_CURR})
    SELECT p.o_orderkey FROM prev p
    WHERE NOT EXISTS (SELECT 1 FROM curr c WHERE c.o_orderkey = p.o_orderkey)
    """,
)
def cdc_delete_detect_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletes are detectable only on full extracts: prev keys absent from
    curr, via null-safe left-anti join on the raw key (r06 — was md5)."""
    prev, curr = _prev_curr(spark, sf_dir)
    return _anti_on_keys(prev, curr, ORDERS_SPEC).select("o_orderkey")


@query(
    "cdc_incremental_upsert",
    oracle=f"""
    WITH prev AS ({_SQL_PREV}), curr AS ({_SQL_CURR}),
         delta AS (SELECT * FROM curr WHERE o_orderkey % 3 = 0)
    SELECT o_orderkey, o_totalprice FROM delta
    UNION ALL
    SELECT o_orderkey, o_totalprice FROM prev p
    WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = p.o_orderkey)
    """,
)
def cdc_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-extract path: a partial extract (every 3rd key of curr)
    upserted into prev; untouched prev rows survive; no deletes."""
    prev, curr = _prev_curr(spark, sf_dir)
    delta = curr.where(F.col("o_orderkey") % 3 == 0)
    snap = incremental_upsert(prev, delta, ORDERS_SPEC)
    return snap.select("o_orderkey", "o_totalprice")


@query(
    "cdc_changelog",
    oracle=f"""
    SELECT op, o_orderkey, o_totalprice, TIMESTAMP '{RUN_TS}' AS load_ts
    FROM ({_SQL_DIFF}) WHERE op <> 'N'
    """,
)
def cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only change records (op ≠ N) stamped with the run's load_ts —
    passed as a parameter, never current_timestamp() (determinism)."""
    prev, curr = _prev_curr(spark, sf_dir)
    d = snapshot_diff(prev, curr, ORDERS_SPEC).where(F.col("op") != "N")
    return d.select(
        "op",
        "o_orderkey",
        "o_totalprice",
        F.lit(RUN_TS).cast("timestamp_ntz").alias("load_ts"),
    )


@query(
    "cdc_scd2_history",
    oracle="""
    SELECT o_custkey AS entity_key, o_orderkey AS change_id,
           o_totalprice AS attr_value,
           o_orderdate AS effective_from,
           lead(o_orderdate) OVER w AS effective_to,
           (lead(o_orderdate) OVER w IS NULL) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history from a changelog (orders as per-customer change
    events): effective_from/effective_to intervals that partition time per
    key — `effective_to` = next change's timestamp, open-ended for the
    current row."""
    o = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_custkey").alias("entity_key"),
        F.col("o_orderkey").alias("change_id"),
        F.col("o_totalprice").alias("attr_value"),
        F.col("o_orderdate").alias("effective_from"),
        F.lead("o_orderdate").over(w).alias("effective_to"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    )


@query(
    "cdc_dedup_extract",
    plan_cache=True,
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def cdc_dedup_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest change per key (events as a multi-change-per-key extract) —
    collapse before diffing. row_number, not max+join: one shuffle."""
    ev = load_tables(spark, sf_dir)["events"]
    d = dedup_extract(ev, ["user_id"], "ts", "event_id")
    return d.select("user_id", "event_id", "ts", "value")


@query(
    "cdc_changelog_compact",
    oracle="""
    WITH ch AS (
      SELECT user_id,
             CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END AS op,
             ts, value
      FROM events
    ), agg AS (
      SELECT user_id,
             arg_min(op, ts) AS first_op,
             arg_max(op, ts) AS last_op,
             arg_max(value, ts) AS last_value
      FROM ch GROUP BY user_id
    )
    SELECT user_id,
           CASE WHEN first_op = 'I' AND last_op = 'D' THEN 'X'
                WHEN first_op = 'I' THEN 'I'
                WHEN last_op = 'D' THEN 'D'
                ELSE 'U' END AS net_op,
           CASE WHEN last_op = 'D' THEN NULL ELSE last_value END AS net_value
    FROM agg
    WHERE NOT (first_op = 'I' AND last_op = 'D')
    """,
)
def cdc_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net-effect compaction of a changelog: I…D per key cancels out ('X',
    dropped), I…U collapses to I with last values, …D collapses to D,
    everything else nets to U. One aggregation, no per-key iteration —
    min_by/max_by give the first/last ops without a window sort."""
    ev = load_tables(spark, sf_dir)["events"]
    ch = ev.select(
        "user_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        "ts",
        "value",
    )
    agg = ch.groupBy("user_id").agg(
        F.min_by("op", "ts").alias("first_op"),
        F.max_by("op", "ts").alias("last_op"),
        F.max_by("value", "ts").alias("last_value"),
    )
    net = (
        F.when((F.col("first_op") == "I") & (F.col("last_op") == "D"), "X")
        .when(F.col("first_op") == "I", "I")
        .when(F.col("last_op") == "D", "D")
        .otherwise("U")
    )
    return (
        agg.withColumn("net_op", net)
        .where(F.col("net_op") != "X")
        .select(
            "user_id",
            "net_op",
            F.when(F.col("last_op") == "D", F.lit(None).cast("double"))
            .otherwise(F.col("last_value"))
            .alias("net_value"),
        )
    )


def incremental_upsert_evolved(prev: DataFrame, delta: DataFrame, spec: SourceSpec) -> DataFrame:
    """Schema-evolution-tolerant delta upsert: ``delta`` may carry tracked
    columns that ``prev`` predates (``spec.tracked_cols`` is the NEW
    schema). Untouched prev rows are carried with NULL for the added
    columns via ``unionByName(allowMissingColumns=True)``; upserted keys
    take the delta row wholesale, added columns populated. The reference's
    config-driven fixed schema has no evolution path (SURVEY §1.1) — this
    is the engine's extension for sources that widen over time. Only the
    key columns are compared across schemas (present on both sides);
    tracked columns from different schema versions are never compared
    against each other."""
    cols = [*spec.key_cols, *spec.tracked_cols]
    kept = _anti_on_keys(prev, delta, spec)
    return kept.unionByName(delta.select(*cols), allowMissingColumns=True).select(*cols)


@query(
    "cdc_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority, CAST(NULL AS VARCHAR) AS o_priority_code
    FROM orders WHERE o_orderkey % 5 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1, o_orderdate,
           o_orderpriority, substring(o_orderpriority, 1, 1)
    FROM orders WHERE o_orderkey % 5 = 0
    """,
)
def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta extract arrives with a column the snapshot predates
    (``o_priority_code``): the merge must upsert the delta rows with the
    new column populated and carry every untouched row with NULL there —
    no rewrite of historical data, no spurious U storm from comparing
    hashes across schema versions. Fixture derivation: prev = full orders
    (old schema); delta = keys divisible by 5 with o_totalprice+1 and the
    added column."""
    o = load_tables(spark, sf_dir)["orders"]
    prev = o.select(*ORDERS_SPEC.key_cols, *ORDERS_SPEC.tracked_cols)
    delta = (
        o.where(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        .withColumn("o_priority_code", F.substring("o_orderpriority", 1, 1))
    )
    spec_new = SourceSpec(
        "orders_v2",
        ORDERS_SPEC.key_cols,
        (*ORDERS_SPEC.tracked_cols, "o_priority_code"),
        extract_type="delta",
    )
    return incremental_upsert_evolved(prev, delta, spec_new)


CUSTOMER_SPEC = SourceSpec(
    name="customer",
    key_cols=("c_custkey",),
    tracked_cols=("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
)

_SQL_CUST_FP = """
    md5(concat_ws('||', coalesce(CAST(c_custkey AS VARCHAR), '<NULL>'))) AS key_hash,
    md5(concat_ws('||',
        coalesce(CAST(c_name AS VARCHAR), '<NULL>'),
        coalesce(CAST(c_nationkey AS VARCHAR), '<NULL>'),
        coalesce(CAST(c_acctbal AS VARCHAR), '<NULL>'),
        coalesce(CAST(c_mktsegment AS VARCHAR), '<NULL>'))) AS nonkey_hash
"""

_SQL_CUST_DIFF = f"""
    WITH prev AS (SELECT * FROM customer WHERE c_custkey % 9 <> 0),
    curr AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 1 ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 8 <> 0
    ),
    p AS (SELECT *, {_SQL_CUST_FP} FROM prev),
    c AS (SELECT *, {_SQL_CUST_FP} FROM curr),
    j AS (
      SELECT c.key_hash AS c_kh, p.key_hash AS p_kh,
             c.nonkey_hash AS c_nh, p.nonkey_hash AS p_nh,
             CASE WHEN c.key_hash IS NULL THEN p.c_acctbal ELSE c.c_acctbal END AS c_acctbal
      FROM c FULL OUTER JOIN p ON c.key_hash = p.key_hash
    )
    SELECT CASE WHEN p_kh IS NULL THEN 'I'
                WHEN c_kh IS NULL THEN 'D'
                WHEN c_nh <> p_nh THEN 'U'
                ELSE 'N' END AS op,
           c_acctbal
    FROM j
"""


@query(
    "cdc_multi_source",
    plan_cache=True,
    oracle=f"""
    SELECT 'orders' AS source, op, count(*) AS n,
           round(sum(o_totalprice), 2) AS checksum
    FROM ({_SQL_DIFF}) GROUP BY op
    UNION ALL
    SELECT 'customer' AS source, op, count(*) AS n,
           round(sum(c_acctbal), 2) AS checksum
    FROM ({_SQL_CUST_DIFF}) GROUP BY op
    """,
)
def cdc_multi_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-driven multi-source run — the reference's operational shape:
    one invocation processes a LIST of configured sources, each with its
    own key/tracked columns, through the same diff machinery. Here two
    differently-shaped sources (orders, customer) run through one generic
    loop over SourceSpecs; per-source I/U/D/N counts + checksum come back
    as one result. Each source's diff is an independent lazy plan — on a
    cluster they execute as parallel job groups sharing the session;
    adding a source is adding a SourceSpec, not code. Customer fixture
    derivation: prev = c_custkey % 9 <> 0; curr = c_custkey % 8 <> 0 with
    c_acctbal+1 where c_custkey % 5 = 0."""
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    runs = [
        (
            ORDERS_SPEC,
            o.where(F.col("o_orderkey") % 10 != 0),
            o.where(F.col("o_orderkey") % 11 != 0).withColumn(
                "o_totalprice",
                F.when(
                    F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
                ).otherwise(F.col("o_totalprice")),
            ),
            "o_totalprice",
        ),
        (
            CUSTOMER_SPEC,
            t["customer"].where(F.col("c_custkey") % 9 != 0),
            t["customer"]
            .where(F.col("c_custkey") % 8 != 0)
            .withColumn(
                "c_acctbal",
                F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 1).otherwise(
                    F.col("c_acctbal")
                ),
            ),
            "c_acctbal",
        ),
    ]
    outs = []
    for spec, prev, curr, amount_col in runs:
        d = snapshot_diff(prev, curr, spec)
        outs.append(
            d.groupBy("op").agg(
                F.count("*").alias("n"),
                F.round(F.sum(amount_col), 2).alias("checksum"),
            ).select(F.lit(spec.name).alias("source"), "op", "n", "checksum")
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


@query(
    "cdc_partition_pruned_merge",
    oracle="""
    WITH prev AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0
    ), delta AS (
      SELECT o_orderkey, o_totalprice + 1 AS o_totalprice FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 2000
    ), merged AS (
      SELECT * FROM delta
      UNION ALL
      SELECT p.* FROM prev p
      WHERE p.o_orderkey NOT IN (SELECT o_orderkey FROM delta)
    )
    SELECT o_orderkey, o_totalprice,
           CAST(floor(o_orderkey / 500) AS BIGINT) AS bucket
    FROM merged
    """,
)
def cdc_partition_pruned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned CDC merge — the 100 TB upsert shape: the snapshot
    is laid out partitioned on a key range (bucket = key div 500); an
    incoming delta touches few partitions, so the merge (anti-join +
    union) reads and REWRITES only those partitions, while untouched
    partitions are carried over untouched — never joined, never
    rewritten. Touched buckets are derived from the delta (tiny distinct
    collect = partition metadata, not data) and pushed as a static
    PartitionFilter into the snapshot scan (plan-asserted in
    tests/test_plans.py). Rewrite cost ∝ touched partitions, not table
    size — without this, every CDC batch rewrites 100 TB."""
    o = load_tables(spark, sf_dir)["orders"]
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    snap_path = f"/tmp/engine_cdcpart/snap_{sf_tag}"
    # _SUCCESS (not bare dir): don't reuse a partially-written stale dir
    if not os.path.exists(os.path.join(snap_path, "_SUCCESS")):
        (
            o.where(F.col("o_orderkey") % 10 != 0)
            .select("o_orderkey", "o_totalprice")
            .withColumn("bucket", F.floor(F.col("o_orderkey") / 500))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(snap_path)
        )
    delta = (
        o.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000))
        .select("o_orderkey", (F.col("o_totalprice") + 1).alias("o_totalprice"))
        .withColumn("bucket", F.floor(F.col("o_orderkey") / 500))
    )
    snap = spark.read.parquet(snap_path)
    touched = [r[0] for r in delta.select("bucket").distinct().collect()]
    touched_snap = snap.where(F.col("bucket").isin(touched))
    untouched_snap = snap.where(~F.col("bucket").isin(touched))
    rewritten = delta.unionByName(
        touched_snap.join(delta.select("o_orderkey"), "o_orderkey", "left_anti")
    )
    return untouched_snap.unionByName(rewritten).select(
        "o_orderkey", "o_totalprice", F.col("bucket").cast("long").alias("bucket")
    )


_SQL_CURR_MULTI = """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
           o_orderdate,
           CASE WHEN o_orderkey % 17 = 0 THEN o_orderpriority || '*' ELSE o_orderpriority END AS o_orderpriority
    FROM orders WHERE o_orderkey % 11 <> 0
"""


@query(
    "cdc_column_diff_audit",
    oracle=f"""
    WITH prev AS ({_SQL_PREV}), curr AS ({_SQL_CURR_MULTI}),
    j AS (
      SELECT p.o_custkey AS p1, c.o_custkey AS c1,
             p.o_orderstatus AS p2, c.o_orderstatus AS c2,
             p.o_totalprice AS p3, c.o_totalprice AS c3,
             p.o_orderdate AS p4, c.o_orderdate AS c4,
             p.o_orderpriority AS p5, c.o_orderpriority AS c5
      FROM prev p JOIN curr c USING (o_orderkey)
    ),
    agg AS (
      SELECT count(*) AS n_common,
             CAST(sum(CASE WHEN p1 IS DISTINCT FROM c1 THEN 1 ELSE 0 END) AS BIGINT) AS ch1,
             CAST(sum(CASE WHEN p2 IS DISTINCT FROM c2 THEN 1 ELSE 0 END) AS BIGINT) AS ch2,
             CAST(sum(CASE WHEN p3 IS DISTINCT FROM c3 THEN 1 ELSE 0 END) AS BIGINT) AS ch3,
             CAST(sum(CASE WHEN p4 IS DISTINCT FROM c4 THEN 1 ELSE 0 END) AS BIGINT) AS ch4,
             CAST(sum(CASE WHEN p5 IS DISTINCT FROM c5 THEN 1 ELSE 0 END) AS BIGINT) AS ch5
      FROM j
    )
    SELECT col AS column_name, n_changed, n_common FROM agg
    UNPIVOT (n_changed FOR col IN (ch1 AS 'o_custkey', ch2 AS 'o_orderstatus',
                                   ch3 AS 'o_totalprice', ch4 AS 'o_orderdate',
                                   ch5 AS 'o_orderpriority'))
    """,
)
def cdc_column_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-level change audit between snapshots: for rows present in
    both, how many changed in EACH column — the churn report that drives
    SCD column policies (type-1 vs type-2 per column), change-feed
    pruning (ship only hot columns), and fingerprint design (exclude
    volatile columns from the nonkey hash). This key's curr mutates
    THREE columns at different rates (totalprice %7, status %13,
    priority %17) so the audit provably separates per-column rates.
    Shape: ONE key-equi join, all comparisons counted inside conditional
    aggregates (null-safe IS DISTINCT FROM — the dq_* doctrine: the
    audit never materializes changed rows), then a constant-width
    unpivot of the single partial-aggregated row. At 100 TB: one
    fact-fact SMJ shuffle, 5 int64 counters per task, a 5-row result."""
    o = load_tables(spark, sf_dir)["orders"]
    prev = o.where(F.col("o_orderkey") % 10 != 0)
    curr = (
        o.where(F.col("o_orderkey") % 11 != 0)
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        )
        .withColumn(
            "o_orderpriority",
            F.when(
                F.col("o_orderkey") % 17 == 0, F.concat(F.col("o_orderpriority"), F.lit("*"))
            ).otherwise(F.col("o_orderpriority")),
        )
    )
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
    p = prev.select("o_orderkey", *[F.col(c).alias(f"p_{c}") for c in cols])
    c = curr.select("o_orderkey", *[F.col(c).alias(f"c_{c}") for c in cols])
    j = p.join(c, "o_orderkey")
    agg = j.agg(
        F.count("*").alias("n_common"),
        *[
            F.sum(
                F.when(~F.col(f"p_{col}").eqNullSafe(F.col(f"c_{col}")), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"ch_{col}")
            for col in cols
        ],
    )
    stack = ", ".join(f"'{col}', ch_{col}" for col in cols)
    return agg.select(
        F.expr(f"stack({len(cols)}, {stack}) AS (column_name, n_changed)"), "n_common"
    )
