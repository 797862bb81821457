"""Relational operators: projection/filter, joins, aggregation, windows,
sort/limit/set ops (SURVEY.md §2.3–§2.7).

Everything here is declarative DataFrame API — Catalyst supplies predicate
pushdown, column pruning, join selection (broadcast vs shuffle), two-phase
partial/final aggregation, TakeOrderedAndProject for top-k, and AQE runtime
re-planning. Scale posture per operator is noted in its docstring.

Determinism (SURVEY §5.3): every float terminal is rounded in-query on BOTH
engines; every window/rank order carries a unique tie-breaker; no wall
clock; timestamps are µs-truncated UTC (engine.io normalization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.io import load_tables, session_confs
from engine.registry import query

# ---------------------------------------------------------------------------
# §2.3 projection / filter / predicates
# ---------------------------------------------------------------------------


@query(
    "proj_select_alias",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_u,
           c_mktsegment AS segment,
           round(c_acctbal * 1.1, 4) AS bal_up
    FROM customer
    """,
)
def proj_select_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning + rename + computed columns. The scan reads only the
    four referenced columns (check ReadSchema in explain)."""
    c = load_tables(spark, sf_dir)["customer"]
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_u"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 1.1, 4).alias("bal_up"),
    )


@query(
    "filter_compound",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE (o_totalprice > 100000 AND o_orderstatus = 'O')
       OR (NOT o_orderstatus = 'O' AND o_totalprice < 2000)
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND/OR/NOT + comparisons, pushed to the parquet scan."""
    o = load_tables(spark, sf_dir)["orders"]
    return o.where(
        ((F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") == "O"))
        | (~(F.col("o_orderstatus") == "O") & (F.col("o_totalprice") < 2000))
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "filter_in_between_like",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
      AND p_size BETWEEN 10 AND 40
      AND p_name LIKE '%widget%'
      AND regexp_matches(p_type, '^(PROMO|ECONOMY)')
    """,
)
def filter_in_between_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isin / between / like / rlike."""
    p = load_tables(spark, sf_dir)["part"]
    return p.where(
        F.col("p_brand").isin("Brand#11", "Brand#22", "Brand#33")
        & F.col("p_size").between(10, 40)
        & F.col("p_name").like("%widget%")
        & F.col("p_type").rlike("^(PROMO|ECONOMY)")
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


@query(
    "filter_null_semantics",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             nullif(o_orderstatus, 'P') AS status_np,
             nullif(o_orderpriority, '5-LOW') AS pri_nl
      FROM orders
    )
    SELECT o_orderkey, status_np, pri_nl,
           (status_np IS NULL) AS status_is_null,
           (status_np IS NOT DISTINCT FROM pri_nl) AS null_safe_eq
    FROM t
    WHERE status_np IS NULL OR pri_nl IS NOT NULL
    """,
)
def filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS [NOT] NULL and null-safe equality (<=> / IS NOT DISTINCT FROM).
    Fixtures have no natural nulls, so nullable columns are derived."""
    o = load_tables(spark, sf_dir)["orders"]
    t = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_np"),
        F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")).alias("pri_nl"),
    )
    return t.select(
        "o_orderkey",
        "status_np",
        "pri_nl",
        F.col("status_np").isNull().alias("status_is_null"),
        F.col("status_np").eqNullSafe(F.col("pri_nl")).alias("null_safe_eq"),
    ).where(F.col("status_np").isNull() | F.col("pri_nl").isNotNull())


# ---------------------------------------------------------------------------
# §2.4 joins
# ---------------------------------------------------------------------------


@query(
    "join_inner_equi",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 400000
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join; AQE picks broadcast vs sort-merge by actual size.
    At 100 TB orders⋈customer shuffles on the key — customer is the small
    side and AQE converts to broadcast when it fits the threshold."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .where(F.col("o_totalprice") > 400000)
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"), "inner")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation, count(*) AS n_customers,
           round(sum(c.c_acctbal), 4) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the small dims: nation (25 rows) and region
    (5 rows) replicate to every executor — zero shuffle of the fact side
    regardless of its size. This is THE pattern for dim joins at 100 TB."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
        )
    )


@query(
    "join_sortmerge",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_orderdate
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F' AND l.l_quantity >= 49
    """,
)
def join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle sort-merge join forced via hint — the right strategy when
    BOTH sides are large (lineitem⋈orders at 100 TB): each side shuffles
    once on the key, merges sorted runs, never materializes a hash table."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .where(F.col("l_quantity") >= 49)
        .hint("merge")
        .join(
            t["orders"].where(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "o_orderdate")
    )


def _cust_order_totals(t):
    """customer LEFT-side fixture: per-customer order revenue (some
    customers have no orders → natural nulls for outer-join tests)."""
    per_cust = t["orders"].groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
    )
    return per_cust


_OUTER_ORACLE = """
    WITH per_cust AS (
      SELECT o_custkey, count(*) AS n_orders,
             round(sum(o_totalprice), 4) AS revenue
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey, c.c_mktsegment, p.n_orders, p.revenue
    FROM customer c {jt} JOIN per_cust p ON c.c_custkey = p.o_custkey
"""


@query("join_left", oracle=_OUTER_ORACLE.format(jt="LEFT"))
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with unmatched-null semantics."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(_cust_order_totals(t), F.col("c_custkey") == F.col("o_custkey"), "left")
        .select("c_custkey", "c_mktsegment", "n_orders", "revenue")
    )


@query(
    "join_right",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, count(*) AS n_orders,
             round(sum(o_totalprice), 4) AS revenue
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey, c.c_mktsegment, p.n_orders, p.revenue
    FROM per_cust p RIGHT JOIN customer c ON c.c_custkey = p.o_custkey
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (mirror of join_left through the other side)."""
    t = load_tables(spark, sf_dir)
    return (
        _cust_order_totals(t)
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"), "right")
        .select("c_custkey", "c_mktsegment", "n_orders", "revenue")
    )


@query(
    "join_full",
    oracle="""
    WITH prev AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0),
         curr AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 11 <> 0)
    SELECT coalesce(p.o_orderkey, c.o_orderkey) AS okey,
           p.o_totalprice AS prev_price, c.o_totalprice AS curr_price
    FROM prev p FULL OUTER JOIN curr c ON p.o_orderkey = c.o_orderkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join on overlapping key sets (the CDC diff join shape)."""
    o = load_tables(spark, sf_dir)["orders"]
    prev = o.where(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("pk"), F.col("o_totalprice").alias("prev_price")
    )
    curr = o.where(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("ck"), F.col("o_totalprice").alias("curr_price")
    )
    return prev.join(curr, F.col("pk") == F.col("ck"), "full_outer").select(
        F.coalesce("pk", "ck").alias("okey"), "prev_price", "curr_price"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join — existence filter, emits left columns only and
    short-circuits on first match (no row multiplication)."""
    t = load_tables(spark, sf_dir)
    big = t["orders"].where(F.col("o_totalprice") > 300000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join — absence filter; the CDC delete-detection shape."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product, deliberately small×small (5 × 25)."""
    t = load_tables(spark, sf_dir)
    return t["region"].crossJoin(t["nation"]).select("r_name", "n_name")


@query(
    "join_theta_range",
    oracle="""
    WITH sizes AS (SELECT DISTINCT p_size FROM part)
    SELECT s.p_size, count(*) AS n_items,
           round(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0,
                 4) AS total_price
    FROM sizes s JOIN lineitem l
      ON l.l_quantity >= s.p_size - 2 AND l.l_quantity <= s.p_size + 2
    GROUP BY s.p_size
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi (band) join → BroadcastNestedLoopJoin. The streamed
    side stays partition-parallel; the 50-row band table broadcasts. At
    100 TB you'd bucketize the range into an equi key first — this key
    demonstrates the raw theta path on a deliberately tiny build side."""
    t = load_tables(spark, sf_dir)
    sizes = t["part"].select("p_size").distinct()
    li = t["lineitem"]
    return (
        li.join(
            F.broadcast(sizes),
            (F.col("l_quantity") >= F.col("p_size") - 2)
            & (F.col("l_quantity") <= F.col("p_size") + 2),
        )
        .groupBy("p_size")
        .agg(
            F.count("*").alias("n_items"),
            # exact-cents sum (r07 sf1 parity find): at sf1 the group sums
            # reach ~2e10 where a 4dp grid sits far below double
            # summation-order noise; per-row cents are exact for a 2dp
            # money column, so the sum is an exact integer on both engines
            F.round(
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
                )
                / 100.0,
                4,
            ).alias("total_price"),
        )
    )


@query(
    "join_range_bucketized",
    oracle="""
    WITH sizes AS (SELECT DISTINCT p_size FROM part)
    SELECT s.p_size, count(*) AS n_items,
           round(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0,
                 4) AS total_price
    FROM sizes s JOIN lineitem l
      ON l.l_quantity >= s.p_size - 2 AND l.l_quantity <= s.p_size + 2
    GROUP BY s.p_size
    """,
)
def join_range_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB range-join pattern that join_theta_range's docstring
    promises: quantize the range dimension into width-5 buckets, expand
    each band to the (≤2) buckets it overlaps, EQUI-join on the bucket id,
    then apply the exact range as a residual filter. Identical result to
    the raw theta join (same oracle SQL), but the plan is a
    BroadcastHashJoin on an equi key (plan-asserted) instead of a
    BroadcastNestedLoopJoin — and unlike BNLJ, the equi form still scales
    when BOTH sides are large (shuffle-hash on bucket id), because
    candidate pairs are bounded by bucket co-residency, not |L|×|R|."""
    t = load_tables(spark, sf_dir)
    B = 5
    sizes = t["part"].select("p_size").distinct()
    sb = sizes.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor((F.col("p_size") - 2) / B), F.floor((F.col("p_size") + 2) / B)
            )
        ),
    )
    li = t["lineitem"].withColumn("bucket", F.floor(F.col("l_quantity") / B))
    return (
        li.join(F.broadcast(sb), "bucket")
        .where(
            (F.col("l_quantity") >= F.col("p_size") - 2)
            & (F.col("l_quantity") <= F.col("p_size") + 2)
        )
        .groupBy("p_size")
        .agg(
            F.count("*").alias("n_items"),
            # exact-cents sum (r07 sf1 parity find): at sf1 the group sums
            # reach ~2e10 where a 4dp grid sits far below double
            # summation-order noise; per-row cents are exact for a 2dp
            # money column, so the sum is an exact integer on both engines
            F.round(
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
                )
                / 100.0,
                4,
            ).alias("total_price"),
        )
    )


@query(
    "join_asof",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind,
             CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END AS c_ts
      FROM events WHERE event_type IN ('click', 'purchase')
    ), w AS (
      SELECT event_id, user_id, ts, kind,
             last_value(c_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, kind
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS last_click_ts
      FROM ev
    )
    SELECT event_id, user_id, ts, last_click_ts FROM w WHERE kind = 1
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click of the same user at
    or before the purchase time.

    Spark has no native ASOF, so we use the union+window formulation: tag
    both streams, sort once per user, carry the last non-null click ts
    forward. One shuffle, O(n log n), no row-pair blow-up — this is the
    100 TB-safe shape (the naive inequality join is quadratic in events per
    user). Alternative for pandas users: ``applyInPandas`` per user_id with
    ``pd.merge_asof`` — same partitioning, imperative core.
    """
    ev = load_tables(spark, sf_dir)["events"]
    ev = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("kind"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("c_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("last_click_ts", F.last("c_ts", ignorenulls=True).over(w))
        .where(F.col("kind") == 1)
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS s,
             CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS e
      FROM events WHERE event_type = 'purchase'
    )
    SELECT a.user_id, count(*) AS n_overlaps
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.user_id
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self theta-join: pairs of 1-hour purchase intervals per user that
    overlap. Equi on user_id keeps it a hash join with a residual range
    predicate — the pair blow-up is bounded per user key, and skewed users
    are split by AQE skew-join handling."""
    ev = load_tables(spark, sf_dir)["events"]
    iv = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("s"), (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("e")
    )
    a = iv.alias("a")
    b = iv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count("*").alias("n_overlaps"))
    )


# ---------------------------------------------------------------------------
# §2.5 aggregations
# ---------------------------------------------------------------------------


@query(
    "agg_pricing_summary",
    plan_cache=True,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(qty_c)    AS DOUBLE) / 100.0     AS sum_qty,
           CAST(sum(price_c)  AS DOUBLE) / 100.0     AS sum_base_price,
           CAST(sum(dp4)      AS DOUBLE) / 10000.0   AS sum_disc_price,
           CAST(sum(ch6 // 1000000) AS DOUBLE)
             + CAST(sum(ch6 % 1000000) AS DOUBLE) / 1000000.0
                                                     AS sum_charge,
           (CAST(sum(qty_c)   AS DOUBLE) / 100.0) / CAST(count(*) AS DOUBLE)
                                                     AS avg_qty,
           (CAST(sum(price_c) AS DOUBLE) / 100.0) / CAST(count(*) AS DOUBLE)
                                                     AS avg_price,
           (CAST(sum(disc_c)  AS DOUBLE) / 100.0) / CAST(count(*) AS DOUBLE)
                                                     AS avg_disc,
           count(*)                                  AS count_order
    FROM (
        SELECT l_returnflag, l_linestatus,
               CAST(floor(l_quantity      * 100 + 0.5) AS BIGINT) AS qty_c,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
               CAST(floor(l_discount      * 100 + 0.5) AS BIGINT) AS disc_c,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                 * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS dp4,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                 * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                 * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT))      AS ch6
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    )
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP (TPC-H Q1 shape, adapted to the reduced fixture columns).

    scan → pushed filter → project → two-phase hash agg (partial map-side,
    final after a 6-group shuffle) → tiny result. The shuffle carries only
    6 groups × partial states — this plan is flat-scalable: at 100 TB the
    cost is the scan, which prunes to 7 columns.

    r09: the measures moved to the sorted twin's EXACT integer grids
    (per-row floor(x·grid+0.5) snaps — lossless for 2dp inputs, dp4/ch6
    exact 4dp/6dp products, hi/lo int64 charge split; see
    ``agg_pricing_summary_sorted``). The round(sum(double),2) original
    was the documented sf100 grid-crossing (SCALING.md): this round's
    targeted sf100 sweep confirmed the half-cent break on real data, so
    the unsorted flagship now carries the same order-independent
    arithmetic as its layout twin — the two keys emit IDENTICAL values
    and differ only in physical layout, which is the honest A/B."""
    li = load_tables(spark, sf_dir)["lineitem"]
    c = lambda col: F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    dp4 = c("l_extendedprice") * (F.lit(100) - c("l_discount"))
    ch6 = dp4 * (F.lit(100) + c("l_tax"))
    n = F.count("*")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(c("l_quantity")).cast("double") / 100.0).alias("sum_qty"),
            (F.sum(c("l_extendedprice")).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(dp4).cast("double") / 10000.0).alias("sum_disc_price"),
            (
                F.sum(F.floor(ch6 / F.lit(1000000)).cast("long")).cast("double")
                + F.sum(ch6 % F.lit(1000000)).cast("double") / 1000000.0
            ).alias("sum_charge"),
            (
                (F.sum(c("l_quantity")).cast("double") / 100.0) / n.cast("double")
            ).alias("avg_qty"),
            (
                (F.sum(c("l_extendedprice")).cast("double") / 100.0) / n.cast("double")
            ).alias("avg_price"),
            (
                (F.sum(c("l_discount")).cast("double") / 100.0) / n.cast("double")
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_pricing_summary_sorted",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(qty_c)    AS DOUBLE) / 100.0     AS sum_qty,
           CAST(sum(price_c)  AS DOUBLE) / 100.0     AS sum_base_price,
           CAST(sum(dp4)      AS DOUBLE) / 10000.0   AS sum_disc_price,
           CAST(sum(ch6 // 1000000) AS DOUBLE)
             + CAST(sum(ch6 % 1000000) AS DOUBLE) / 1000000.0
                                                     AS sum_charge,
           (CAST(sum(qty_c)   AS DOUBLE) / 100.0) / CAST(count(*) AS DOUBLE)
                                                     AS avg_qty,
           (CAST(sum(price_c) AS DOUBLE) / 100.0) / CAST(count(*) AS DOUBLE)
                                                     AS avg_price,
           (CAST(sum(disc_c)  AS DOUBLE) / 100.0) / CAST(count(*) AS DOUBLE)
                                                     AS avg_disc,
           count(*)                                  AS count_order
    FROM (
        SELECT l_returnflag, l_linestatus,
               CAST(floor(l_quantity      * 100 + 0.5) AS BIGINT) AS qty_c,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
               CAST(floor(l_discount      * 100 + 0.5) AS BIGINT) AS disc_c,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                 * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS dp4,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                 * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                 * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT))      AS ch6
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    )
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP layout twin (VERDICT r07 item 1): Q1 over the
    ingest-sorted lineitem layout (``engine.io.sorted_lineitem`` —
    ``l_shipdate``-sorted within each split, small row groups; a
    map-only zero-shuffle rewrite, see its docstring).

    Same logical query as ``agg_pricing_summary``; two deliberate
    differences:

    1. **Layout.** Q1 is scan-bound (the plan was already right: pushed
       filter, 7-column pruning, two-phase agg) and its pushed
       ``l_shipdate <= cutoff`` predicate prunes NOTHING on the
       arrival-ordered fixture because every row group straddles the
       cutoff. On the sorted layout the ~17% of row groups above the
       cutoff are footer-skipped and shipdate delta-encodes — the fix
       that remained after both scan-conf levers were measured and
       rejected (BENCH.md r07). The unsorted original stays registered
       as the measured comparison, mirroring the bucketed-Q5 twin.
    2. **Exact integer arithmetic.** Changing layout changes summation
       order, and raw double money sums diverge in the last ulp between
       orders (the r07 sf1 parity-sweep lesson). Every measure is
       snapped per-row to its EXACT decimal grid — quantity/price/
       discount/tax are 2dp so ``floor(x*100+0.5)`` is lossless; the
       disc-price product is exactly 4dp (2dp×2dp) and charge exactly
       6dp — then summed as integers. Sums are order-independent and
       equal the true decimal sums at ANY scale; the only
       floating-point ops are the final constant divisions,
       bit-identical in both engines. No round() anywhere — the
       Spark/DuckDB round() half-boundary disagreement never enters.

       The charge sum is TWO int64 sums (hi = ch6 div 1e6, lo = ch6 mod
       1e6, both non-negative here), recombined as hi + lo/1e6 in
       double at the end: a single 1e-6$-unit sum crosses int64 range
       at ~sf100, and the first cut's DECIMAL(20,0) accumulator cost
       +60% on the WHOLE query at sf10 (0.73 → 1.12 s measured, r08
       A/B) — Spark's decimal agg runs outside the primitive codegen
       path. The hi/lo split keeps every accumulator a primitive long
       (hi ≤ 6.6e13 and lo ≤ 6e14 at sf100, both exact in int64 AND
       under 2^53 for the final double casts) at ~6% over raw doubles.
    """
    from engine.io import sorted_lineitem

    li = sorted_lineitem(spark, sf_dir)
    c = lambda col: F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    dp4 = c("l_extendedprice") * (F.lit(100) - c("l_discount"))
    ch6 = dp4 * (F.lit(100) + c("l_tax"))
    n = F.count("*")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(c("l_quantity")).cast("double") / 100.0).alias("sum_qty"),
            (F.sum(c("l_extendedprice")).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(dp4).cast("double") / 10000.0).alias("sum_disc_price"),
            # hi/lo int64 split (see docstring): floor(ch6/1e6) is exact
            # here — the double quotient of a ≤1.1e11 int by 1e6 carries
            # ulp error ~1e-11, far below the 1e-6 distance to the next
            # integer boundary, so floor() lands identically in both
            # engines (the oracle's BIGINT // is the same integer).
            (
                F.sum(F.floor(ch6 / F.lit(1000000)).cast("long")).cast("double")
                + F.sum(ch6 % F.lit(1000000)).cast("double") / 1000000.0
            ).alias("sum_charge"),
            (
                (F.sum(c("l_quantity")).cast("double") / 100.0) / n.cast("double")
            ).alias("avg_qty"),
            (
                (F.sum(c("l_extendedprice")).cast("double") / 100.0) / n.cast("double")
            ).alias("avg_price"),
            (
                (F.sum(c("l_discount")).cast("double") / 100.0) / n.cast("double")
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_revenue_by_nation",
    plan_cache=True,
    oracle="""
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def agg_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP #2 (TPC-H Q5 shape): 6-table join → groupBy nation.

    Join order matters at scale, and one step Catalyst cannot derive is
    done by hand: the region='ASIA' restriction is folded into the
    supplier dim FIRST (region ⋈ nation ⋈ supplier — all broadcast-size),
    and lineitem is broadcast-joined against that restricted dim BEFORE
    the fact-fact shuffle. The only full-width exchange (lineitem on
    l_orderkey) therefore carries ~1/|regions| of the rows; written in
    the oracle's order, the region filter only prunes AFTER the 60M-row
    SMJ (measured warm min: sf1 1.70 s → 0.89 s, sf10 8.1 s → 2.4 s,
    same hash at every scale). The conjunctive join
    predicate c_nationkey = s_nationkey is applied as a post-join filter
    — identical inner-join semantics, verified by the oracle which keeps
    the textbook formulation. Orders keeps its date pushdown; customer
    joins orders with no hint so AQE picks broadcast locally and shuffle
    at cluster scale.

    r07: customer is SEMI-FILTERED to ASIA nationkeys before it joins
    orders — only an ASIA-nation customer can survive the
    c_nationkey = s_nationkey condition, so the restriction that the
    r04 rework pushed into the SUPPLIER side is now pushed into the
    CUSTOMER side too, and the orders half of the fact-fact orderkey
    exchange (this plan's one full-width shuffle, the r06-flagged scale
    cost) carries ~1/|regions| of the rows. Same derivation Catalyst
    cannot do itself: the equality that transfers the region filter
    across tables only exists inside the join condition."""
    t = load_tables(spark, sf_dir)
    asia_nat = t["nation"].join(
        F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    asia_sup = (
        t["supplier"]
        .join(F.broadcast(asia_nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = t["lineitem"].join(F.broadcast(asia_sup), F.col("l_suppkey") == F.col("s_suppkey"))
    return (
        t["customer"]
        .join(
            F.broadcast(asia_nat.select("n_nationkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "agg_revenue_by_nation_bucketed",
    oracle="""
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def agg_revenue_by_nation_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP #2 on a co-bucketed layout — the scale-safe Q5 plan.

    Same query and oracle as :func:`agg_revenue_by_nation`; the difference
    is WHERE the fact-fact join cost is paid. The unbucketed flagship's
    one full-width exchange (orders ⋈ lineitem on orderkey, ~10 GB of
    shuffle at sf100) is the only headline plan that stays >2× the
    baseline at every measured scale ≥ sf10 (VERDICT r06). Here both
    facts come from ``engine.io.bucketed_facts`` — written once, bucketed
    8-ways and sorted on the orderkey — so the orderkey SMJ needs no
    Exchange and no Sort on either side: the shuffle is paid once at
    write time and amortized over every orderkey join that follows
    (the repeated-join layout doctrine; at 100 TB the bucket count
    scales with the data — thousands — not with one machine).

    Join order and the remaining exchanges:
      - region⋈nation⋈supplier restricted to ASIA first and broadcast
        into lineitem (same as the unbucketed plan — a broadcast join
        PRESERVES the streamed side's bucketing, so the restricted
        lineitem is still bucket-partitioned on l_orderkey);
      - date-filtered orders (filter also preserves bucketing) then
        merge-joins lineitem WITHOUT shuffling — the pin in
        tests/test_plans.py asserts zero Exchange below the orderkey SMJ;
      - customer enters AFTER the fact-fact join, broadcast as a
        two-integer-column projection SEMI-FILTERED to ASIA nations
        first (only customers whose c_nationkey is an ASIA nationkey can
        survive the c_nationkey = s_nationkey condition, so the
        broadcast build drops to ~1/|regions| of the rows — measured
        sf10: the full 1.5M-row customer broadcast cost ~1.0 s of the
        1.6 s total; semi-filtered, the query is 1.06 s. At a scale
        where even that outgrows broadcast, the same doctrine applies
        one level up: bucket customer and orders on custkey);
      - with one sorted file per bucket (bucketed_facts repartitions
        before the write) and bucketed-scan ordering on (SESSION_CONF),
        the SMJ also skips BOTH local sorts — the fact side of the plan
        is scan → broadcast-probe → merge, nothing else;
      - the final groupBy(nation) is the plan's ONE shuffle Exchange,
        carrying |buckets| × |nations| partial rows.
    """
    from engine.io import bucketed_facts

    t = load_tables(spark, sf_dir)
    o_bkt, li_bkt = bucketed_facts(spark, sf_dir)
    asia_nat = t["nation"].join(
        F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    asia_sup = (
        t["supplier"]
        .join(F.broadcast(asia_nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    li = li_bkt.join(F.broadcast(asia_sup), F.col("l_suppkey") == F.col("s_suppkey")).select(
        "l_orderkey", "l_extendedprice", "l_discount", "s_nationkey", "n_name"
    )
    o = o_bkt.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    cust = t["customer"].select("c_custkey", "c_nationkey").join(
        F.broadcast(asia_nat.select("n_nationkey")),
        F.col("c_nationkey") == F.col("n_nationkey"),
        "left_semi",
    )
    return (
        o.hint("merge")  # force the bucketed SMJ path even at tiny SF
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct — Spark expands to a two-level aggregate (distinct
    keys first, then count), both phases partial+final."""
    ev = load_tables(spark, sf_dir)["events"]
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@query(
    "agg_approx_count_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS exact_users, true AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct vs exact, bounds-checked in-query. At
    100 TB the approx path avoids the exact-distinct double shuffle
    entirely. Self-validating hash oracle: the output carries the exact
    count plus the bounds verdict; the oracle recomputes the exact count
    and asserts the verdict is literal true, so a sketch estimate drifting
    past ±5% is a hard hash mismatch, not a silent rows-only pass. The
    HLL estimate itself (rsd 0.02) stays in-query only — it has no DuckDB
    twin; verified within ±5% of exact at sf0.001/0.01/0.1."""
    ev = load_tables(spark, sf_dir)["events"]
    df = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return df.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )


@query(
    "agg_filtered_conditional",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2) AS hi_disc_price,
           count(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
           round(sum(CASE WHEN l_tax = 0 THEN l_extendedprice ELSE 0 END), 2) AS notax_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_filtered_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-aggregate predicates: FILTER(WHERE) ≡ sum(when(cond, x))."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))), 2
        ).alias("hi_disc_price"),
        F.count(F.when(F.col("l_quantity") >= 25, 1)).alias("n_bulk"),
        F.round(
            F.sum(F.when(F.col("l_tax") == 0, F.col("l_extendedprice")).otherwise(0.0)), 2
        ).alias("notax_price"),
    )


_GSETS_ORACLE = """
    SELECT c_mktsegment, n_name,
           GROUPING(c_mktsegment) AS g_seg, GROUPING(n_name) AS g_nat,
           count(*) AS n, round(sum(c_acctbal), 2) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
"""


@query("agg_grouping_sets", oracle=_GSETS_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with explicit grouping() flags (flags, not grouping_id,
    because Spark and DuckDB disagree on bit order)."""
    t = load_tables(spark, sf_dir)
    joined = t["customer"].join(
        F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
    )
    joined.createOrReplaceTempView("_gs_cust_nation")
    return spark.sql(
        """
        SELECT c_mktsegment, n_name,
               CAST(grouping(c_mktsegment) AS INT) AS g_seg,
               CAST(grouping(n_name) AS INT) AS g_nat,
               count(*) AS n, round(sum(c_acctbal), 2) AS total_bal
        FROM _gs_cust_nation
        GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
        """
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name,
           GROUPING(r_name) AS g_r, GROUPING(n_name) AS g_n,
           count(*) AS n, round(sum(c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals: (region, nation) → (region) → ()."""
    t = load_tables(spark, sf_dir)
    j = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return j.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("g_r"),
        F.grouping("n_name").cast("int").alias("g_n"),
        F.count("*").alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT c_mktsegment, o_orderstatus,
           GROUPING(c_mktsegment) AS g_seg, GROUPING(o_orderstatus) AS g_st,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderstatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full lattice of subtotals over two dimensions."""
    t = load_tables(spark, sf_dir)
    j = t["orders"].join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
    return j.cube("c_mktsegment", "o_orderstatus").agg(
        F.grouping("c_mktsegment").cast("int").alias("g_seg"),
        F.grouping("o_orderstatus").cast("int").alias("g_st"),
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY o_custkey
    HAVING count(*) >= 15 AND sum(o_totalprice) > 1000000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.sum("o_totalprice").alias("_raw"),
        )
        .where((F.col("n_orders") >= 15) & (F.col("_raw") > 1000000))
        .drop("_raw")
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_quantity), 6)    AS var_qty,
           round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
           round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates on small-magnitude columns (rounding at 6dp
    survives cross-engine summation-order noise)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("cov_qty_disc"),
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           round(median(o_totalprice), 4) AS med_price,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark F.percentile ≡ DuckDB
    quantile_cont). At 100 TB switch to approx_percentile — exact
    percentile materializes the group."""
    o = load_tables(spark, sf_dir)["orders"]
    return o.groupBy("o_orderstatus").agg(
        F.round(F.median("o_totalprice"), 4).alias("med_price"),
        F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90_price"),
        F.round(F.percentile("o_totalprice", 0.25), 4).alias("p25_price"),
    )


@query(
    "agg_collect",
    oracle="""
    SELECT n_regionkey, array_to_string(list_sort(list(n_name)), '|') AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list sorted for determinism (collection order is otherwise
    partition-dependent); serialized joined (array cells are not
    driver-hashable)."""
    n = load_tables(spark, sf_dir)["nation"]
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias("nations")
    )


@query(
    "agg_first_last_ordered",
    oracle="""
    SELECT event_type,
           (min(struct_pack(ts:=ts, id:=event_id))).id AS first_event,
           (max(struct_pack(ts:=ts, id:=event_id))).id AS last_event,
           (max(struct_pack(v:=value, id:=event_id, u:=user_id))).u AS top_value_user
    FROM events GROUP BY event_type
    """,
)
def agg_first_last_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by ≡ arg_min/arg_max, under a TOTAL order.

    The original formulation ordered by ts / value alone and leaned on
    "ts is unique in the fixture" — true at sf0.01/sf0.1, false in any
    scaled fixture (make_scaled replicates timestamps across copies),
    and never safe at 100 TB where event times collide constantly. The
    r07 sf1 parity sweep caught the resulting engine disagreement, so
    every ordering now carries the unique event_id as tiebreak: Spark
    min_by/max_by over a struct (lexicographic), DuckDB min/max of the
    same struct (arg_min rejects composite order values) with the
    payload riding inside."""
    ev = load_tables(spark, sf_dir)["events"]
    return ev.groupBy("event_type").agg(
        F.min_by("event_id", F.struct("ts", "event_id")).alias("first_event"),
        F.max_by("event_id", F.struct("ts", "event_id")).alias("last_event"),
        F.max_by("user_id", F.struct("value", "event_id")).alias("top_value_user"),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT user_id % 10 AS user_bucket,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY user_id % 10
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — never let pivot() infer values
    at scale (that's an extra distinct pass over 100 TB)."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", ["click", "purchase", "error", "signup", "view"])
        .count()
        .na.fill(0, ["click", "purchase", "error", "signup", "view"])
    )


@query(
    "agg_partial_final",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS count_order
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_partial_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demonstrates Spark's automatic two-phase aggregation: even after an
    adversarial repartition (all rows shuffled to non-aligned partitions),
    the plan still shows partial_... then final aggregation — map-side
    combine is free and automatic, exactly what you want at 100 TB."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.repartition(16, "l_orderkey")  # deliberately NOT the group key
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "sql_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point (SURVEY §3.2 #2): the flagship expressed as a SQL
    string over the registered temp views — same Catalyst lifecycle from
    the parser instead of the DSL builder.

    Measures use the exact-decimal-grid discipline of the sorted twin
    (quantity/price/discount are 2dp, the disc-price product exactly
    4dp): per-row floor(x*100+0.5) snaps then BIGINT sums, so the result
    is order-independent. The raw round(sum(double)) form this replaced
    crossed a half-cent between the engines' summation orders at sf10
    (~4e11 magnitude, r08 decade-up parity sweep)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS sum_qty,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                        * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                    AS DOUBLE) / 10000.0 AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP_NTZ '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


# ---------------------------------------------------------------------------
# §2.6 window functions
# ---------------------------------------------------------------------------


def _cust_revenue(t):
    """Per-customer revenue with segment, revenue rounded BEFORE ranking so
    both engines rank identical doubles (tie structure must match)."""
    rev = t["orders"].groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    return t["customer"].join(
        rev, F.col("c_custkey") == F.col("o_custkey"), "inner"
    ).select("c_custkey", "c_mktsegment", "revenue")


_CUST_REV_SQL = """
      SELECT c_custkey, c_mktsegment, revenue
      FROM customer c
      JOIN (SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
            FROM orders GROUP BY o_custkey) r
        ON c.c_custkey = r.o_custkey
"""


@query(
    "win_ranking",
    oracle=f"""
    WITH cr AS ({_CUST_REV_SQL})
    SELECT c_custkey, c_mktsegment, revenue,
           row_number()   OVER w AS rn,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cdist
    FROM cr
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY revenue DESC, c_custkey)
    """,
)
def win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All ranking functions over one window; unique tie-breaker c_custkey
    makes every rank deterministic across engines."""
    cr = _cust_revenue(load_tables(spark, sf_dir))
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("revenue").desc(), F.col("c_custkey")
    )
    return cr.select(
        "c_custkey",
        "c_mktsegment",
        "revenue",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(
    "win_topk_per_group",
    plan_cache=True,
    oracle=f"""
    WITH cr AS ({_CUST_REV_SQL})
    SELECT c_mktsegment, c_custkey, revenue, rn FROM (
      SELECT *, row_number() OVER (
        PARTITION BY c_mktsegment ORDER BY revenue DESC, c_custkey) AS rn
      FROM cr
    ) WHERE rn <= 5
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 customers per segment. Catalyst rewrites rank-filter to a
    per-partition top-k (WindowGroupLimit) — no full sort of each group."""
    cr = _cust_revenue(load_tables(spark, sf_dir))
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("revenue").desc(), F.col("c_custkey")
    )
    return (
        cr.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("c_mktsegment", "c_custkey", "revenue", "rn")
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           lag(epoch_us(CAST(ts AS TIMESTAMP)))  OVER w AS prev_us,
           lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS next_us,
           epoch_us(CAST(ts AS TIMESTAMP))
             - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over per-user event time; gaps computed on µs longs (exact
    integer arithmetic, no float drift)."""
    ev = load_tables(spark, sf_dir)["events"]
    us = F.expr("ts_ns div 1000")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.lag(us).over(w).alias("prev_us"),
        F.lead(us).over(w).alias("next_us"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_revenue
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer in order-date order."""
    o = load_tables(spark, sf_dir)["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 4).alias("cum_revenue"),
    )


@query(
    "win_moving_avg_rows",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(avg(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3
    FROM orders
    """,
)
def win_moving_avg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row trailing moving average."""
    o = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(-2, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w), 4).alias("ma3"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, d,
           count(*) OVER w AS n_7d,
           round(sum(o_totalprice) OVER w, 4) AS rev_7d
    FROM (SELECT *, date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS d
          FROM orders)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY d
                 RANGE BETWEEN 7 PRECEDING AND CURRENT ROW)
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over day offsets: all of a customer's orders in the
    trailing 7 days (value-based, peers included — unlike ROWS)."""
    o = load_tables(spark, sf_dir)["orders"]
    o = o.withColumn(
        "d", F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp_ntz"))
    )
    w = Window.partitionBy("o_custkey").orderBy("d").rangeBetween(-7, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "d",
        F.count("*").over(w).alias("n_7d"),
        F.round(F.sum("o_totalprice").over(w), 4).alias("rev_7d"),
    )


@query(
    "win_sessionize",
    plan_cache=True,
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
      SELECT *, CAST(sum(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sess GROUP BY user_id, session_id
    """,
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization: lag → new-session flag → running sum
    as session id → per-session rollup. One shuffle on user_id serves both
    the window and the final aggregation (same partitioning reused)."""
    ev = load_tables(spark, sf_dir)["events"]
    us = F.expr("ts_ns div 1000")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.select("user_id", "ts", "event_id", us.alias("us")).withColumn(
        "new_sess",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 1_800_000_000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn("session_id", F.sum("new_sess").over(wcum))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "agg_time_rollup_multires",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
             count(*) AS n,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sc,
             min(value) AS mn, max(value) AS mx
      FROM events GROUP BY 1, 2
    ), daily AS (
      SELECT date_trunc('day', bucket) AS bucket, event_type,
             CAST(sum(n) AS BIGINT) AS n, sum(sc) AS sc,
             min(mn) AS mn, max(mx) AS mx
      FROM hourly GROUP BY 1, 2
    ), both_res AS (
      SELECT 'hour' AS resolution, * FROM hourly
      UNION ALL
      SELECT 'day' AS resolution, * FROM daily
    )
    SELECT resolution, bucket, event_type, n,
           CAST(sc AS DOUBLE) / 100 AS sum_value, round(mn, 4) AS min_value,
           round(mx, 4) AS max_value,
           CAST(sc AS DOUBLE) / 100 / n AS avg_value
    FROM both_res
    """,
)
def agg_time_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution time rollup (continuous-aggregate
    pattern): the daily level is derived by RE-AGGREGATING the hourly
    partials (sum of counts, sum of sums, min of mins, max of maxes), never
    by rescanning raw events. At 100 TB this is the difference between one
    pass over the raw table and one pass over a table ~10^4× smaller; it is
    also why only decomposable aggregates (sum/count/min/max — and avg as
    sum/count at the end) are materialized per bucket, with avg finalized
    from partials at read time. Both resolutions share one events shuffle:
    the daily agg consumes the hourly agg's output directly."""
    ev = load_tables(spark, sf_dir)["events"]
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        # exact integer cents (value has 2dp): float sums differ in the
        # last ulp with addition order, and at sf0.001 a bucket's sum
        # lands exactly on a 4dp rounding boundary — caught by the
        # cross-scale sweep (r03); integer partials are order-free AND
        # remain decomposable for the daily re-aggregation
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("sc"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", "bucket").alias("bucket"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sc").alias("sc"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    both = hourly.select(F.lit("hour").alias("resolution"), "*").unionByName(
        daily.select(F.lit("day").alias("resolution"), "*")
    )
    return both.select(
        "resolution",
        "bucket",
        "event_type",
        "n",
        (F.col("sc").cast("double") / 100).alias("sum_value"),
        F.round("mn", 4).alias("min_value"),
        F.round("mx", 4).alias("max_value"),
        (F.col("sc").cast("double") / 100 / F.col("n")).alias("avg_value"),
    )


@query(
    "agg_salted_skew",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 4) AS total
    FROM events GROUP BY user_id
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation by explicit salting: phase 1 groups
    on (key, salt) — 16-way fan-out of each hot key — phase 2 merges the
    partials per key. events.user_id is the fixture's hot-key column
    (~667 rows/key at sf0.1). Catalyst's partial aggregation already
    handles THIS case; explicit salting is the pattern for when the
    per-key state itself is too big for one reducer (collect_list,
    distinct-heavy aggs) at 100 TB. Salt is deterministic (hash of a
    second column, not rand())."""
    ev = load_tables(spark, sf_dir)["events"]
    salted = ev.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
    phase1 = salted.groupBy("user_id", "_salt").agg(
        F.count("*").alias("pn"), F.sum("value").alias("pv")
    )
    return (
        phase1.groupBy("user_id")
        .agg(F.sum("pn").alias("n"), F.round(F.sum("pv"), 4).alias("total"))
    )


@query(
    "sample_hash_deterministic",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 4 = 0
    """,
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible sampling by key hash — the training-data sampling
    pattern: membership depends only on the key (stable across reruns,
    re-partitioning, and engines; verifiable by the oracle), unlike
    rand()/TABLESAMPLE. ~25% rate via md5 first-hex-char mod 4."""
    d = load_tables(spark, sf_dir)["documents"]
    keep = F.pmod(F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)), F.lit(4)) == 0
    return d.where(keep).select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------------------
# §2.7 sort / limit / distinct / set ops
# ---------------------------------------------------------------------------


@query(
    "sort_multikey_nulls",
    oracle="""
    SELECT row_number() OVER (
             ORDER BY nullif(o_orderstatus, 'P') DESC NULLS LAST,
                      o_totalprice DESC, o_orderkey) AS rn,
           o_orderkey, nullif(o_orderstatus, 'P') AS status_np, o_totalprice
    FROM orders
    ORDER BY rn LIMIT 100
    """,
)
def sort_multikey_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with NULLS LAST; the order is itself the tested value
    so it's materialized as a row_number column (the oracle hash is
    order-insensitive). Global row_number = single-partition window — fine
    for a top-100, never for a full 100 TB sort (use zorder/sortWithinPartitions there)."""
    o = load_tables(spark, sf_dir)["orders"]
    t = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_np"),
        "o_totalprice",
    )
    w = Window.orderBy(
        F.col("status_np").desc_nulls_last(), F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return t.withColumn("rn", F.row_number().over(w)).orderBy("rn").limit(100)


@query(
    "limit_topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def limit_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — each partition
    keeps its local top-10, driver merges. O(n) scan, no global sort."""
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "distinct_rows",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT = groupBy-all-columns; partial dedup map-side."""
    c = load_tables(spark, sf_dir)["customer"]
    return c.select("c_mktsegment", "c_nationkey").distinct()


@query(
    "set_union_all",
    oracle="""
    SELECT o_orderkey AS k, 'hi' AS src FROM orders WHERE o_totalprice > 300000
    UNION ALL
    SELECT o_orderkey AS k, 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union (duplicates preserved) — zero shuffle, partitions concat."""
    o = load_tables(spark, sf_dir)["orders"]
    hi = o.where(F.col("o_totalprice") > 300000).select(
        F.col("o_orderkey").alias("k"), F.lit("hi").alias("src")
    )
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k"), F.lit("urgent").alias("src")
    )
    return hi.union(urgent)


@query(
    "set_union_byname",
    oracle="""
    SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal, NULL AS s_nationkey FROM customer
    UNION ALL BY NAME
    SELECT s_suppkey AS id, s_name AS name, s_acctbal AS bal, s_nationkey FROM supplier
    """,
)
def set_union_byname(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-resolved union with missing-column null fill."""
    t = load_tables(spark, sf_dir)
    c = t["customer"].select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name"), F.col("c_acctbal").alias("bal")
    )
    s = t["supplier"].select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("bal"),
        F.col("s_nationkey").cast("int").alias("s_nationkey"),
    )
    return c.unionByName(s, allowMissingColumns=True)


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (distinct semantics)."""
    o = load_tables(spark, sf_dir)["orders"]
    f = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op)


@query(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference (EXCEPT ALL multiplicity semantics)."""
    o = load_tables(spark, sf_dir)["orders"]
    f = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    p = o.where(F.col("o_orderstatus") == "P").select("o_custkey")
    return f.exceptAll(p)


@query(
    "join_skew_salted",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_orders,
           round(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0,
                 4) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salted join — the skew pattern for when one join key is so
    hot a single reducer drowns: the BIG side gets a deterministic salt
    (hash of its row key, never rand()), the SMALL side is replicated once
    per salt value (explode over 0..7), and the join runs on (key, salt) —
    splitting each hot key's rows across 8 reducers. Results are identical
    to the plain join (the oracle IS the plain join). AQE's skew-join
    handles row-count skew automatically; explicit salting is for when the
    per-key JOIN STATE (build-side rows × probe matches) is the bottleneck,
    and it composes with two-stage agg (see agg_salted_skew)."""
    t = load_tables(spark, sf_dir)
    n_salt = 8
    big = t["orders"].withColumn(
        "_salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_salt))
    )
    small = t["customer"].withColumn(
        "_salt", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(n_salt - 1)))
    )
    return (
        big.join(
            small,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (big["_salt"] == small["_salt"]),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            # exact-cents sum — see join_range_bucketized (r07 sf1 find)
            F.round(
                F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
                / 100.0,
                4,
            ).alias("total"),
        )
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT o_orderstatus,
           CAST(floor(quantile_cont(o_totalprice, 0.5) * 1000 + 0.5) AS BIGINT) AS p50_mills,
           CAST(floor(quantile_cont(o_totalprice, 0.9) * 1000 + 0.5) AS BIGINT) AS p90_mills,
           true AS p50_within_2pct, true AS p90_within_2pct
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile (GK sketch) vs exact, bounds-checked
    in-query per group. At 100 TB exact percentiles need a full sort per
    group — the sketch is one pass, mergeable across partitions, and the
    default at scale. Self-validating hash oracle: the output carries the
    EXACT interpolated percentile (as integer mills — Spark `percentile`
    and DuckDB `quantile_cont` are bit-identical doubles, measured at
    sf0.01/0.1; floor(x*1000+0.5) avoids round() half-boundary drift)
    plus the sketch-vs-exact verdict, which the oracle asserts as literal
    true — a GK estimate past ±2% becomes a hard hash mismatch."""
    o = load_tables(spark, sf_dir)["orders"]
    df = o.groupBy("o_orderstatus").agg(
        F.approx_percentile("o_totalprice", 0.5, 1000).alias("approx_p50"),
        F.approx_percentile("o_totalprice", 0.9, 1000).alias("approx_p90"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("exact_p90"),
    )
    return df.select(
        "o_orderstatus",
        F.floor(F.col("exact_p50") * 1000 + 0.5).cast("long").alias("p50_mills"),
        F.floor(F.col("exact_p90") * 1000 + 0.5).cast("long").alias("p90_mills"),
        (
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            <= 0.02 * F.col("exact_p50")
        ).alias("p50_within_2pct"),
        (
            F.abs(F.col("approx_p90") - F.col("exact_p90"))
            <= 0.02 * F.col("exact_p90")
        ).alias("p90_within_2pct"),
    )


def _zorder_expr(a: str, b: str, bits: int = 6) -> str:
    """Bit-interleave SQL for a 2-D Z-value — textually identical in Spark
    SQL and DuckDB, so both engines evaluate the very same expression."""
    return " + ".join(
        f"((({a} >> {i}) & 1) << {2 * i}) + ((({b} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )


@query(
    "layout_zorder",
    oracle=f"""
    WITH t AS (
      SELECT p_partkey, p_size,
             CAST(least(floor(p_retailprice / 40), 63) AS BIGINT) AS pb
      FROM part
    )
    SELECT p_partkey, p_size, pb, {_zorder_expr('p_size', 'pb')} AS zval
    FROM t
    """,
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve values: interleave the bits of two dimensions
    (p_size and a 6-bit price bucket) into one sort key. Sorting/writing a
    table by zval clusters rows that are close in BOTH dimensions into the
    same parquet row groups, so min/max statistics prune scans for range
    predicates on EITHER column — the standard multi-dimensional layout
    trick (Delta/Iceberg OPTIMIZE ZORDER) expressed as a plain column.
    The interleave is one arithmetic expression (whole-stage codegen,
    per-row, no shuffle); at 100 TB the layout job is
    repartitionByRange(zval) + sortWithinPartitions(zval) + write."""
    p = load_tables(spark, sf_dir)["part"]
    t = p.select(
        "p_partkey",
        "p_size",
        F.least(F.floor(F.col("p_retailprice") / 40), F.lit(63))
        .cast("long")
        .alias("pb"),
    )
    return t.select(
        "p_partkey", "p_size", "pb", F.expr(_zorder_expr("p_size", "pb")).alias("zval")
    )


@query(
    "agg_observed_metrics",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total,
           count(*) FILTER (WHERE o_totalprice > 400000) AS n_big
    FROM orders
    """,
)
def agg_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observation API — data-quality counters collected as a SIDE EFFECT
    of an action the pipeline already runs, with no second pass over the
    data: metrics accumulate per-task inside the existing job (the same
    AccumulatorV2 machinery as Spark's own SQL metrics) and surface on the
    driver when the action finishes. This is how a 100 TB ingest reports
    row counts / checksums / violation counts without paying for a
    separate aggregation job. The observed values are returned as a 1-row
    DataFrame so the oracle can hash-match them against a direct
    aggregation. The money counter accumulates exact cents (BIGINT) per
    task — accumulator merge order is nondeterministic, so a raw double
    sum here diverged from the oracle's single-pass sum at sf10 (r08
    parity sweep); the cents sum is order-independent by construction."""
    from pyspark.sql import Observation

    o = load_tables(spark, sf_dir)["orders"]
    obs = Observation("dq")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias("total_c"),
        F.count(F.when(F.col("o_totalprice") > 400000, 1)).alias("n_big"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], float(m["total_c"]) / 100.0, m["n_big"])],
        "n_rows long, total double, n_big long",
    )


@query(
    "win_fill_forward",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN event_type = 'purchase' THEN round(value, 4) END AS v
      FROM events
    )
    SELECT user_id, event_id, ts, v,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
    FROM e
    """,
)
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (gap filling): carry each user's last observed value
    (purchases here; sensor readings in the general case) across the
    sparse rows between observations — `last(..., ignorenulls=True)` over
    a running frame, the standard time-series imputation. One shuffle on
    the partition key serves the whole fill; rows before a user's first
    observation stay NULL (no lookahead — leakage-safe)."""
    ev = load_tables(spark, sf_dir)["events"]
    e = ev.select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(F.col("event_type") == "purchase", F.round("value", 4)).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.withColumn("v_filled", F.last("v", ignorenulls=True).over(w))


@query(
    "agg_histogram_bins",
    oracle="""
    WITH b AS (
      SELECT CAST(least(floor(o_totalprice / 50000), 11) AS BIGINT) AS bin
      FROM orders
    )
    SELECT bin, bin * 50000 AS lo, (bin + 1) * 50000 AS hi, count(*) AS n
    FROM b GROUP BY bin
    """,
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram — the data-profiling primitive: bucket id is
    a pure projection (floor of value / width, clamped to a top bin), so
    the histogram is one map-side-combined aggregation over at most
    n_bins groups regardless of data size; no sort, no percentile pass.
    Profiling a 100 TB column costs one scan."""
    o = load_tables(spark, sf_dir)["orders"]
    b = o.select(
        F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(11))
        .cast("long")
        .alias("bin")
    )
    return b.groupBy("bin").agg(F.count("*").alias("n")).select(
        "bin",
        (F.col("bin") * 50000).alias("lo"),
        ((F.col("bin") + 1) * 50000).alias("hi"),
        "n",
    )


@query(
    "unpivot_melt",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
    FROM lineitem WHERE l_orderkey % 101 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey % 101 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey % 101 = 0
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (melt): three measure columns become (metric, val)
    rows via ``DataFrame.unpivot`` — the inverse of ``agg_pivot``. Expand
    is a pure projection (one scan, no shuffle, stays in whole-stage
    codegen); the 3× row blow-up happens pipelined, never materialized.
    The oracle spells it as UNION ALL, the portable ANSI formulation."""
    li = load_tables(spark, sf_dir)["lineitem"].where(F.col("l_orderkey") % 101 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    )


@query(
    "win_nth_value",
    oracle="""
    SELECT DISTINCT c_mktsegment AS segment,
           first_value(c_name) OVER w AS top_name,
           nth_value(c_name, 3) OVER w AS third_name,
           last_value(c_name) OVER w AS bottom_name
    FROM customer
    WINDOW w AS (
      PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional window values: first / nth(3) / last customer name per
    market segment by account balance. The frame is explicitly the FULL
    partition — last_value under the default frame (… AND CURRENT ROW) is
    the classic silent bug; order carries the c_custkey tie-breaker
    (SURVEY §5.3). One shuffle on the partition key."""
    c = load_tables(spark, sf_dir)["customer"]
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        c.select(
            F.col("c_mktsegment").alias("segment"),
            F.first("c_name").over(w).alias("top_name"),
            F.nth_value("c_name", 3).over(w).alias("third_name"),
            F.last("c_name").over(w).alias("bottom_name"),
        )
        .distinct()
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, count(*) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderstatus ORDER BY n DESC, o_orderpriority) AS rn
      FROM c
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n
    FROM r WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode with a deterministic tie-break (count desc, then value) —
    built-in ``F.mode`` is nondeterministic among ties, which would break
    the hash-match oracle. Shape: count-per-(group,value) hash agg (map-side
    combined) then a window over the tiny distinct-combination set — the
    heavy lifting happens in the combine, the window sees ~|groups×values|
    rows regardless of input size."""
    o = load_tables(spark, sf_dir)["orders"]
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n")
    )


@query(
    "events_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), s AS (
      SELECT user_id, min(ts) AS signup_ts FROM e
      WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS click_ts
      FROM e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND e.ts >= s.signup_ts
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS purchase_ts
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
      GROUP BY e.user_id
    )
    SELECT 1 AS stage, 'signup' AS event_type, (SELECT count(*) FROM s) AS users
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM c)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM p)
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who signed up, then clicked at/after
    signup, then purchased at/after that click — the product-analytics
    staple. Each stage is one groupBy-min plus one join on user_id; the
    per-stage frontier shrinks monotonically, so every later join is
    smaller than the last and AQE broadcast-converts them. Hot users
    (events.user_id is deliberately skewed) stress the first join — at
    100 TB the stage-1 aggregate is map-side combined before the shuffle,
    so skew hits the combine, not the reducers."""
    e = load_tables(spark, sf_dir)["events"].select("user_id", "event_type", "ts")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(s, "user_id")
        .where(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage"),
            F.lit(name).alias("event_type"),
            F.count("*").cast("long").alias("users"),
        )

    return stage(s, 1, "signup").unionAll(stage(c, 2, "click")).unionAll(
        stage(p, 3, "purchase")
    )


@query(
    "time_weighted_avg",
    oracle="""
    WITH e AS (
      SELECT user_id, value, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), d AS (
      SELECT user_id, value,
             (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us)
               / 1e6 AS dt_sec
      FROM e
    )
    SELECT user_id,
           round(sum(value * dt_sec) / sum(dt_sec), 6) AS twa,
           round(sum(dt_sec), 6) AS total_sec
    FROM d WHERE dt_sec IS NOT NULL AND dt_sec > 0
    GROUP BY user_id
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of a sampled signal per user: each reading is
    weighted by how long it was current (lead(ts) - ts). The time-series
    aggregation that plain avg() gets wrong on irregular samples. One
    shuffle on user_id serves both the lead window and the final group-by
    (same partitioning reused, no second exchange); zero-duration readings
    (duplicate timestamps) carry zero weight and are dropped identically
    on both engines."""
    e = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    d = (
        e.select("user_id", "value", "event_id", F.expr("ts_ns div 1000").alias("us"))
        .withColumn("dt_sec", (F.lead("us").over(w) - F.col("us")) / 1e6)
        .where(F.col("dt_sec").isNotNull() & (F.col("dt_sec") > 0))
    )
    return d.groupBy("user_id").agg(
        F.round(F.sum(F.col("value") * F.col("dt_sec")) / F.sum("dt_sec"), 6).alias("twa"),
        F.round(F.sum("dt_sec"), 6).alias("total_sec"),
    )


@query(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT c_mktsegment AS segment, count(DISTINCT c_custkey) AS exact,
           true AS within_3pct
    FROM customer GROUP BY c_mktsegment
    UNION ALL
    SELECT '__ALL__' AS segment, count(DISTINCT c_custkey) AS exact,
           true AS within_3pct
    FROM customer
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, built
    into Spark 3.5+): one HLL sketch per market segment, then the GLOBAL
    estimate computed by UNIONING the per-segment sketches — never
    rescanning the data. This is the 100 TB pattern for distinct counts
    over rollup hierarchies: partial sketches are tiny (~KB), commutative,
    and re-aggregable at any grain (hour→day→month) for one scan's cost.
    Self-validating hash oracle: each row carries the exact distinct
    count plus whether the estimate landed within ±3%; the oracle
    recomputes the exact counts and asserts the verdict is literal true,
    so estimate drift is a hard hash mismatch. lgK=16 (rse
    1.04/sqrt(2^16) ≈ 0.41%, so 3% ≈ 7σ — deterministic-in-practice at
    any cardinality; the original lgK=12 put 3% at ~1.9σ and a 294k-key
    segment actually exceeded it at sf10, r08 parity sweep). A 64 KB
    sketch per group is still negligible against the scan it rides on.
    The estimate itself stays in-query (no DuckDB HLL twin)."""
    c = load_tables(spark, sf_dir)["customer"]
    per_seg = c.groupBy("c_mktsegment").agg(
        F.hll_sketch_agg("c_custkey", 16).alias("sk"),
        F.countDistinct("c_custkey").alias("exact"),
    )
    seg = per_seg.select(
        F.col("c_mktsegment").alias("segment"),
        F.hll_sketch_estimate("sk").alias("estimate"),
        "exact",
    )
    glob = per_seg.agg(
        F.lit("__ALL__").alias("segment"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("estimate"),
        F.sum("exact").alias("exact"),  # segments partition custkeys: sum = global distinct
    )
    return seg.unionByName(glob).select(
        "segment",
        "exact",
        (F.abs(F.col("estimate") - F.col("exact")) <= F.col("exact") * 0.03).alias(
            "within_3pct"
        ),
    )


#: join_bloom_prefilter's scoped confs. Bloom injection is skipped for
#: broadcast-able joins (a broadcast join already avoids shuffling the big
#: side), so the demo also disables auto-broadcast.
BLOOM_PREFILTER_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pre-filtering: the selective predicate
    lives on the orders side, so Catalyst builds a Bloom filter over the
    filtered orders keys at runtime and injects `might_contain` into the
    lineitem scan — rows that cannot join are dropped BEFORE the shuffle.
    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling the ~selectivity fraction that can match; the
    exact join still runs after, so false positives cost nothing but
    bytes (SQL oracle is exact). The application-side size threshold is
    lowered for the demo (local data is far under the 10 GB default) and
    restored after materialization; tests/test_plans.py asserts the
    injected `might_contain`."""
    t = load_tables(spark, sf_dir)
    # materialize inside the block so the bloom runs under the lowered threshold
    with session_confs(spark, BLOOM_PREFILTER_CONFS):
        o = t["orders"].where(F.col("o_orderpriority") == "1-URGENT")
        df = (
            t["lineitem"]
            .hint("merge")
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_items"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                    "revenue"
                ),
            )
        )
        return df.localCheckpoint(eager=True)


@query(
    "agg_incremental_view",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total,
           (CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0) / CAST(count(*) AS DOUBLE) AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the MV (per-status
    count/sum) was built over yesterday's data (o_orderkey % 11 != 0);
    today's delta batch (% 11 == 0) arrives and the MV is refreshed by
    aggregating ONLY the delta and merging partials — never rescanning
    the base. Works because count/sum are decomposable; avg is finalized
    from merged sum/count (never averaged averages). The oracle is the
    full recompute over everything — the merged MV must hash-match it.
    At 100 TB: refresh cost ∝ delta size, the whole point of continuous
    aggregates. The money partial is an exact-cents BIGINT sum
    (o_totalprice is 2dp, floor(x*100+0.5) is lossless) so base+delta
    merge order cannot move the total — the raw double partials this
    replaced crossed a half-cent vs the oracle's single-pass sum at sf10
    (~1.2e12 magnitude, r08 parity sweep)."""
    o = load_tables(spark, sf_dir)["orders"]

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
                "total_c"
            ),
        )

    mv_base = partials(o.where(F.col("o_orderkey") % 11 != 0))
    delta = partials(o.where(F.col("o_orderkey") % 11 == 0))
    merged = (
        mv_base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(F.sum("n_orders").alias("n_orders"), F.sum("total_c").alias("total_c"))
    )
    total = F.col("total_c").cast("double") / 100.0
    return merged.select(
        "o_orderstatus",
        "n_orders",
        total.alias("total"),
        (total / F.col("n_orders").cast("double")).alias("avg_price"),
    )


@query(
    "agg_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def agg_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 adapted to fixture columns: top-10 unshipped orders by
    revenue for one market segment. Both date predicates push into the
    scans (orders AND lineitem pruned before the join); the customer
    filter makes that side broadcastable; global top-10 runs as
    TakeOrderedAndProject (no full sort). Tie-break (o_orderdate,
    l_orderkey) keeps the limit deterministic (SURVEY §5.3)."""
    t = load_tables(spark, sf_dir)
    cut = "1995-03-15"
    c = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    o = t["orders"].where(F.col("o_orderdate") < F.lit(cut).cast("timestamp_ntz"))
    li = t["lineitem"].where(F.col("l_shipdate") > F.lit(cut).cast("timestamp_ntz"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "agg_promo_revenue",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                   / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate < TIMESTAMP '1995-10-01'
    """,
)
def agg_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 adapted: promo revenue share for one ship month —
    conditional aggregation over a fact⋈dim join. The month predicate
    prunes lineitem at the scan; part is the broadcast side; the CASE
    rides inside the single hash aggregate (one pass, two sums)."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp_ntz"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "win_mom_growth",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           round(100.0 * (revenue - lag(revenue) OVER (ORDER BY month))
                       / lag(revenue) OVER (ORDER BY month), 6) AS mom_pct
    FROM m
    """,
)
def win_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth: monthly revenue with month-over-month
    percentage change — the reporting staple. The global (unpartitioned)
    lag window is safe HERE because its input is the aggregated month
    series (|months| rows, not |orders|): aggregate first, window the
    partials. Windowing the raw fact on a global order would be the
    single-partition trap."""
    o = load_tables(spark, sf_dir)["orders"]
    # month stays timestamp_ntz: DATE output cells reach the driver's hash
    # as datetime.date (Spark) vs datetime64 (DuckDB .df()) — never equal.
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        F.round(100.0 * (F.col("revenue") - prev) / prev, 6).alias("mom_pct"),
    )
