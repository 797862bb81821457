"""Round-3 (late) pipeline additions: RAG chunking, span-level corpus
dedup, Bloom-filter incremental dedup, star-schema broadcast joins,
multi-distinct aggregation, event-path mining, gaps-and-islands, windowed
funnels, and z-score anomaly detection.

Design rules shared with the sibling modules (SURVEY §5.3):
  - every float that reaches the output is either a ratio of exact
    integers (bit-identical across engines) or derived from exact-integer
    partials (the `a348790` cents pattern) — no order-dependent float sum
    is ever compared raw;
  - all hashes that must match DuckDB use the md5 family (hex-sliced into
    integer lanes where arithmetic is needed);
  - timestamps are compared in integer microseconds (`ts_ns div 1000` on
    the Spark side vs `epoch_us(CAST(ts AS TIMESTAMP))` in DuckDB).

Everything here is explode→agg, window, or broadcast-join shaped — no
Python in any hot path, no driver-side loops, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.io import load_tables
from engine.registry import query

# ---------------------------------------------------------------------------
# RAG chunking
# ---------------------------------------------------------------------------

_CHUNK_W = 32  # tokens per chunk
_CHUNK_S = 24  # stride (8-token overlap)


@query(
    "llm_chunk_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE text <> ''
    ), m AS (
      SELECT doc_id, toks, n,
             CASE WHEN n <= {_CHUNK_W} THEN 0
                  ELSE (n - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S}
             END AS last_i
      FROM t
    )
    SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_id,
           CAST(g.i * {_CHUNK_S} AS BIGINT) AS start_tok,
           CAST(least({_CHUNK_W}, n - g.i * {_CHUNK_S}) AS BIGINT) AS n_tok,
           array_to_string(
             list_slice(toks, g.i * {_CHUNK_S} + 1,
                        g.i * {_CHUNK_S} + {_CHUNK_W}), ' ') AS chunk_text
    FROM m, unnest(range(0, last_i + 1)) AS g(i)
    """,
)
def llm_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping chunking (W=32 tokens, stride 24 → 8-token
    overlap) — the retrieval/RAG pre-processing step that turns a document
    corpus into an embedding-ready chunk table.

    All array-side and JVM-codegen: split → sequence(0, last) →
    posexplode → slice → array_join; one narrow pass over the corpus with
    NO shuffle at all (chunk rows inherit the scan partitioning), which is
    the property that matters at 100 TB — chunking is embarrassingly
    parallel and this plan keeps it that way. The chunk-count arithmetic
    is guarded integer math (CASE before the division) so both engines
    agree for n <= W without relying on negative-floor-division parity."""
    d = load_tables(spark, sf_dir)["documents"]
    t = d.where(F.col("text") != "").select(
        "doc_id", F.split("text", " ").alias("toks")
    ).withColumn("n", F.size("toks"))
    m = t.withColumn(
        "last_i",
        F.when(F.col("n") <= _CHUNK_W, F.lit(0)).otherwise(
            F.floor((F.col("n") - _CHUNK_W + _CHUNK_S - 1) / _CHUNK_S)
        ),
    )
    return (
        m.select(
            "doc_id",
            "toks",
            "n",
            F.explode(F.sequence(F.lit(0), F.col("last_i"))).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").cast("long").alias("chunk_id"),
            (F.col("i") * _CHUNK_S).cast("long").alias("start_tok"),
            F.least(F.lit(_CHUNK_W), F.col("n") - F.col("i") * _CHUNK_S)
            .cast("long")
            .alias("n_tok"),
            F.array_join(
                F.expr(f"slice(toks, i * {_CHUNK_S} + 1, {_CHUNK_W})"), " "
            ).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Span-level (block) dedup with reassembly
# ---------------------------------------------------------------------------

_BLOCK_B = 20  # words per block


@query(
    "llm_block_dedup",
    plan_cache=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE text <> ''
    ), blocks AS (
      SELECT doc_id, CAST(g.i AS BIGINT) AS i,
             array_to_string(
               list_slice(toks, g.i * {_BLOCK_B} + 1,
                          g.i * {_BLOCK_B} + {_BLOCK_B}), ' ') AS block_text
      FROM t, unnest(range(0, (n + {_BLOCK_B} - 1) // {_BLOCK_B})) AS g(i)
    ), ranked AS (
      SELECT doc_id, i, block_text,
             row_number() OVER (PARTITION BY md5(block_text)
                                ORDER BY doc_id, i) AS rn
      FROM blocks
    ), kept AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(block_text, ' ' ORDER BY i) AS kept_text
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    ), base AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks
      FROM blocks GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_blocks,
           COALESCE(k.n_kept, 0) AS n_kept,
           b.n_blocks - COALESCE(k.n_kept, 0) AS n_removed,
           COALESCE(k.kept_text, '') AS kept_text
    FROM base b LEFT JOIN kept k ON b.doc_id = k.doc_id
    """,
)
def llm_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup with document reassembly (the
    RefinedWeb/C4 "line dedup" shape, adapted to this corpus's
    newline-free text as fixed 20-word blocks): every block that occurs
    more than once corpus-wide is removed everywhere EXCEPT its canonical
    first occurrence (min (doc_id, position)), and documents are
    reassembled from their surviving blocks.

    Scale shape: blocks explode once, shuffle ONCE keyed on a two-seed
    xxhash64 pair over block_text (16-byte composite key with 128-bit
    collision posture — see the window-key comment below; never the raw
    span text as a wide shuffle key beyond the first hop), the per-hash window is a
    row_number over groups whose size is the duplication factor (small by
    definition), and reassembly is one groupBy doc_id with an array_sort
    collect — two shuffles total, both map-side combinable. At 100 TB
    this is exactly CCNet/RefinedWeb's span-dedup topology; the canonical
    keep-first rule makes the output deterministic under any partitioning
    (asserted by the partition-invariance sweep)."""
    d = load_tables(spark, sf_dir)["documents"]
    t = d.where(F.col("text") != "").select(
        "doc_id", F.split("text", " ").alias("toks")
    ).withColumn("n", F.size("toks"))
    blocks = t.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0), F.floor((F.col("n") + _BLOCK_B - 1) / _BLOCK_B) - 1
            )
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.col("i").cast("long").alias("i"),
        F.array_join(F.expr(f"slice(toks, i * {_BLOCK_B} + 1, {_BLOCK_B})"), " ").alias(
            "block_text"
        ),
    )
    # Two-seed xxhash64 window key (r12, VERDICT r11 item 2): the hash is
    # grouping-only (never output), so cheap integer hashes replace the
    # 32-char md5 string as the shuffle key — but a keep/drop decision
    # keyed on a SINGLE 64-bit hash silently deletes a distinct block on
    # collision, and the birthday expectation n²/2⁶⁵ crosses 1 at the
    # ~10¹⁰ blocks a 100 TB corpus implies. Hashing twice with different
    # leading-seed literals gives two effectively independent 64-bit
    # values for natural inputs → a 16-byte composite key with a heuristic
    # n²/2¹²⁹ posture (~1.5e-19 at 10¹⁰ blocks) at half md5's key width
    # and none of its string materialization. XXH64 is not cryptographic
    # and seed-chained variants are not provably pairwise independent, so
    # this is not a guarantee: the real collision audit is the oracle hash
    # gate, which groups by md5. Measured same-session: within noise of
    # the one-seed key at sf0.1 AND sf10, identical output.
    w = Window.partitionBy(
        F.xxhash64("block_text"), F.xxhash64(F.lit(1), "block_text")
    ).orderBy("doc_id", "i")
    ranked = blocks.withColumn("rn", F.row_number().over(w))
    kept = (
        ranked.where(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "block_text"))),
                    lambda s: s["block_text"],
                ),
                " ",
            ).alias("kept_text"),
        )
    )
    # per-doc block count is pure arithmetic on the token count (r11):
    # the explode emits exactly ceil(n/B) rows per doc, so deriving
    # n_blocks from t skips a SECOND full scan+split+explode pass (the
    # `blocks` subtree was evaluated twice — once for the window ranking,
    # once only to be counted) plus its aggregation. Values identical by
    # construction; the oracle still counts the exploded blocks.
    base = t.select(
        "doc_id",
        F.floor((F.col("n") + _BLOCK_B - 1) / _BLOCK_B).cast("long").alias("n_blocks"),
    )
    return base.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_blocks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_blocks") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 18  # bits
_BLOOM_K = 4  # hash functions (md5 hex slices)


def _hex_slice_int_sql(col: str, start: int, width: int) -> str:
    """DuckDB hex→int for a fixed-width md5 slice (no conv() in DuckDB):
    positional strpos fold, exact for width ≤ 15."""
    terms = [
        f"(strpos('0123456789abcdef', substr({col}, {start + i}, 1)) - 1)"
        f" * {16 ** (width - 1 - i)}"
        for i in range(width)
    ]
    return "(" + " + ".join(terms) + ")"


def _bloom_positions_sql(col: str) -> list[str]:
    # four disjoint 5-hex-digit (20-bit) slices of the 32-digit md5
    return [
        f"({_hex_slice_int_sql(col, 1 + 5 * j, 5)} % {_BLOOM_M})"
        for j in range(_BLOOM_K)
    ]


@query(
    "llm_bloom_dedup",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, md5(text) AS h, doc_id % 5 = 4 AS is_new FROM documents
    ), hist_pos AS (
      SELECT DISTINCT p.pos FROM hashed,
        unnest([{", ".join(_bloom_positions_sql("h"))}]) AS p(pos)
      WHERE NOT is_new
    ), bloom AS (
      SELECT pos // 32 AS wd, bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS w
      FROM hist_pos GROUP BY 1
    ), new_pos AS (
      SELECT doc_id, h, p.pos FROM hashed,
        unnest([{", ".join(_bloom_positions_sql("h"))}]) AS p(pos)
      WHERE is_new
    ), probed AS (
      SELECT n.doc_id, n.h,
             min(CASE WHEN (COALESCE(b.w, 0) >> (n.pos % 32)) & 1 = 1
                      THEN 1 ELSE 0 END) AS all_set
      FROM new_pos n LEFT JOIN bloom b ON n.pos // 32 = b.wd
      GROUP BY 1, 2
    ), hist_h AS (
      SELECT DISTINCT h FROM hashed WHERE NOT is_new
    )
    SELECT p.doc_id, p.all_set = 1 AS bloom_hit,
           hh.h IS NOT NULL AS exact_dup,
           p.all_set = 1 AND hh.h IS NULL AS false_positive
    FROM probed p LEFT JOIN hist_h hh ON p.h = hh.h
    """,
)
def llm_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a NEW batch (doc_id % 5 == 4) against the
    historical corpus via a Bloom filter built as a DataFrame aggregate —
    the pattern that lets a 100 TB pipeline skip re-shuffling the entire
    historical corpus on every incremental load.

    The filter is m = 2^18 bits / k = 4 md5-slice hashes, materialized as
    ≤ 8192 packed 64-bit words via groupBy(word) + bit_or — a
    FIXED-SIZE aggregate regardless of corpus size, which then
    broadcast-joins to the new batch's probe positions (the big side
    never shuffles; only the probe explode × 4 rows flow). Bloom
    membership can false-positive but never false-negative, so the query
    also runs the exact md5 anti-join as the audit stage and emits
    `false_positive` explicitly — at scale you'd sample this stage; here
    it doubles as the correctness certificate (exact_dup ⇒ bloom_hit is
    asserted by the property suite). Hashes are md5 hex slices (20-bit
    lanes) so DuckDB reproduces every bit; the production variant would
    swap in xxhash64 exactly like the minhash twins."""
    d = load_tables(spark, sf_dir)["documents"]
    hashed = d.select(
        "doc_id",
        F.md5("text").alias("h"),
        (F.col("doc_id") % 5 == 4).alias("is_new"),
    )
    pos_cols = [
        (F.conv(F.substring("h", 1 + 5 * j, 5), 16, 10).cast("long") % _BLOOM_M)
        for j in range(_BLOOM_K)
    ]
    with_pos = hashed.select(
        "doc_id", "h", "is_new", F.explode(F.array(*pos_cols)).alias("pos")
    )
    bloom = (
        with_pos.where(~F.col("is_new"))
        .select((F.col("pos") / 32).cast("long").alias("wd"),
                F.expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))").alias("b"))
        .groupBy("wd")
        .agg(F.expr("bit_or(b)").alias("w"))
    )
    probed = (
        with_pos.where(F.col("is_new"))
        .join(F.broadcast(bloom), (F.col("pos") / 32).cast("long") == F.col("wd"), "left")
        .select(
            "doc_id",
            "h",
            F.when(
                F.expr("(coalesce(w, 0) >> cast(pos % 32 as int)) & 1") == 1, 1
            ).otherwise(0).alias("set_bit"),
        )
        .groupBy("doc_id", "h")
        .agg(F.min("set_bit").alias("all_set"))
    )
    hist_h = hashed.where(~F.col("is_new")).select("h").distinct()
    return probed.join(
        F.broadcast(hist_h.withColumnRenamed("h", "hh")),
        probed["h"] == F.col("hh"),
        "left",
    ).select(
        "doc_id",
        (F.col("all_set") == 1).alias("bloom_hit"),
        F.col("hh").isNotNull().alias("exact_dup"),
        ((F.col("all_set") == 1) & F.col("hh").isNull()).alias("false_positive"),
    )


# ---------------------------------------------------------------------------
# Star-schema broadcast join
# ---------------------------------------------------------------------------


@query(
    "join_star_schema",
    oracle="""
    SELECT r.r_name, p.p_brand,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                               + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
)
def join_star_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema fact-to-many-dims join: lineitem against FOUR
    dimensions (supplier → nation → region chain plus part), every one
    broadcast — the canonical data-warehouse topology where the only
    correct plan at 100 TB is "fact table never shuffles until the final
    aggregate".

    The plan test pins ZERO SortMergeJoin and ≥4 BroadcastHashJoin: the
    fact scan flows through four broadcast probes in ONE whole-stage
    codegen pipeline, then a single map-side-combined aggregate on the
    (region, brand) key (50 groups). part is the largest dim (0.2× the
    order count in TPC-H) — at real scale it exceeds the 10 MB default
    autoBroadcastJoinThreshold but comfortably fits executor memory as an
    explicit broadcast up to a few GB; past that you bucket part and
    lineitem on partkey (sink_bucketed_join shows that path). Revenue
    sums exact integer cents (a348790 pattern): bit-identical across
    engines and partitionings, no rounding-boundary risk."""
    t = load_tables(spark, sf_dir)
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    return (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("r_name", "p_brand")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(cents).cast("double") / 100).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-distinct aggregate (Expand plan)
# ---------------------------------------------------------------------------


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_custs,
           CAST(count(DISTINCT c.c_mktsegment) AS BIGINT) AS n_segments,
           CAST(count(DISTINCT CAST(o.o_orderdate AS DATE)) AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three COUNT(DISTINCT ...) over different keys in one aggregate —
    the shape Catalyst rewrites into an Expand (row multiplication by the
    number of distinct groups) plus a two-phase aggregate, instead of
    three self-joined single-distinct plans.

    Scale note: Expand triples the shuffled row count but keeps ONE
    exchange; the alternative (N separate aggregates + join) is N
    exchanges plus a join on the group key. For wide group cardinality
    the rewrite wins on network; when one distinct column dominates
    (billions of custkeys), you split that one out as approx_distinct or
    a bitmap (agg_bitmap_distinct shows the exact-bitmap path). The
    customer join is broadcast (dim side)."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.countDistinct(F.col("o_orderdate").cast("date")).alias("n_days"),
            F.count("*").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Event-path mining (session trigrams)
# ---------------------------------------------------------------------------

_SESS_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap
_PATH_TOPK = 20


@query(
    "events_path_topk",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN us - lag(us) OVER w > {_SESS_GAP_US}
                       OR lag(us) OVER w IS NULL
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS sid
      FROM flagged
    ), grams AS (
      SELECT event_type || '>' || lead(event_type, 1) OVER w2
               || '>' || lead(event_type, 2) OVER w2 AS path
      FROM sess WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY us, event_id)
    ), counted AS (
      SELECT path, CAST(count(*) AS BIGINT) AS n FROM grams
      WHERE path IS NOT NULL GROUP BY path
    )
    SELECT path, n FROM (
      SELECT path, n, row_number() OVER (ORDER BY n DESC, path) AS rk
      FROM counted
    ) WHERE rk <= {_PATH_TOPK}
    """,
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 behavioral paths: sessionize (30-min gap), slide a 3-gram
    window over each session's ordered event types, count paths globally,
    return the most frequent (ties broken lexicographically so the cut is
    deterministic).

    One shuffle on user_id serves BOTH windows (session assignment and
    the trigram lead()s — same partitioning, Catalyst reuses the sort),
    then one map-side-combined count on the path string and a
    TakeOrderedAndProject for the top-k (no global sort materialized).
    Path cardinality is |event_types|³ max — tiny — so the final agg
    never skews regardless of event volume."""
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_id", "event_type", F.expr("ts_ns div 1000").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = e.withColumn(
        "new_sess",
        F.when(
            (F.col("us") - F.lag("us").over(w) > _SESS_GAP_US)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn("sid", F.sum("new_sess").over(w))
    w2 = Window.partitionBy("user_id", "sid").orderBy("us", "event_id")
    grams = sess.select(
        F.concat_ws(
            ">",
            "event_type",
            F.lead("event_type", 1).over(w2),
            F.lead("event_type", 2).over(w2),
        ).alias("path"),
        F.lead("event_type", 2).over(w2).alias("third"),
    ).where(F.col("third").isNotNull())
    counted = grams.groupBy("path").agg(F.count("*").alias("n"))
    wr = Window.orderBy(F.col("n").desc(), "path")
    return (
        counted.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= _PATH_TOPK)
        .select("path", "n")
    )


# ---------------------------------------------------------------------------
# Gaps and islands
# ---------------------------------------------------------------------------


@query(
    "win_gap_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '2024-01-01',
                       CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS dd
      FROM events
    ), ranked AS (
      SELECT user_id, dd,
             dd - row_number() OVER (PARTITION BY user_id ORDER BY dd) AS grp
      FROM days
    )
    SELECT user_id,
           strftime(DATE '2024-01-01' + CAST(min(dd) AS INTEGER),
                    '%Y-%m-%d') AS start_day,
           strftime(DATE '2024-01-01' + CAST(max(dd) AS INTEGER),
                    '%Y-%m-%d') AS end_day,
           CAST(count(*) AS BIGINT) AS n_days
    FROM ranked GROUP BY user_id, grp
    """,
)
def win_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's active days into maximal
    runs of consecutive days (start, end, length) via the classic
    day-minus-row_number grouping key — the streak/uptime primitive.

    Day indexes are exact integers (datediff from a fixed epoch), so the
    island key is integer arithmetic on both engines. One shuffle on
    user_id (distinct + window share it), then a groupBy on
    (user_id, grp) that is map-side combinable; no joins. Island count
    per user is bounded by days-per-user, so no skew risk at any scale."""
    e = load_tables(spark, sf_dir)["events"]
    days = e.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "dd"
        ),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("dd")
    ranked = days.withColumn("grp", F.col("dd") - F.row_number().over(w))
    return ranked.groupBy("user_id", "grp").agg(
        F.date_format(
            F.date_add(F.lit("2024-01-01").cast("date"), F.min("dd").cast("int")),
            "yyyy-MM-dd",
        ).alias("start_day"),
        F.date_format(
            F.date_add(F.lit("2024-01-01").cast("date"), F.max("dd").cast("int")),
            "yyyy-MM-dd",
        ).alias("end_day"),
        F.count("*").alias("n_days"),
    ).drop("grp")


# ---------------------------------------------------------------------------
# Windowed funnel (windowFunnel shape)
# ---------------------------------------------------------------------------

_FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000  # 24 h from the first step


@query(
    "events_window_funnel",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), s1 AS (
      SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view'
      GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, s1.t1, min(e.us) AS t2
      FROM e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.us > s1.t1
        AND e.us <= s1.t1 + {_FUNNEL_WINDOW_US}
      GROUP BY e.user_id, s1.t1
    ), s3 AS (
      SELECT e.user_id, min(e.us) AS t3
      FROM e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.us > s2.t2
        AND e.us <= s2.t1 + {_FUNNEL_WINDOW_US}
      GROUP BY e.user_id
    )
    SELECT CAST(1 + CAST(s2.user_id IS NOT NULL AS INTEGER)
                  + CAST(s3.user_id IS NOT NULL AS INTEGER)
                AS BIGINT) AS level,
           CAST(count(*) AS BIGINT) AS n_users
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    GROUP BY 1
    """,
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-style windowFunnel: deepest view → click → purchase
    chain each user completes within 24 h of their FIRST view, reported
    as a level histogram (level 1 = view only, 3 = full funnel).

    Unlike events_funnel (unbounded ordered funnel), every later step
    must land inside the window anchored at t1 — the conversion-attribution
    semantics. Each stage is a groupBy-min plus one join against a
    frontier that only shrinks, so AQE broadcast-converts stages 2-3; all
    time arithmetic is integer microseconds (exact on both engines). The
    final histogram has ≤3 rows; skewed hot users stress only the stage-1
    map-side combine."""
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", F.expr("ts_ns div 1000").alias("us")
    )
    s1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where((F.col("us") > F.col("t1")) & (F.col("us") <= F.col("t1") + _FUNNEL_WINDOW_US))
        .groupBy("user_id", "t1")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where((F.col("us") > F.col("t2")) & (F.col("us") <= F.col("t1") + _FUNNEL_WINDOW_US))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    return (
        s1.join(s2.select("user_id", F.lit(1).alias("has2")), "user_id", "left")
        .join(s3.select("user_id", F.lit(1).alias("has3")), "user_id", "left")
        .select(
            (
                1
                + F.col("has2").isNotNull().cast("int")
                + F.col("has3").isNotNull().cast("int")
            )
            .cast("long")
            .alias("level")
        )
        .groupBy("level")
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Z-score anomaly detection over daily counts
# ---------------------------------------------------------------------------


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01',
                       CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS dd,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), winstats AS (
      SELECT event_type, dd, cnt,
             sum(cnt) OVER w AS s1, sum(cnt * cnt) OVER w AS s2,
             count(*) OVER w AS k
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY dd
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    ), vared AS (
      SELECT event_type, dd, cnt,
             CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / 7 AS dev,
             (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE) / 7) / 6 AS var
      FROM winstats WHERE k = 7
    )
    SELECT event_type, dd, cnt,
           CASE WHEN var > 0 THEN dev / sqrt(var) END AS z,
           COALESCE(abs(CASE WHEN var > 0 THEN dev / sqrt(var) END) >= 2.0,
                    FALSE) AS is_anomaly
    FROM vared
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly detection on daily event counts: each
    (event_type, day) is scored against the mean/stddev of the previous 7
    observed days — the pipeline-monitoring primitive that catches volume
    regressions in an ingest feed.

    Float discipline (§5.3): mean and variance are computed EXPLICITLY
    from integer window sums (Σx, Σx², both BIGINT) with a fixed
    expression tree — never from the engines' stddev_samp, whose internal
    accumulation order differs — so the resulting doubles are
    bit-identical across engines and partitionings with NO grid rounding.
    One shuffle on event_type (tiny), window over day-ordered rows;
    daily pre-aggregation means window input is |types|×|days| rows, not
    raw events. A degenerate trailing window (all 7 counts identical ⇒
    variance exactly 0) yields z = NULL / is_anomaly = false on BOTH
    engines — guarded explicitly because ANSI Spark raises on the
    division while DuckDB would emit inf (caught by the edge-events
    differential fixture, tests/test_edge_events.py)."""
    e = load_tables(spark, sf_dir)["events"]
    daily = (
        e.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("dd"),
        )
        .groupBy("event_type", "dd")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("dd").rowsBetween(-7, -1)
    stats = daily.select(
        "event_type",
        "dd",
        "cnt",
        F.sum("cnt").over(w).alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).alias("s2"),
        F.count("*").over(w).alias("k"),
    ).where(F.col("k") == 7)
    dev = F.col("cnt").cast("double") - F.col("s1").cast("double") / 7
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / 7
    ) / 6
    z = F.when(var > 0, dev / F.sqrt(var))
    return stats.select(
        "event_type",
        "dd",
        "cnt",
        z.alias("z"),
        F.coalesce(F.abs(z) >= 2.0, F.lit(False)).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy join
# ---------------------------------------------------------------------------


@query(
    "join_fuzzy_blocked",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    keyed AS (
      SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b, a.blk,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM keyed a JOIN keyed b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join with equality blocking: candidate pairs must share
    a cheap blocking key (the trailing noun token) BEFORE the expensive
    edit-distance verify runs — the entity-resolution topology that keeps
    a fuzzy join from going quadratic.

    At 100 TB this is the only viable shape: a naive θ-join on
    levenshtein is O(n²) with no pushdown, while blocking turns it into
    an equi-shuffle (hash-partitioned on the block key, each block
    verified independently) with per-block cost bounded by block size —
    skewed blocks get the same salting treatment as any hot join key
    (join_skew_salted). The verify predicate is evaluated post-join by
    codegen'd JVM levenshtein; pairs are canonicalized name_a < name_b so
    output is deterministic and half-sized."""
    p = load_tables(spark, sf_dir)["part"]
    keyed = p.select("p_name").distinct().select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("blk")
    )
    a = keyed.select(F.col("p_name").alias("name_a"), "blk")
    b = keyed.select(F.col("p_name").alias("name_b"), F.col("blk").alias("blk_b"))
    return (
        a.join(b, (F.col("blk") == F.col("blk_b")) & (F.col("name_a") < F.col("name_b")))
        .where(F.levenshtein("name_a", "name_b") <= 4)
        .select(
            "name_a",
            "name_b",
            "blk",
            F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------


@query(
    "events_rfm",
    oracle="""
    WITH mx AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx_us FROM events),
    base AS (
      SELECT user_id,
             CAST((mx.mx_us - max(epoch_us(CAST(ts AS TIMESTAMP))))
                  // 86400000000 AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS monetary_cents
      FROM events, mx GROUP BY user_id, mx.mx_us
    )
    SELECT user_id, recency_days, frequency,
           CAST(monetary_cents AS DOUBLE) / 100 AS monetary,
           CAST(ntile(4) OVER (ORDER BY recency_days, user_id) AS BIGINT) AS r,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) AS f,
           CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, user_id) AS BIGINT) AS m
    FROM base
    """,
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation: one
    pass over events builds the per-user base metrics (integer day
    recency against the corpus max, exact count, exact-cents monetary),
    then three ntile(4) windows assign quartile scores 1-4 (1 = best).

    Every ntile orders by (metric, user_id) — a TOTAL order, which is
    what makes ntile deterministic (win_percent_rank's rule). The base
    aggregate is map-side combined on user_id; the three global windows
    run over the per-user relation (|users| rows, not events), which is
    the part that survives scale — at 10⁹ users a single-partition
    global ntile would bottleneck, and the documented fix is
    range-partitioned rank arithmetic (rank-1 via ordered stats) rather
    than a different metric definition. The corpus max timestamp is a
    1-row broadcast."""
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", F.expr("ts_ns div 1000").alias("us"), "value"
    )
    mx = e.agg(F.max("us").alias("mx_us"))
    base = (
        e.groupBy("user_id")
        .agg(
            F.max("us").alias("last_us"),
            F.count("*").alias("frequency"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias(
                "monetary_cents"
            ),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.floor((F.col("mx_us") - F.col("last_us")) / 86_400_000_000).cast(
                "long"
            ).alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    wr = Window.orderBy("recency_days", "user_id")
    wf = Window.orderBy(F.col("frequency").desc(), "user_id")
    wm = Window.orderBy(F.col("monetary_cents").desc(), "user_id")
    return base.select(
        "user_id",
        "recency_days",
        "frequency",
        (F.col("monetary_cents").cast("double") / 100).alias("monetary"),
        F.ntile(4).over(wr).cast("long").alias("r"),
        F.ntile(4).over(wf).cast("long").alias("f"),
        F.ntile(4).over(wm).cast("long").alias("m"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

_CMS_W = 1024  # columns
_CMS_D = 4  # rows (md5 hex-slice hash family)


def _cms_cols_sql(col: str) -> list[str]:
    # four disjoint 7-hex-digit (28-bit) slices of md5, each mod w
    return [
        f"({_hex_slice_int_sql(col, 1 + 7 * j, 7)} % {_CMS_W})" for j in range(_CMS_D)
    ]


@query(
    "agg_count_min_sketch",
    oracle=f"""
    WITH tok AS (
      SELECT t.tok AS term FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      WHERE text <> '' AND t.tok <> ''
    ), tf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS exact_n, md5(term) AS h
      FROM tok GROUP BY term
    ), cells AS (
      SELECT g.j AS rw,
             CASE g.j {" ".join(f"WHEN {j} THEN {c}" for j, c in enumerate(_cms_cols_sql("h")))} END AS col,
             sum(exact_n) AS v
      FROM tf, unnest(range(0, {_CMS_D})) AS g(j)
      GROUP BY 1, 2
    ), probes AS (
      SELECT term, exact_n, h FROM (
        SELECT *, row_number() OVER (ORDER BY exact_n DESC, term) AS rk FROM tf
      ) WHERE rk <= 20
    ), est AS (
      SELECT p.term, p.exact_n, CAST(min(c.v) AS BIGINT) AS est_n
      FROM probes p, unnest(range(0, {_CMS_D})) AS g(j)
      JOIN cells c ON c.rw = g.j
       AND c.col = CASE g.j {" ".join(f"WHEN {j} THEN {c}" for j, c in enumerate(_cms_cols_sql("p.h")))} END
      GROUP BY 1, 2
    )
    SELECT term, exact_n, est_n, est_n - exact_n AS overcount FROM est
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch term-frequency estimation (Cormode & Muthu 2005):
    a d=4 × w=1024 counter grid — FIXED size regardless of corpus — built
    as a groupBy aggregate, probed for the top-20 exact terms, emitting
    est vs exact with the structural overcount column (CMS never
    undercounts: est ≥ exact by construction, asserted in the property
    suite and implied by the hash gate since the oracle derives the same
    cells).

    Scale shape: term counts pre-aggregate FIRST (vocab-sized, map-side
    combined), the sketch builds from (term, count) — 4 cells per
    DISTINCT term, not per occurrence — and collapses to ≤4096 cells
    that would broadcast anywhere. Hash family = md5 hex slices (28-bit
    lanes mod w), exactly reproducible in DuckDB; the production swap is
    xxhash64 like every hash twin in this repo."""
    d = load_tables(spark, sf_dir)["documents"]
    tf = (
        d.where(F.col("text") != "")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("exact_n"))
        .withColumn("h", F.md5("term"))
    )
    col_exprs = [
        (F.conv(F.substring("h", 1 + 7 * j, 7), 16, 10).cast("long") % _CMS_W)
        for j in range(_CMS_D)
    ]
    cells = (
        tf.select(
            "exact_n",
            F.posexplode(F.array(*col_exprs)).alias("rw", "col"),
        )
        .groupBy("rw", "col")
        .agg(F.sum("exact_n").alias("v"))
    )
    wtop = Window.orderBy(F.col("exact_n").desc(), "term")
    probes = (
        tf.withColumn("rk", F.row_number().over(wtop))
        .where(F.col("rk") <= 20)
        .select("term", "exact_n", F.posexplode(F.array(*col_exprs)).alias("rw", "col"))
    )
    return (
        probes.join(F.broadcast(cells), ["rw", "col"])
        .groupBy("term", "exact_n")
        .agg(F.min("v").cast("long").alias("est_n"))
        .select("term", "exact_n", "est_n", (F.col("est_n") - F.col("exact_n")).alias("overcount"))
    )


# ---------------------------------------------------------------------------
# Markov transition matrix
# ---------------------------------------------------------------------------


@query(
    "events_markov_transitions",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS to_type
      FROM e
    ), counted AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
    FROM counted
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    count (state → next state) transitions, normalize per from-state —
    the behavioral-model fit that feeds simulation and anomaly scoring.

    One shuffle on user_id for the lead() window, then a
    map-side-combined count into a |types|² relation; the probability is
    a ratio of identical integers computed over that tiny aggregate
    (window input is ≤25 rows), bit-identical across engines. At scale
    the user_id exchange is the only data-sized cost and AQE handles the
    hot-user skew the fixture deliberately carries."""
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", F.expr("ts_ns div 1000").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    counted = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n")
    )
    wf = Window.partitionBy("from_type")
    return counted.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wf)).alias("p"),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing (truncated, fixed-tree)
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_LAGS = 7  # truncation depth (weights below (1-a)^7 ≈ 0.08 dropped)


@query(
    "win_ewma",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01',
                       CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS dd,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, dd, cnt,
             {", ".join(f"lag(cnt, {j}) OVER w AS x{j}" for j in range(_EWMA_LAGS))},
             row_number() OVER w AS rn
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY dd)
    )
    SELECT event_type, dd, cnt,
           ({" + ".join(f"CAST(x{j} AS DOUBLE) * {_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j!r}" for j in range(_EWMA_LAGS))})
             / {sum(_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j for j in range(_EWMA_LAGS))!r}
             AS ewma
    FROM lagged WHERE rn > {_EWMA_LAGS - 1}
    """,
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event counts,
    truncated at 7 lags (dropped tail weight < 8%) — the smoothing
    primitive for dashboards and the anomaly detector's robust sibling.

    True EWMA is a recurrence (sequential dependency); the truncated form
    is a FIXED linear combination of 7 lag columns, which keeps it a pure
    window expression — parallel over (event_type) partitions, one
    exchange, and deterministic: the weights are compile-time constants
    and the summation tree is written identically in both engines
    (left-fold over j), so the doubles are bit-identical with integer
    lag inputs. Rows without a full lag window are excluded rather than
    renormalized (exactness over coverage; the renormalizing variant is
    a one-line weight-sum change)."""
    e = load_tables(spark, sf_dir)["events"]
    daily = (
        e.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("dd"),
        )
        .groupBy("event_type", "dd")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("dd")
    lagged = daily.select(
        "event_type",
        "dd",
        "cnt",
        *[F.lag("cnt", j).over(w).alias(f"x{j}") for j in range(_EWMA_LAGS)],
        F.row_number().over(w).alias("rn"),
    )
    num = F.col("x0").cast("double") * _EWMA_ALPHA
    for j in range(1, _EWMA_LAGS):
        num = num + F.col(f"x{j}").cast("double") * (
            _EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j
        )
    den = sum(_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j for j in range(_EWMA_LAGS))
    return lagged.where(F.col("rn") > _EWMA_LAGS - 1).select(
        "event_type", "dd", "cnt", (num / den).alias("ewma")
    )


# ---------------------------------------------------------------------------
# Welch two-sample t-test
# ---------------------------------------------------------------------------


@query(
    "events_ab_welch",
    oracle="""
    WITH g AS (
      SELECT
        CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_a,
        sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
          FILTER (WHERE event_type = 'purchase') AS s1a,
        sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
            * CAST(floor(value * 100 + 0.5) AS BIGINT))
          FILTER (WHERE event_type = 'purchase') AS s2a,
        CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_b,
        sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
          FILTER (WHERE event_type = 'click') AS s1b,
        sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
            * CAST(floor(value * 100 + 0.5) AS BIGINT))
          FILTER (WHERE event_type = 'click') AS s2b
      FROM events WHERE event_type IN ('purchase', 'click')
    ), stats AS (
      SELECT n_a, n_b,
        CASE WHEN n_a > 0 THEN CAST(s1a AS DOUBLE) / 100 / n_a END AS mean_a,
        CASE WHEN n_b > 0 THEN CAST(s1b AS DOUBLE) / 100 / n_b END AS mean_b,
        CASE WHEN n_a > 1 THEN
          (CAST(s2a AS DOUBLE) / 10000
            - (CAST(s1a AS DOUBLE) / 100) * (CAST(s1a AS DOUBLE) / 100) / n_a)
            / (n_a - 1) END AS va,
        CASE WHEN n_b > 1 THEN
          (CAST(s2b AS DOUBLE) / 10000
            - (CAST(s1b AS DOUBLE) / 100) * (CAST(s1b AS DOUBLE) / 100) / n_b)
            / (n_b - 1) END AS vb
      FROM g
    )
    SELECT n_a, n_b, mean_a, mean_b,
           CASE WHEN va / n_a + vb / n_b > 0 THEN
             (mean_a - mean_b) / sqrt(va / n_a + vb / n_b) END AS t_stat,
           CASE WHEN n_a > 1 AND n_b > 1 THEN
             CASE WHEN (va / n_a) * (va / n_a) / (n_a - 1)
                       + (vb / n_b) * (vb / n_b) / (n_b - 1) > 0 THEN
               (va / n_a + vb / n_b) * (va / n_a + vb / n_b)
                 / ((va / n_a) * (va / n_a) / (n_a - 1)
                    + (vb / n_b) * (vb / n_b) / (n_b - 1)) END END AS dof
    FROM stats
    """,
)
def events_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test comparing the value distributions of
    'purchase' vs 'click' events — the A/B-testing primitive run over the
    raw event stream, no sampling.

    Group moments come from EXACT integer-cents partials (Σ cents,
    Σ cents² as BIGINTs — map-side combinable, order-free at any
    partitioning); mean, Welch t, and the Welch–Satterthwaite dof are
    then fixed expression trees over those integers, so the output
    doubles are bit-identical across engines with NO rounding grid.
    ONE conditional aggregate produces both groups' moments in a single
    row (r03 advice: the previous groupBy→filter-twice→crossJoin shape
    read the same 2-row aggregate twice), and every division is guarded
    with F.when for the degenerate cases — n ≤ 1 (variance undefined),
    zero pooled variance (t undefined), zero Satterthwaite denominator —
    yielding NULL in BOTH engines instead of an ANSI divide error
    (mirrors the events_cuped / events_anomaly_zscore guards)."""
    e = load_tables(spark, sf_dir)["events"]
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    is_a = F.col("event_type") == "purchase"
    is_b = F.col("event_type") == "click"
    g = e.where(F.col("event_type").isin("purchase", "click")).agg(
        F.count(F.when(is_a, 1)).alias("n_a"),
        F.sum(F.when(is_a, cents)).alias("s1a"),
        F.sum(F.when(is_a, cents * cents)).alias("s2a"),
        F.count(F.when(is_b, 1)).alias("n_b"),
        F.sum(F.when(is_b, cents)).alias("s1b"),
        F.sum(F.when(is_b, cents * cents)).alias("s2b"),
    )

    def _mean(s1: str, n: str):
        return F.when(F.col(n) > 0, F.col(s1).cast("double") / 100 / F.col(n))

    def _var(s1: str, s2: str, n: str):
        return F.when(
            F.col(n) > 1,
            (
                F.col(s2).cast("double") / 10000
                - (F.col(s1).cast("double") / 100)
                * (F.col(s1).cast("double") / 100)
                / F.col(n)
            )
            / (F.col(n) - 1),
        )

    stats = g.select(
        "n_a",
        "n_b",
        _mean("s1a", "n_a").alias("mean_a"),
        _mean("s1b", "n_b").alias("mean_b"),
        _var("s1a", "s2a", "n_a").alias("va"),
        _var("s1b", "s2b", "n_b").alias("vb"),
    )
    sa = F.col("va") / F.col("n_a")
    sb = F.col("vb") / F.col("n_b")
    # nested whens: the outer n>1 guard makes (n-1) divisors non-zero
    # before the inner denominator expression is ever evaluated (CASE
    # branches evaluate lazily, so the guard also suppresses ANSI errors)
    welch_denom = sa * sa / (F.col("n_a") - 1) + sb * sb / (F.col("n_b") - 1)
    return stats.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        F.when(
            sa + sb > 0, (F.col("mean_a") - F.col("mean_b")) / F.sqrt(sa + sb)
        ).alias("t_stat"),
        F.when(
            (F.col("n_a") > 1) & (F.col("n_b") > 1),
            F.when(welch_denom > 0, (sa + sb) * (sa + sb) / welch_denom),
        ).alias("dof"),
    )


# ---------------------------------------------------------------------------
# Data-quality audit family
# ---------------------------------------------------------------------------


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE s.s_suppkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (the dbt-style `relationships` test,
    run as a query): orphan counts for every fact→dim foreign key, in one
    pass per key.

    Each check is a LEFT join counted with a conditional aggregate —
    Catalyst broadcasts the dim side (orders⋈customer, lineitem⋈part/
    supplier) so the fact table streams through probe-count without
    shuffling; the lineitem⋈orders pair is the one genuine large⋈large
    (sort-merge at scale), identical physics to cdc_snapshot_diff. A DQ
    gate at 100 TB must NOT materialize violations — counting inside the
    join avoids ever collecting orphan rows; sampled examples are a
    LIMIT-k follow-up query on demand."""
    t = load_tables(spark, sf_dir)

    def check(fact: DataFrame, fkey: str, dim: DataFrame, dkey: str, name: str,
              bcast: bool) -> DataFrame:
        d = F.broadcast(dim.select(dkey)) if bcast else dim.select(dkey)
        return (
            fact.select(fkey)
            .join(d, fact[fkey] == dim[dkey], "left")
            .agg(
                F.lit(name).alias("fk"),
                F.count("*").alias("n_rows"),
                F.count(F.when(F.col(dkey).isNull(), 1)).alias("n_orphans"),
            )
            .select("fk", "n_rows", "n_orphans")
        )

    return (
        check(t["lineitem"], "l_orderkey", t["orders"], "o_orderkey",
              "lineitem.l_orderkey->orders", False)
        .unionAll(check(t["lineitem"], "l_partkey", t["part"], "p_partkey",
                        "lineitem.l_partkey->part", True))
        .unionAll(check(t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey",
                        "lineitem.l_suppkey->supplier", True))
        .unionAll(check(t["orders"], "o_custkey", t["customer"], "c_custkey",
                        "orders.o_custkey->customer", True))
    )


@query(
    "dq_null_profile",
    oracle="""
    SELECT 'orders' AS tbl, col, CAST(n AS BIGINT) AS n,
           CAST(n_null AS BIGINT) AS n_null,
           CAST(n_distinct AS BIGINT) AS n_distinct
    FROM (
      SELECT 'o_orderstatus' AS col, count(*) AS n,
             count(*) - count(o_orderstatus) AS n_null,
             count(DISTINCT o_orderstatus) AS n_distinct FROM orders
      UNION ALL
      SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
             count(DISTINCT o_orderpriority) FROM orders
      UNION ALL
      SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
             count(DISTINCT o_custkey) FROM orders
      UNION ALL
      SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
             count(DISTINCT o_totalprice) FROM orders
    )
    """,
)
def dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling audit (null counts + distinct cardinality) for
    the orders table — the per-ingest data-quality report that catches a
    silently-nulled column before it poisons downstream joins.

    All four columns profile in ONE aggregate pass over one scan (Spark
    computes the count/count(col)/countDistinct set per column in a
    single Aggregate via Expand — contrast with running N profile
    queries = N scans at 100 TB); the result unpivots to the
    (table, column) report shape. Exact distinct is deliberate here
    (profiling wants truth); the approx_count_distinct twin is the
    dashboard variant."""
    o = load_tables(spark, sf_dir)["orders"]
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"]
    agg = o.agg(
        F.count("*").alias("n"),
        *[
            a
            for c in cols
            for a in (
                (F.count("*") - F.count(c)).alias(f"null_{c}"),
                F.countDistinct(c).alias(f"dist_{c}"),
            )
        ],
    )
    stack = ", ".join(f"'{c}', null_{c}, dist_{c}" for c in cols)
    return agg.select(
        F.lit("orders").alias("tbl"),
        F.expr(f"stack({len(cols)}, {stack}) AS (col, n_null, n_distinct)"),
        F.col("n"),
    ).select("tbl", "col", "n", F.col("n_null").cast("long").alias("n_null"),
             F.col("n_distinct").cast("long").alias("n_distinct"))


@query(
    "dq_accepted_values",
    oracle="""
    SELECT 'o_orderpriority in set' AS check_name,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(count(*) FILTER (WHERE o_orderpriority NOT IN
             ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'))
             AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus in set', CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P'))
             AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'l_discount in [0,1]', CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
             AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity > 0', CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE l_quantity <= 0) AS BIGINT)
    FROM lineitem
    """,
)
def dq_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accepted-values / range constraints (dbt `accepted_values` +
    bound checks) as conditional aggregates: domain membership for the
    categorical columns, range sanity for the numeric ones — violations
    are COUNTED scan-side, never materialized.

    Each check is count + count_if over one scan; the two orders checks
    share a scan, the two lineitem checks share a scan (Catalyst fuses
    conditional aggregates over the same source). At 100 TB this is the
    cheapest possible audit shape: no shuffle beyond the 1-row partials,
    and the NOT-IN lists are literals compiled into codegen, not a
    join."""
    t = load_tables(spark, sf_dir)
    o, li = t["orders"], t["lineitem"]

    def chk(df: DataFrame, name: str, viol) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count("*").alias("n_checked"),
            F.count(F.when(viol, 1)).alias("n_violations"),
        ).select("check_name", "n_checked", "n_violations")

    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        chk(o, "o_orderpriority in set", ~F.col("o_orderpriority").isin(prios))
        .unionAll(chk(o, "o_orderstatus in set",
                      ~F.col("o_orderstatus").isin("O", "F", "P")))
        .unionAll(chk(li, "l_discount in [0,1]",
                      (F.col("l_discount") < 0) | (F.col("l_discount") > 1)))
        .unionAll(chk(li, "l_quantity > 0", F.col("l_quantity") <= 0))
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance for a join
# ---------------------------------------------------------------------------


@query(
    "cdc_join_ivm",
    oracle="""
    SELECT c.c_mktsegment, o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100 AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def cdc_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view (the delta-join
    identity): with orders = A ∪ ΔA and customer = B ∪ ΔB, the refreshed
    view is computed as  A⋈B  ∪  ΔA⋈B  ∪  A⋈ΔB  ∪  ΔA⋈ΔB  — never by
    re-joining the full tables — and the oracle computes the PLAIN full
    join, so the hash gate proves the IVM identity end to end (the
    agg_incremental_view pattern, extended from aggregates to joins).

    The split is deterministic (orderkey % 20 / custkey % 10 model a 5% /
    10% incremental batch). Scale shape: the three delta terms join a
    SMALL delta against a big base — each ΔA/ΔB side is broadcast, so
    refresh cost is O(|Δ|·fanout) probe work instead of a full A⋈B
    shuffle; the stored-view term (A⋈B) is read from the materialization
    in production and only recomputed here because the fixture has no
    state store. Exact-cents revenue keeps the union-of-terms aggregate
    bit-identical to the monolithic plan at any partitioning."""
    t = load_tables(spark, sf_dir)
    o, c = t["orders"], t["customer"]
    A = o.where(F.col("o_orderkey") % 20 != 0)
    dA = o.where(F.col("o_orderkey") % 20 == 0)
    B = c.where(F.col("c_custkey") % 10 != 0)
    dB = c.where(F.col("c_custkey") % 10 == 0)
    on = F.col("o_custkey") == F.col("c_custkey")
    cols = ["c_mktsegment", "o_orderpriority", "o_totalprice"]
    view = (
        A.join(B, on).select(*cols)
        .unionAll(F.broadcast(dA).join(B, on).select(*cols))
        .unionAll(A.join(F.broadcast(dB), on).select(*cols))
        .unionAll(F.broadcast(dA).join(dB, on).select(*cols))
    )
    return view.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).cast(
                "double"
            )
            / 100
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Training shard assignment (size-balanced)
# ---------------------------------------------------------------------------

_N_SHARDS = 8


@query(
    "llm_shard_assignment",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents WHERE text <> ''
    ), ranked AS (
      SELECT doc_id, n_tokens,
             CAST((row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1)
                  % {_N_SHARDS} AS BIGINT) AS shard
      FROM sized
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
    FROM ranked GROUP BY shard
    """,
)
def llm_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced training-shard assignment: documents sort by token
    count (desc, doc_id tie-break) and deal round-robin into 8 shards —
    the longest-processing-time-first heuristic that bounds shard
    imbalance by the largest document, so no training worker stalls on a
    fat shard.

    Output is the per-shard manifest (doc count + token total) the
    training launcher reads. The global row_number is the honest scale
    caveat (single-partition window over |docs| rows of 16 bytes each —
    fine to ~10⁸ docs, then switch to range-partitioned ranking: compute
    per-partition counts, prefix-sum them on the driver, and offset local
    row_numbers — the same plan sort_multikey_nulls documents). The
    property suite asserts the balance guarantee: max shard minus min
    shard ≤ the largest document's tokens."""
    d = load_tables(spark, sf_dir)["documents"]
    sized = d.where(F.col("text") != "").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    w = Window.orderBy(F.col("n_tokens").desc(), "doc_id")
    ranked = sized.select(
        "doc_id",
        "n_tokens",
        ((F.row_number().over(w) - 1) % _N_SHARDS).cast("long").alias("shard"),
    )
    return ranked.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction
# ---------------------------------------------------------------------------


@query(
    "events_cuped",
    oracle="""
    WITH cut AS (
      SELECT CAST(epoch_us(CAST(min(ts) AS TIMESTAMP))
                  + 21 * 86400000000 AS BIGINT) AS cut_us
      FROM events
    ), per_user AS (
      SELECT user_id,
             CAST(count(*) FILTER (WHERE event_type = 'click'
                    AND epoch_us(CAST(ts AS TIMESTAMP)) < cut.cut_us)
                  AS BIGINT) AS x,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               FILTER (WHERE event_type = 'purchase'
                    AND epoch_us(CAST(ts AS TIMESTAMP)) >= cut.cut_us) AS yc
      FROM events, cut GROUP BY user_id, cut.cut_us
    ), b AS (
      SELECT user_id, x, COALESCE(yc, 0) AS yc FROM per_user
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(yc) AS BIGINT) AS sy,
             CAST(sum(x * yc) AS BIGINT) AS sxy,
             CAST(sum(yc * yc) AS BIGINT) AS syy
      FROM b
    ), derived AS (
      SELECT n,
             CAST(sy AS DOUBLE) / 100 / n AS mean_y,
             CAST(sxy AS DOUBLE) / 100 - CAST(sx AS DOUBLE)
               * (CAST(sy AS DOUBLE) / 100) / n AS cov,
             CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
               * CAST(sx AS DOUBLE) / n AS varx,
             CAST(syy AS DOUBLE) / 10000 - (CAST(sy AS DOUBLE) / 100)
               * (CAST(sy AS DOUBLE) / 100) / n AS vary
      FROM mom
    )
    SELECT n, mean_y,
           CASE WHEN varx > 0 THEN cov / varx END AS theta,
           CASE WHEN varx > 0 AND vary > 0
                THEN 1.0 - (cov * cov) / (varx * vary) END AS var_ratio
    FROM derived
    """,
)
def events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013): regress the
    experiment-period metric (purchase cents, days ≥21) on the
    pre-period covariate (click count, days <21) per user; emit θ =
    cov(x,y)/var(x) and the residual-variance ratio 1 − ρ² — the factor
    by which a CUPED-adjusted A/B test shrinks its confidence intervals
    for free.

    All five moments (Σx, Σx², Σy, Σxy, Σy²) are EXACT integer partials
    over one user-level aggregate (conditional sums split pre/post by an
    integer-µs cutoff), so θ and the ratio are fixed expression trees on
    exact integers — bit-identical across engines and partitionings with
    no rounding. The corpus-wide min(ts) anchor is a 1-row broadcast.
    One events scan, one user_id groupBy, one 1-row moment fold."""
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", F.expr("ts_ns div 1000").alias("us"), "value"
    )
    cut = e.agg(
        (F.min("us") + F.lit(21 * 86_400_000_000)).alias("cut_us")
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    b = (
        e.crossJoin(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            F.count(
                F.when((F.col("event_type") == "click") & (F.col("us") < F.col("cut_us")), 1)
            ).alias("x"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("event_type") == "purchase")
                        & (F.col("us") >= F.col("cut_us")),
                        cents,
                    )
                ),
                F.lit(0),
            ).alias("yc"),
        )
    )
    mom = b.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("yc").alias("sy"),
        F.sum(F.col("x") * F.col("yc")).alias("sxy"),
        F.sum(F.col("yc") * F.col("yc")).alias("syy"),
    )
    dn = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = F.col("sxy").cast("double") / 100 - sx * (sy / 100) / dn
    varx = F.col("sxx").cast("double") - sx * sx / dn
    vary = F.col("syy").cast("double") / 10000 - (sy / 100) * (sy / 100) / dn
    # degenerate-design guards (edge-events fixture): a zero-variance
    # covariate or metric yields NULL instead of an ANSI divide-by-zero
    return mom.select(
        "n",
        (sy / 100 / dn).alias("mean_y"),
        F.when(varx > 0, cov / varx).alias("theta"),
        F.when(
            (varx > 0) & (vary > 0), F.lit(1.0) - (cov * cov) / (varx * vary)
        ).alias("var_ratio"),
    )


# ---------------------------------------------------------------------------
# Grid-bucketed spatial join
# ---------------------------------------------------------------------------

_GEO_R = 2.0  # radius (same unit as the synthetic coordinate plane)


def _geo_points_sql() -> str:
    xs = _hex_slice_int_sql("h", 1, 7)
    ys = _hex_slice_int_sql("h", 8, 7)
    return f"""
      SELECT c_custkey AS id,
             ({xs} % 100000) / 1000.0 AS x,
             ({ys} % 100000) / 1000.0 AS y
      FROM (SELECT c_custkey, md5(CAST(c_custkey AS VARCHAR)) AS h FROM customer)
    """


@query(
    "join_spatial_grid",
    oracle=f"""
    WITH pts AS ({_geo_points_sql()}),
    cells AS (
      SELECT id, x, y,
             CAST(floor(x / {_GEO_R}) AS BIGINT) AS cx,
             CAST(floor(y / {_GEO_R}) AS BIGINT) AS cy
      FROM pts
    ),
    a9 AS (
      SELECT id, x, y, cx + dx.v AS ncx, cy + dy.v AS ncy
      FROM cells, unnest([-1, 0, 1]) AS dx(v), unnest([-1, 0, 1]) AS dy(v)
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)), 6) AS dist
    FROM a9 a JOIN cells b ON a.ncx = b.cx AND a.ncy = b.cy AND a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= {_GEO_R} * {_GEO_R}
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join via grid bucketing: points land in r-sized cells,
    candidate pairs come ONLY from a point's 3×3 cell neighborhood, and
    the exact distance predicate verifies within candidates — the
    spatial-join topology (geohash/S2-cell style) that replaces the
    O(n²) distance θ-join with an equi-shuffle on cell ids.

    Each qualifying pair is produced exactly once: the LEFT side explodes
    into its 9 neighbor cells while the RIGHT side sits in its home cell,
    and id_a < id_b canonicalizes. Cost = Σ over cells of
    |cell|·|neighborhood| — density-bounded, skew-guarded the same way
    as any hot join key. Coordinates are md5-derived synthetic points
    (the fixture carries no geo columns) — deterministic rationals, so
    the distance-squared threshold compare is bit-identical in both
    engines; the production swap is real lat/lon with a haversine verify
    (fn_trig_geo has the formula)."""
    c = load_tables(spark, sf_dir)["customer"]
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.md5(F.col("c_custkey").cast("string")).alias("h"),
    ).select(
        "id",
        ((F.conv(F.substring("h", 1, 7), 16, 10).cast("long") % 100000) / 1000.0).alias("x"),
        ((F.conv(F.substring("h", 8, 7), 16, 10).cast("long") % 100000) / 1000.0).alias("y"),
    )
    cells = pts.select(
        "id", "x", "y",
        F.floor(F.col("x") / _GEO_R).cast("long").alias("cx"),
        F.floor(F.col("y") / _GEO_R).cast("long").alias("cy"),
    )
    a9 = cells.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(F.expr("array(-1L, 0L, 1L)")).alias("dx"),
        "cx", "cy",
    ).select(
        "id_a", "xa", "ya",
        (F.col("cx") + F.col("dx")).alias("ncx"),
        F.explode(F.expr("array(-1L, 0L, 1L)")).alias("dy"),
        "cy",
    ).select(
        "id_a", "xa", "ya", "ncx", (F.col("cy") + F.col("dy")).alias("ncy")
    )
    b = cells.select(
        F.col("id").alias("id_b"), F.col("x").alias("xb"), F.col("y").alias("yb"),
        "cx", "cy",
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a9.join(
            b,
            (F.col("ncx") == F.col("cx"))
            & (F.col("ncy") == F.col("cy"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .where(d2 <= _GEO_R * _GEO_R)
        .select("id_a", "id_b", F.round(F.sqrt(d2), 6).alias("dist"))
    )


# ---------------------------------------------------------------------------
# End-to-end training-data pipeline composition
# ---------------------------------------------------------------------------


@query(
    "llm_pipeline_e2e",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, text, md5(text) AS h,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents WHERE text <> ''
    ), filtered AS (
      SELECT * FROM sized WHERE n_tokens >= 10 AND n_tokens <= 1000
    ), deduped AS (
      SELECT doc_id, n_tokens FROM (
        SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM filtered
      ) WHERE rn = 1
    ), sharded AS (
      SELECT doc_id, n_tokens,
             CAST((row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1)
                  % {_N_SHARDS} AS BIGINT) AS shard
      FROM deduped
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM sharded GROUP BY shard
    """,
)
def llm_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline as ONE lazy plan: length/
    quality filter → corpus-wide exact dedup (keep-first) → size-balanced
    shard assignment → per-shard manifest. The point being demonstrated:
    every stage of this engine composes as a DataFrame transformation, so
    the whole pipeline is a single Catalyst plan — the filter pushes into
    the scan, the dedup window and the manifest aggregate pipeline into
    three total exchanges, and NOTHING materializes between stages (no
    intermediate writes, no driver round-trips — contrast with a
    stage-per-job orchestration that pays a full write+read between every
    step).

    At 100 TB each stage keeps its individual scale shape (scan-pushed
    filter; 16-byte-key dedup shuffle; the shard ranking caveat and its
    range-partitioned fix documented on llm_shard_assignment) and the
    composition adds zero new shuffles beyond the stages' own. The
    oracle composes the same stages as CTEs."""
    d = load_tables(spark, sf_dir)["documents"]
    sized = d.where(F.col("text") != "").select(
        "doc_id",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    filtered = sized.where((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000))
    wdup = Window.partitionBy("h").orderBy("doc_id")
    deduped = (
        filtered.withColumn("rn", F.row_number().over(wdup))
        .where(F.col("rn") == 1)
        .select("doc_id", "n_tokens")
    )
    wshard = Window.orderBy(F.col("n_tokens").desc(), "doc_id")
    sharded = deduped.select(
        "doc_id",
        "n_tokens",
        ((F.row_number().over(wshard) - 1) % _N_SHARDS).cast("long").alias("shard"),
    )
    return sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# Join-key skew profiler + freshness monitor
# ---------------------------------------------------------------------------


@query(
    "dq_skew_profile",
    oracle="""
    WITH ek AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
    lk AS (SELECT l_orderkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
    es AS (
      SELECT 'events.user_id' AS key_col,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(max(cnt) AS BIGINT) AS max_rows,
             CAST(quantile_disc(cnt, 0.99) AS BIGINT) AS p99_rows,
             CAST(max(cnt) AS DOUBLE) * count(*) / sum(cnt) AS max_over_mean
      FROM ek
    ), ls AS (
      SELECT 'lineitem.l_orderkey',
             CAST(count(*) AS BIGINT), CAST(sum(cnt) AS BIGINT),
             CAST(max(cnt) AS BIGINT),
             CAST(quantile_disc(cnt, 0.99) AS BIGINT),
             CAST(max(cnt) AS DOUBLE) * count(*) / sum(cnt)
      FROM lk
    )
    SELECT * FROM es UNION ALL SELECT * FROM ls
    """,
)
def dq_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler — the pre-flight check before pointing a
    big shuffle at a key column: per-key row counts aggregate to
    (n_keys, n_rows, max, p99, max/mean ratio), the numbers that decide
    between a plain shuffle join, AQE skew splitting, and explicit
    salting (join_skew_salted documents the fix this report triggers).

    Two-level aggregate: the per-key count is map-side combined (the
    profile never shuffles raw rows, only one count per key), then the
    distribution summary is a second tiny aggregate. The exact p99 is
    a discrete quantile over per-key counts — |keys| values, not
    |rows|; max/mean is a ratio of exact integers. On the fixture the
    report correctly ranks lineitem.l_orderkey (max/mean ≈ 3.2, the
    1-to-7-line order fanout) hotter than events.user_id (≈ 1.3) —
    both verified by hash."""
    t = load_tables(spark, sf_dir)

    def profile(df: DataFrame, col: str, name: str) -> DataFrame:
        per_key = df.groupBy(F.col(col).alias("k")).agg(F.count("*").alias("cnt"))
        return per_key.agg(
            F.lit(name).alias("key_col"),
            F.count("*").alias("n_keys"),
            F.sum("cnt").alias("n_rows"),
            F.max("cnt").alias("max_rows"),
            F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt)")
            .cast("long")
            .alias("p99_rows"),
            (F.max("cnt").cast("double") * F.count("*") / F.sum("cnt")).alias(
                "max_over_mean"
            ),
        ).select("key_col", "n_keys", "n_rows", "max_rows", "p99_rows", "max_over_mean")

    return profile(t["events"], "user_id", "events.user_id").unionAll(
        profile(t["lineitem"], "l_orderkey", "lineitem.l_orderkey")
    )


@query(
    "dq_freshness",
    oracle="""
    WITH mx AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx_us FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_us,
           CAST((mx.mx_us - max(epoch_us(CAST(ts AS TIMESTAMP))))
                // 60000000 AS BIGINT) AS lag_minutes
    FROM events, mx GROUP BY event_type, mx.mx_us
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness monitor: each event type's latest event time
    and its lag behind the feed's global high-water mark, in integer
    minutes — the staleness alarm every ingest pipeline runs after each
    load.

    One scan, one map-side-combined max per type, one 1-row broadcast of
    the global max; lag arithmetic is integer microseconds (exact on
    both engines). At scale this runs against partition metadata (max
    within each partition's footer) rather than row scans where the
    layout allows — the layout_zorder/scan keys document that path."""
    e = load_tables(spark, sf_dir)["events"].select(
        "event_type", F.expr("ts_ns div 1000").alias("us")
    )
    mx = e.agg(F.max("us").alias("mx_us"))
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("event_type", "mx_us")
        .agg(F.count("*").alias("n_events"), F.max("us").alias("last_us"))
        .select(
            "event_type",
            "n_events",
            "last_us",
            F.floor((F.col("mx_us") - F.col("last_us")) / 60_000_000)
            .cast("long")
            .alias("lag_minutes"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution-drift monitor (PSI)
# ---------------------------------------------------------------------------


@query(
    "dq_distribution_drift",
    oracle="""
    WITH base AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01',
                       CAST(CAST(ts AS TIMESTAMP) AS DATE)) < 15 AS is_ref,
             CAST(floor(value / 25) AS BIGINT) AS bucket
      FROM events
    ), counts AS (
      SELECT event_type, bucket,
             count(*) FILTER (WHERE is_ref) AS n_ref_b,
             count(*) FILTER (WHERE NOT is_ref) AS n_cur_b
      FROM base GROUP BY 1, 2
    ), totals AS (
      SELECT event_type, sum(n_ref_b) AS n_ref, sum(n_cur_b) AS n_cur
      FROM counts GROUP BY 1
    ), terms AS (
      SELECT c.event_type, t.n_ref, t.n_cur,
             c.n_ref_b > 0 AND c.n_cur_b > 0 AS shared,
             CASE WHEN c.n_ref_b > 0 AND c.n_cur_b > 0 THEN
               (CAST(c.n_ref_b AS DOUBLE) / t.n_ref
                  - CAST(c.n_cur_b AS DOUBLE) / t.n_cur)
               * ln((CAST(c.n_ref_b AS DOUBLE) / t.n_ref)
                    / (CAST(c.n_cur_b AS DOUBLE) / t.n_cur))
             ELSE 0.0 END AS term
      FROM counts c JOIN totals t USING (event_type)
    )
    SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           CAST(count(*) FILTER (WHERE shared) AS BIGINT) AS n_shared,
           CAST(count(*) FILTER (WHERE NOT shared) AS BIGINT) AS n_onesided,
           round(sum(term), 6) AS psi,
           round(sum(term), 6) > 0.2 AS drifted
    FROM terms GROUP BY event_type, n_ref, n_cur
    """,
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: the value distribution
    of each event type in the CURRENT window (days ≥15) scored against
    the REFERENCE window (days <15) — PSI = Σ (p−q)·ln(p/q) over shared
    buckets, the standard ML-ops alarm for feature/label drift (>0.2 =
    investigate).

    One scan → (type, bucket, period) counts (map-side combined) → a
    per-type fold over ≤~10 bucket terms. p and q are ratios of exact
    integers; each term is a fixed expression tree; the per-type SUM
    spans a handful of doubles whose addition noise (~1e-17) sits eight
    orders below the 1e-6 output grid. Buckets present in only one
    period are counted separately (n_onesided) rather than
    epsilon-fudged — at 100 TB you alert on BOTH psi and one-sided
    bucket appearance (a brand-new bucket is drift by definition)."""
    e = load_tables(spark, sf_dir)["events"]
    base = e.select(
        "event_type",
        (
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            < 15
        ).alias("is_ref"),
        F.floor(F.col("value") / 25).cast("long").alias("bucket"),
    )
    counts = base.groupBy("event_type", "bucket").agg(
        F.count(F.when(F.col("is_ref"), 1)).alias("n_ref_b"),
        F.count(F.when(~F.col("is_ref"), 1)).alias("n_cur_b"),
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("n_ref_b").alias("n_ref"), F.sum("n_cur_b").alias("n_cur")
    )
    shared = (F.col("n_ref_b") > 0) & (F.col("n_cur_b") > 0)
    p = F.col("n_ref_b").cast("double") / F.col("n_ref")
    q = F.col("n_cur_b").cast("double") / F.col("n_cur")
    terms = counts.join(totals, "event_type").select(
        "event_type",
        "n_ref",
        "n_cur",
        shared.alias("shared"),
        F.when(shared, (p - q) * F.log(p / q)).otherwise(F.lit(0.0)).alias("term"),
    )
    return terms.groupBy("event_type", "n_ref", "n_cur").agg(
        F.count(F.when(F.col("shared"), 1)).alias("n_shared"),
        F.count(F.when(~F.col("shared"), 1)).alias("n_onesided"),
        F.round(F.sum("term"), 6).alias("psi"),
        (F.round(F.sum("term"), 6) > 0.2).alias("drifted"),
    )


@query(
    "sample_weighted_bernoulli",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE ((doc_id * 2654435761) % 1048576) * (SELECT max(n_chars) FROM documents)
          < n_chars * 1048576
    """,
)
def sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli (Poisson) sampling: each document is kept with
    probability proportional to its weight (n_chars / max_chars) — the
    size-proportional sampling a training-mix pipeline uses to bias
    toward long documents without a global sort or reservoir. Membership
    is a pure function of the key (Knuth multiplicative hash → 20-bit
    uniform, compared against the weight as an EXACT integer cross-
    product — no float ratio, so both engines agree bit-for-bit), which
    makes the sample reproducible across reruns, partitionings, and
    engines, unlike rand(). Plan shape: one scan + one broadcast scalar
    (the max weight) + a filter — zero shuffles of the data itself, so
    it runs at 100 TB as a map-only pass (the weight normalizer is the
    only aggregate, and it reduces to one row). The empty doc (weight 0)
    can never be selected — the u < w inequality is strict."""
    d = load_tables(spark, sf_dir)["documents"]
    mx = d.agg(F.max("n_chars").alias("mx"))
    u = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1048576))
    return (
        d.crossJoin(F.broadcast(mx))
        .where(u * F.col("mx") < F.col("n_chars") * F.lit(1048576))
        .select("doc_id", "source", "n_chars")
    )
