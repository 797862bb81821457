"""Scalar function surface (SURVEY.md §2.8): string / regex / date / math /
conditional / cast / hash / array / map / JSON.

All built-in ``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd;
no Python UDFs anywhere in this module (UDFs live in engine/udf.py as the
explicitly-slow path). Oracle-dialect hazards (dayofweek conventions,
bround ties, float32 promotion) are handled per SURVEY §5.3 and noted
inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.io import load_tables
from engine.llm_ext import _dbl, _norm2
from engine.registry import query


@query(
    "fn_string_basic",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS up, lower(p_brand) AS lo,
           trim('  ' || p_name || ' ') AS trimmed,
           length(p_name) AS len,
           substring(p_name, 1, 5) AS sub5,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
           concat_ws('-', p_brand, p_type) AS brand_type,
           array_to_string(string_split(p_name, ' '), '|') AS tokens,
           replace(p_name, ' ', '_') AS snake
    FROM part
    """,
)
def fn_string_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_tables(spark, sf_dir)["part"]
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.length("p_name").alias("len"),
        F.substring("p_name", 1, 5).alias("sub5"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        # array result serialized with array_join: the driver hashes final
        # cells via pandas, which cannot hash ndarray cells (r01 lesson) —
        # keep the split() logic, stringify only the projection.
        F.array_join(F.split("p_name", " "), "|").alias("tokens"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
    )


@query(
    "fn_string_regex",
    oracle="""
    SELECT p_partkey, p_name,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
           regexp_matches(p_type, '^(PROMO|SMALL)') AS is_promo_small,
           regexp_extract(p_brand, '([0-9]+)$', 1) AS brand_num
    FROM part
    """,
)
def fn_string_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family. Patterns kept to the Java∩RE2 common subset so both
    engines agree. NB DuckDB regexp_replace needs the 'g' flag to match
    Spark's replace-all semantics."""
    p = load_tables(spark, sf_dir)["part"]
    return p.select(
        "p_partkey",
        "p_name",
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("devoweled"),
        F.col("p_type").rlike("^(PROMO|SMALL)").alias("is_promo_small"),
        F.regexp_extract("p_brand", r"([0-9]+)$", 1).alias("brand_num"),
    )


@query(
    "fn_date_parts",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
           dayofweek(o_orderdate) + 1 AS dow,
           dayofyear(o_orderdate) AS doy,
           quarter(o_orderdate) AS q,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end
    FROM orders
    """,
)
def fn_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction. Convention trap: Spark dayofweek is 1=Sunday,
    DuckDB is 0=Sunday — oracle adds 1."""
    o = load_tables(spark, sf_dir)["orders"]
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.quarter("o_orderdate").alias("q"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
    )


@query(
    "fn_date_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)
             AS days_since_epoch0,
           o_orderdate + INTERVAL 3 MONTH AS plus3m,
           o_orderdate + INTERVAL 45 DAY  AS plus45d,
           CAST(epoch(o_orderdate) AS BIGINT) AS unix_sec
    FROM orders
    """,
)
def fn_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic. datediff arg order flips between engines; Spark
    add_months ≡ DuckDB + INTERVAL n MONTH (both clamp month-end).
    Type discipline (r01 lesson): DuckDB epoch() yields DOUBLE and
    date_diff yields BIGINT while Spark unix_timestamp is BIGINT and
    datediff is INT — both sides pin BIGINT so the driver value-hash
    (int-vs-float sensitive) agrees. Month/day offsets are emitted as
    timestamps, not DATE: Spark DATE cells reach the hash as
    datetime.date objects while DuckDB's .df() path yields datetime64 —
    never equal."""
    o = load_tables(spark, sf_dir)["orders"]
    return o.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp_ntz"))
        .cast("long")
        .alias("days_since_epoch0"),
        F.add_months("o_orderdate", 3).cast("timestamp_ntz").alias("plus3m"),
        F.date_add(F.col("o_orderdate").cast("date"), 45)
        .cast("timestamp_ntz")
        .alias("plus45d"),
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias("unix_sec"),
    )


@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1) AS r1,
           abs(l_discount - 0.05) AS adist,
           CAST(ceil(l_extendedprice) AS BIGINT)  AS c,
           CAST(floor(l_extendedprice) AS BIGINT) AS f,
           round(pow(l_quantity, 2), 6)  AS q2,
           round(sqrt(l_quantity), 6)    AS sq,
           round(ln(l_extendedprice), 6) AS lnp,
           round(exp(l_discount), 6)     AS ed,
           l_orderkey % 7 AS pm
    FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family. Spark ceil/floor return BIGINT (oracle casts); pmod ≡
    % for non-negative operands."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("r1"),
        F.abs(F.col("l_discount") - 0.05).alias("adist"),
        F.ceil("l_extendedprice").alias("c"),
        F.floor("l_extendedprice").alias("f"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("q2"),
        F.round(F.sqrt("l_quantity"), 6).alias("sq"),
        F.round(F.log("l_extendedprice"), 6).alias("lnp"),
        F.round(F.exp("l_discount"), 6).alias("ed"),
        F.pmod("l_orderkey", F.lit(7)).alias("pm"),
    )


@query(
    "fn_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS bucket,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_x,
           CASE WHEN nullif(o_orderstatus, 'P') IS NOT NULL
                THEN 'known' ELSE 'pending' END AS nvl2_like,
           greatest(o_totalprice, 50000.0) AS g,
           least(o_totalprice, 400000.0)   AS l
    FROM orders
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["orders"]
    return li.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
            "status_x"
        ),
        F.nvl2(
            F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("known"), F.lit("pending")
        ).alias("nvl2_like"),
        F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("g"),
        F.least(F.col("o_totalprice"), F.lit(400000.0)).alias("l"),
    )


@query(
    "fn_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS price_dec,
           CAST(CAST(trunc(o_totalprice) AS INT) AS DOUBLE) AS price_int_d,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate,
           CAST('42' AS INT) AS lit_int,
           CAST(o_custkey AS DOUBLE) AS cust_d
    FROM orders
    """,
)
def fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast lattice across int/double/string/date/decimal(12,2).

    The decimal lands as its canonical string ("1234.50", both engines
    render scale-2 decimals identically) because Decimal *objects* reach
    the driver's hash through different pandas conversions per engine
    (DuckDB .df() → float64, Spark toPandas → object) — r01 hash FAIL."""
    o = load_tables(spark, sf_dir)["orders"]
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("string").alias("price_dec"),
        F.col("o_totalprice").cast("int").cast("double").alias("price_int_d"),
        # date rendered ISO ("1995-06-14", identical in both engines) —
        # raw DATE cells hash as date-object vs datetime64 across engines
        F.col("o_orderdate").cast("date").cast("string").alias("odate"),
        F.lit("42").cast("int").alias("lit_int"),
        F.col("o_custkey").cast("double").alias("cust_d"),
    )


@query(
    "fn_hash",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS h_md5,
           sha256(c_name) AS h_sha256
    FROM customer
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-checkable hashes (md5, sha2-256) — the CDC fingerprint
    primitives."""
    c = load_tables(spark, sf_dir)["customer"]
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("h_md5"),
        F.sha2("c_name", 256).alias("h_sha256"),
    )


@query(
    "fn_hash_fast",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT c_name) AS BIGINT) AS n_distinct_xx,
           CAST(-5720403291101398215 AS BIGINT) AS known_xx,
           CAST(2854098466 AS BIGINT) AS known_crc,
           true AS stable
    FROM customer
    """,
)
def fn_hash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-fast hashes: xxhash64 (the scale choice for CDC fingerprints —
    8 bytes, ~10× md5 throughput) and crc32. DuckDB cannot recompute
    them per row, but r03 makes the key hash-checkable anyway via three
    independent claims the oracle CAN state: (1) known-answer vectors —
    xxhash64/crc32 of a fixed literal are algorithm constants (seed 42
    xxhash64 is specified; a platform or version drift breaks the
    literal match); (2) injectivity at corpus scale — the count of
    distinct xxhash64 values must equal the count of distinct inputs
    (a 64-bit collision among ~10⁴ names has probability ~1e-11, and
    one WOULD break the hash gate — the same audited-collision pattern
    as llm_substring_dedup); (3) determinism — hashing the same column
    twice must agree on every row, folded into `stable`. crc32 is
    exercised via its known vector only (32 bits collide too often for
    the injectivity claim to scale)."""
    c = load_tables(spark, sf_dir)["customer"]
    h = c.select(
        F.xxhash64("c_name").alias("h_xx"),
        F.xxhash64("c_name").alias("h_xx2"),
    )
    return h.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count_distinct("h_xx").cast("bigint").alias("n_distinct_xx"),
        F.first(F.xxhash64(F.lit("spark-graft"))).cast("bigint").alias("known_xx"),
        F.first(F.crc32(F.lit("spark-graft"))).cast("bigint").alias("known_crc"),
        (F.count(F.when(F.col("h_xx") == F.col("h_xx2"), 1)) == F.count("*")).alias(
            "stable"
        ),
    )


@query(
    "fn_array_basic",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(floor(CAST(embedding[1] AS DOUBLE) * 100000 + 0.5) AS BIGINT) AS e0,
           array_to_string(list_transform(list_slice(embedding, 1, 3),
                           x -> CAST(floor(CAST(x AS DOUBLE) * 100000 + 0.5) AS BIGINT)),
                           ',') AS head3,
           array_to_string(list_sort(list_distinct(list_transform(list_slice(embedding, 1, 4),
                           x -> CAST(x > 0 AS INT)))), ',') AS sign_set
    FROM embeddings
    """,
)
def fn_array_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size / element_at / slice / array_distinct / sort_array over the
    embedding vector column (float32 → cast to double before rounding,
    since DuckDB promotes list elements to double).

    Array cells are not driver-hashable (pandas ndarray, r01 crash), so
    the final projection serializes them: e0/head3 as integers at 1e-5
    resolution (integer strings render identically everywhere; raw
    double→string rendering does not — Java "1.0E-5" vs DuckDB "1e-05"),
    sign_set as a joined int list. The grid snap is floor(x*1e5 + 0.5),
    NOT round(): Spark round() is BigDecimal HALF_UP on the decimal
    repr, DuckDB round() is multiply-then-std::round on the binary
    double — they disagree near half-boundaries (first seen at sf10 in
    the r08 decade-up parity sweep; same class as the r07 sf1 finds).
    floor(x*s + 0.5) is the same IEEE op sequence on both engines. The
    array logic itself — slice/transform/distinct/sort — is unchanged
    underneath."""
    e = load_tables(spark, sf_dir)["embeddings"]
    snap5 = lambda x: F.floor(x.cast("double") * 100000 + F.lit(0.5)).cast("long")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        snap5(F.element_at("embedding", 1)).alias("e0"),
        F.array_join(
            F.transform(
                F.slice("embedding", 1, 3),
                lambda x: snap5(x).cast("string"),
            ),
            ",",
        ).alias("head3"),
        F.array_join(
            F.sort_array(
                F.array_distinct(
                    F.transform(F.slice("embedding", 1, 4), lambda x: (x > 0).cast("int"))
                )
            ).cast("array<string>"),
            ",",
        ).alias("sign_set"),
    )


@query(
    "fn_array_explode",
    oracle="""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token
          FROM documents WHERE text <> '')
    GROUP BY token
    """,
)
def fn_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode(split(text)) → token frequency. Generator runs inside
    codegen; no shuffle until the count."""
    d = load_tables(spark, sf_dir)["documents"]
    return (
        d.where(F.col("text") != "")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .count()
        .withColumnRenamed("count", "n")
    )


@query(
    "fn_array_posexplode",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text <> ''
    ), ex AS (
      SELECT doc_id, toks,
             generate_subscripts(toks, 1) AS i, unnest(toks) AS token
      FROM t
    )
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, token,
           toks[i] = token AS pos_ok
    FROM ex
    """,
)
def fn_array_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — token with position. DuckDB twin: generate_subscripts
    aligned with unnest (same SELECT expands in lockstep), 0-based via
    i-1. Self-check column on BOTH engines: element_at(tokens, pos+1) ==
    token must hold for every row."""
    d = load_tables(spark, sf_dir)["documents"]
    t = d.where(F.col("text") != "").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    ex = t.select("doc_id", "toks", F.posexplode("toks").alias("pos", "token"))
    return ex.select(
        "doc_id",
        "pos",
        "token",
        (F.element_at("toks", F.col("pos") + 1) == F.col("token")).alias("pos_ok"),
    )


@query(
    "fn_array_hof",
    oracle="""
    SELECT vec_id,
           floor(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * 10000 + 0.5)
               / 10000 AS norm2,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           floor(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                 * 10000 + 0.5) / 10000 AS esum
    FROM embeddings
    """,
)
def fn_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions: transform / filter / aggregate / zip_with.
    norm² computed as zip_with(e, e, *) then aggregate-fold — the building
    block of the cosine similarity ops (§2.10). All casts to double happen
    BEFORE the multiply so both engines do float64 math in the same order.

    The 4dp grid snap is floor(x*1e4 + 0.5)/1e4 — the SAME IEEE ops on
    the same double in both engines, so the result is bit-identical —
    NOT round(): Spark's round is exact-BigDecimal HALF_UP while
    DuckDB's is multiply-then-std::round, and the two disagree when a
    fold lands within one ulp of a half-boundary (esum -0.0001 vs -0.0
    at sf1, caught by the r07 full-registry sf1 parity sweep)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    dbl = _dbl("embedding")

    def snap4(col: F.Column) -> F.Column:
        return F.floor(col * 10000 + F.lit(0.5)).cast("double") / 10000

    return e.select(
        "vec_id",
        snap4(_norm2("embedding")).alias("norm2"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        snap4(F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x)).alias("esum"),
    )


@query(
    "fn_map_ops",
    oracle="""
    SELECT event_id,
           array_to_string(list_sort(json_keys(props)), ',') AS ks,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
           CAST(json_extract_string(props, '$.k') AS INT) * 2 AS k2
    FROM events
    """,
)
def fn_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-string → MapType → map_keys / element_at. The semi-structured
    path: parse once, then pure map ops. Key list serialized sorted+joined
    (map iteration order is engine-specific and array cells are not
    driver-hashable — r01 crash)."""
    ev = load_tables(spark, sf_dir)["events"]
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("ks"),
        F.element_at(m, "k").alias("k_val"),
        (F.element_at(m, "k") * 2).alias("k2"),
    )


@query(
    "fn_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INT) + user_id AS mixed
    FROM events
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path: parse_json once into a binary semi-structured
    value, then typed variant_get extraction — the scale answer to
    repeated get_json_object string re-parsing (parse cost paid once,
    shredded access thereafter)."""
    ev = load_tables(spark, sf_dir)["events"]
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        (F.variant_get(v, "$.k", "int") + F.col("user_id")).alias("mixed"),
    )


@query(
    "fn_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int
    FROM events
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object / from_json(struct) over events.props."""
    ev = load_tables(spark, sf_dir)["events"]
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.from_json("props", "k INT").getField("k").alias("k_int"),
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS and_mask,
           o_orderkey | 4096 AS or_mask,
           xor(o_orderkey, o_custkey) AS xor_keys,
           o_orderkey << 2 AS shl2,
           o_orderkey >> 3 AS shr3,
           CAST(bit_count(o_orderkey) AS INTEGER) AS popcnt
    FROM orders
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface: AND/OR/XOR masks, shifts, popcount — the building
    blocks the engine's own SimHash/LSH band extraction uses (see
    engine/similarity.py); exposed as a first-class key. All JVM codegen,
    per-row, no shuffle."""
    o = load_tables(spark, sf_dir)["orders"]
    return o.select(
        "o_orderkey",
        F.expr("o_orderkey & 255").alias("and_mask"),
        F.expr("o_orderkey | 4096").alias("or_mask"),
        F.expr("o_orderkey ^ o_custkey").alias("xor_keys"),
        F.expr("shiftleft(o_orderkey, 2)").alias("shl2"),
        F.expr("shiftright(o_orderkey, 3)").alias("shr3"),
        F.expr("cast(bit_count(o_orderkey) as int)").alias("popcnt"),
    )


@query(
    "fn_string_distance",
    oracle="""
    SELECT p_partkey, p_name,
           CAST(levenshtein(p_name, 'standard polished brass') AS INTEGER) AS dist_ref,
           CAST(levenshtein(p_brand, 'Brand#11') AS INTEGER) AS dist_brand
    FROM part WHERE p_size <= 10
    """,
)
def fn_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance surface (levenshtein) — the fuzzy-match primitive for
    name/title dedup when token-level methods are too coarse. Identical
    classic-DP semantics in Spark and DuckDB (hash-verified). At scale,
    never all-pairs: generate candidates by blocking (LSH, prefixes,
    length bands — see engine/similarity.py) and run edit distance only
    inside blocks."""
    p = load_tables(spark, sf_dir)["part"]
    return p.where(F.col("p_size") <= 10).select(
        "p_partkey",
        "p_name",
        F.levenshtein("p_name", F.lit("standard polished brass")).cast("int").alias("dist_ref"),
        F.levenshtein("p_brand", F.lit("Brand#11")).cast("int").alias("dist_brand"),
    )


@query(
    "fn_encode_decode",
    oracle="""
    SELECT p_partkey,
           to_base64(encode(p_brand)) AS b64,
           hex(encode(p_brand)) AS hx,
           CAST(octet_length(encode(p_name)) AS INTEGER) AS n_bytes
    FROM part WHERE p_size <= 5
    """,
)
def fn_encode_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encode surface: base64 / hex / byte length — the plumbing
    layer for the multimodal binary columns (engine/udf.py) where payloads
    travel as bytes and manifests carry encoded digests. ASCII fixture
    strings encode identically in UTF-8 on both engines."""
    p = load_tables(spark, sf_dir)["part"]
    b = F.col("p_brand").cast("binary")
    return p.where(F.col("p_size") <= 5).select(
        "p_partkey",
        F.base64(b).alias("b64"),
        F.upper(F.hex(b)).alias("hx"),
        F.octet_length("p_name").cast("int").alias("n_bytes"),
    )


@query(
    "fn_interval_arith",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 90 DAY AS due_date,
           o_orderdate - INTERVAL 1 MONTH AS month_before,
           o_orderdate + INTERVAL 36 HOUR AS grace_ts
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp ± INTERVAL arithmetic (day / month / sub-day units) — the
    complement of fn_date_arith's datediff/add_months surface. INTERVAL
    literals parse identically in Spark SQL and DuckDB; month arithmetic
    follows the same end-of-month clamping rules in both engines."""
    o = load_tables(spark, sf_dir)["orders"]
    return o.where(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        F.expr("o_orderdate + INTERVAL 90 DAY").alias("due_date"),
        F.expr("o_orderdate - INTERVAL 1 MONTH").alias("month_before"),
        F.expr("o_orderdate + INTERVAL 36 HOUR").alias("grace_ts"),
    )


@query(
    "fn_trig_geo",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey % 180) - 90 + 0.5 AS lat,
             ((c_custkey * 7) % 360) - 180 + 0.5 AS lon
      FROM customer
    )
    SELECT c_custkey, lat, lon,
           round(2 * 6371.0 * asin(sqrt(
             pow(sin(radians(48.85 - lat) / 2), 2) +
             cos(radians(lat)) * cos(radians(48.85)) *
             pow(sin(radians(2.35 - lon) / 2), 2)
           )), 6) AS dist_km
    FROM pts
    """,
)
def fn_trig_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometry surface via the haversine great-circle distance
    (sin/cos/asin/radians/pow/sqrt) to a fixed point, on lat/lon synthesized
    deterministically from the key. Both engines evaluate the same IEEE-754
    double pipeline through libm, so 6dp rounding hash-matches. Pure
    projection — codegen'd, no shuffle."""
    c = load_tables(spark, sf_dir)["customer"]
    lat = (F.col("c_custkey") % 180) - 90 + 0.5
    lon = ((F.col("c_custkey") * 7) % 360) - 180 + 0.5
    pts = c.select("c_custkey", lat.alias("lat"), lon.alias("lon"))
    hav = (
        F.pow(F.sin(F.radians(F.lit(48.85) - F.col("lat")) / 2), 2)
        + F.cos(F.radians("lat"))
        * F.cos(F.radians(F.lit(48.85)))
        * F.pow(F.sin(F.radians(F.lit(2.35) - F.col("lon")) / 2), 2)
    )
    return pts.select(
        "c_custkey",
        "lat",
        "lon",
        F.round(2 * 6371.0 * F.asin(F.sqrt(hav)), 6).alias("dist_km"),
    )


@query(
    "fn_url_parse",
    oracle="""
    WITH u AS (
      SELECT c_custkey,
             'https://' || lower(c_mktsegment) || '.example.com/u/'
               || c_custkey || '/profile?q=' || c_nationkey AS url
      FROM customer
    )
    SELECT c_custkey, url,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, 'q=([^&]+)', 1) AS q_param
    FROM u
    """,
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition via ``parse_url`` (HOST / PATH / QUERY-key) over
    deterministically synthesized URLs — the web-corpus provenance
    primitive (host-level dedup, domain filtering, CC-style URL keys all
    start here). The oracle mirrors with regexes, proving the built-in's
    semantics. Pure codegen'd projection, no shuffle at any scale."""
    c = load_tables(spark, sf_dir)["customer"]
    url = F.concat(
        F.lit("https://"),
        F.lower("c_mktsegment"),
        F.lit(".example.com/u/"),
        F.col("c_custkey").cast("string"),
        F.lit("/profile?q="),
        F.col("c_nationkey").cast("string"),
    )
    u = c.select("c_custkey", url.alias("url"))
    return u.select(
        "c_custkey",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("q")).alias("q_param"),
    )


@query(
    "fn_aes_roundtrip",
    oracle="""
    SELECT c_custkey,
           CAST((floor(length(c_name) / 16) + 1) * 16 AS BIGINT) AS ct_len,
           true AS roundtrip_ok
    FROM customer
    """,
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level tokenization: AES-ECB encrypt of a PII-ish column with
    a fixed key — deterministic (ECB, no IV), so equal plaintexts map to
    equal ciphertexts and the encrypted column still supports joins and
    groupBys (the classic governance trade-off, documented here on
    purpose; GCM mode would be semantically secure but nondeterministic).

    DuckDB ships no AES, so the oracle checks the two things it CAN derive
    arithmetically: PKCS#7 ciphertext length ((floor(len/16)+1)*16 — always
    one padding block, full block when len%16==0) and per-row roundtrip
    success (decrypt(encrypt(x)) == x must be universally true). The
    ciphertext bytes themselves stay engine-side but any padding/length
    deviation or decrypt failure flips a hashed column.
    JVM-side crypto — no Python crossing, scan-speed at scale."""
    c = load_tables(spark, sf_dir)["customer"]
    key = F.lit("0123456789abcdef")  # 16-byte demo key; injected config in prod
    enc = F.aes_encrypt(F.col("c_name").cast("binary"), key, F.lit("ECB"))
    dec = F.aes_decrypt(F.col("enc"), key, F.lit("ECB")).cast("string")
    return (
        c.select("c_custkey", "c_name", enc.alias("enc"))
        .select(
            "c_custkey",
            F.length("enc").cast("bigint").alias("ct_len"),
            (dec == F.col("c_name")).alias("roundtrip_ok"),
        )
    )


@query(
    "fn_try_arith",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0 THEN NULL
                ELSE CAST(floor(o_totalprice / (o_orderkey % 10) * 100 + 0.5)
                          AS BIGINT) END AS safe_div_cents,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE o_orderkey + 1 END AS guarded_add,
           try_cast(CASE WHEN o_orderkey % 2 = 0
                         THEN CAST(o_orderkey AS VARCHAR)
                         ELSE o_orderpriority END AS BIGINT) AS try_to_long
    FROM orders
    """,
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic under ANSI semantics (Spark 4 defaults to
    ANSI mode, where /0 and bad casts THROW): try_divide / try_add /
    try_cast return NULL instead — the operators any large-scale pipeline
    needs so one poison row cannot kill a 1000-executor job.

    Oracle note: DuckDB's / also errors on zero, so the oracle guards
    with CASE WHEN — which is exactly the semantics try_divide
    guarantees, making the twin an independent spelling of the same
    contract. The division output goes through the exact-cents floor so
    the hash never rides on float formatting; try_add is exercised via a
    deterministic NULL-guard twin (its overflow-to-NULL path needs
    literal LONG_MAX inputs, which the fixture lacks — the /0 and
    bad-cast paths are the ones hit by real data)."""
    o = load_tables(spark, sf_dir)["orders"]
    div = F.expr("try_divide(o_totalprice, o_orderkey % 10)")
    return o.select(
        "o_orderkey",
        F.floor(div * 100 + 0.5).cast("long").alias("safe_div_cents"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("try_add(o_orderkey, 1)"))
        .alias("guarded_add"),
        F.expr(
            "try_cast(CASE WHEN o_orderkey % 2 = 0"
            " THEN CAST(o_orderkey AS STRING)"
            " ELSE o_orderpriority END AS BIGINT)"
        ).alias("try_to_long"),
    )


@query(
    "fn_uuid_deterministic",
    oracle="""
    WITH m AS (
      SELECT o_orderkey, md5('ns:order:' || CAST(o_orderkey AS VARCHAR)) AS h
      FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT o_orderkey,
           substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-5' || substr(h, 14, 3)
           || '-' || substr('89ab', (ascii(substr(h, 17, 1)) % 4) + 1, 1)
           || substr(h, 18, 3) || '-' || substr(h, 21, 12) AS uuid
    FROM m
    """,
)
def fn_uuid_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic namespaced UUIDs (the RFC-4122 v5 SHAPE over md5):
    entity key + namespace → stable 36-char id with the version nibble
    pinned to 5 and the variant nibble folded into {8,9,a,b} — the
    CDC/entity-resolution pattern for minting stable surrogate keys that
    agree across engines, reruns, and backfills (unlike uuid(), which is
    nondeterministic and unjoinable). Pure per-row string ops — map-only
    at any scale. Output limited to every-100th order to keep the
    checked result compact."""
    o = load_tables(spark, sf_dir)["orders"].where(F.expr("o_orderkey % 100 = 0"))
    h = F.md5(F.concat(F.lit("ns:order:"), F.col("o_orderkey").cast("string")))
    m = o.select("o_orderkey", h.alias("h"))
    uuid = F.concat(
        F.substring("h", 1, 8), F.lit("-"),
        F.substring("h", 9, 4), F.lit("-5"),
        F.substring("h", 14, 3), F.lit("-"),
        F.substring(F.lit("89ab"), F.pmod(F.ascii(F.substring("h", 17, 1)), F.lit(4)) + 1, 1),
        F.substring("h", 18, 3), F.lit("-"),
        F.substring("h", 21, 12),
    )
    return m.select("o_orderkey", uuid.alias("uuid"))
