"""LLM-data-pipeline operators (SURVEY.md §2.10 + north-star additions):
dedup (exact + MinHash-LSH), text statistics/quality/language-ID, tf-idf,
keyword search, embedding normalization / centroids / similarity.

Scale doctrine: everything is expressed as explode → groupBy → join over
built-in functions (JVM-side); the only candidate-pair generation happens
INSIDE LSH buckets (never all-pairs); small sides (centroids, query sets,
keyword lists) broadcast. The naive O(n²) routes exist only where the
build side is provably tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.io import load_tables
from engine.llm_ext import _dbl, _dot, _label_centroids, _norm2
from engine.registry import query

# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@query(
    "llm_exact_dedup",
    oracle="""
    SELECT content_hash, count(*) AS n_docs, min(doc_id) AS keeper_doc
    FROM (SELECT doc_id, sha256(lower(trim(text))) AS content_hash FROM documents)
    GROUP BY content_hash
    """,
)
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash; keeper = min doc_id.
    Hash-groupBy is the 100 TB shape: the shuffle carries 32-byte digests,
    never document bodies."""
    d = load_tables(spark, sf_dir)["documents"]
    return (
        d.withColumn("content_hash", F.sha2(F.lower(F.trim("text")), 256))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc"))
    )


#: MinHash-LSH parameters: 32 hash functions in 16 bands of 2 rows.
#: Chosen (ADVICE r04) so the hash oracle's recall-1.0 assertion is
#: structurally near-certain rather than fixture-specific luck: at the
#: J >= 0.9 gate the per-pair banding-miss probability is
#: (1 - 0.9^2)^16 ≈ 3e-12 (vs 1.4% under the old 4 bands × 4 rows),
#: so even the sf0.1 fixture's 249 gate pairs collectively miss with
#: probability < 1e-9. Two-row bands admit more low-J candidates, but
#: every candidate is exact-Jaccard verified so the output is unchanged.
_N_HASHES = 32
_BAND_ROWS = 2


def _shingles(col: str = "text"):
    """Distinct 3-token shingles. expr() because slice() needs a dynamic
    start index (lambda var), which the Python DSL can't express."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(split({col}, ' ')) - 2, 1)),"
        f" i -> concat_ws(' ', slice(split({col}, ' '), i, 3))))"
    )


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, seed, minhash): seeded hash families via xxhash64(shingle, seed)
    — deterministic, no RNG (SURVEY §4)."""
    sh = docs.select(id_col, F.explode(_shingles()).alias("shingle"))
    seeded = sh.select(
        id_col,
        "shingle",
        F.explode(F.sequence(F.lit(0), F.lit(_N_HASHES - 1))).alias("seed"),
    )
    return seeded.groupBy(id_col, "seed").agg(
        F.min(F.xxhash64("shingle", "seed")).alias("mh")
    )


def lsh_band_buckets(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, band_sig): concatenate each band's r minhashes into one
    bucket key. Docs sharing any (band, band_sig) are candidates."""
    banded = sigs.withColumn("band", F.expr(f"seed div {_BAND_ROWS}"))
    return banded.groupBy(id_col, "band").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                    lambda s: s["mh"].cast("string"),
                ),
            )
        ).alias("band_sig")
    )


#: Jaccard threshold above which a verified candidate pair counts as a
#: near-duplicate (shared with the oracle's exhaustive-truth side).
#: 0.9, not 0.5 (ADVICE r04): the hash gate asserts banding recall
#: EXACTLY 1.0 against exhaustive truth, which is only a structural
#: property (not fixture luck) in a J regime where the banding inclusion
#: probability is ~1 — at J >= 0.9 with 16 bands × 2 rows a miss is a
#: ~3e-12 event per pair, while at J = 0.5 no affordable banding gets
#: close (214 four-row bands would be needed). Production pipelines that
#: want a looser threshold call near_dedup_minhash_pairs(d, tau=...)
#: directly (ADVICE r05: the parameter now exists) — but note the
#: miss probability (1 − tau²)¹⁶ grows fast below tau ≈ 0.9, so a lower
#: tau needs its banding re-derived; the gate regime is about what
#: equality-to-truth can honestly assert.
_NEAR_DUP_J = 0.9


def near_dedup_minhash_pairs(d: DataFrame, tau: float = _NEAR_DUP_J) -> DataFrame:
    """Banded-minhash near-dup candidate pairs over a ``documents``-shaped
    relation, exact-verified at shingle-Jaccard >= ``tau``.

    This is the reusable production path behind llm_near_dedup_minhash
    (which pins tau = _NEAR_DUP_J for the hash gate): shingle → xxhash64
    MinHash → banded LSH → per-bucket pairs → exact verification. The
    16 × 2 banding guarantees near-certain recall only for tau ≥ ~0.9;
    callers lowering tau should widen bands accordingly (s-curve:
    P(candidate) = 1 − (1 − J^rows)^bands)."""
    buckets = lsh_band_buckets(minhash_signatures(d))
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact shingle Jaccard (candidate set is tiny)
    sh = d.select("doc_id", _shingles().alias("sh"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .where(jac >= tau)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@query(
    "llm_near_dedup_minhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      WHERE text <> ''
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(ts) - 2, 1) + 1),
               i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS shs
      FROM toks
    ), ex AS (
      SELECT doc_id, unnest(shs) AS s FROM sh
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                 / len(list_distinct(a.shs || b.shs)), 6) AS jaccard
    FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
          / len(list_distinct(a.shs || b.shs)) >= {_NEAR_DUP_J}
    """,
)
def llm_near_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION near-dedup: shingle → xxhash64 MinHash (32 hashes) →
    banded LSH (16 bands × 2 rows) → per-bucket candidate pairs → exact
    shingle-Jaccard verification → verified pairs with J ≥ 0.9.

    The hash oracle (added per VERDICT r03 item 3 — this was the one key
    that could never produce a green driver row) is the EXHAUSTIVE truth:
    all pairs with exact Jaccard ≥ 0.9, candidates blocked on any shared
    shingle (J ≥ 0.9 implies a shared shingle, so blocking loses
    nothing). xxhash64 is JVM-only, so DuckDB cannot replay the banding —
    instead the gate checks the banding's OUTPUT against ground truth,
    which makes a hash-pass a measured recall = 1.0 assertion (found ⊆
    truth always holds because every emitted pair is exact-verified;
    equality fails only on a banding miss). The gate regime and banding
    were re-derived per ADVICE r04 so that assertion is STRUCTURAL, not
    fixture luck: at J ≥ 0.9 with 16 bands × 2 rows the per-pair miss
    probability is (1 − 0.9²)¹⁶ ≈ 3e-12 (the old 4×4 banding at J ≥ 0.5
    passed only because the fixtures' near-dups happen to sit at
    J ≥ 0.9 — at exactly J = 0.5 its inclusion probability is ~0.23).
    Measured: 27/27 (sf0.001), 25/25 (sf0.01), 249/249 (sf0.1).

    Scale shape: candidate generation is per-bucket (cost scales with
    bucket sizes, not n²) and only the banding path runs at 100 TB; the
    oracle's shared-shingle block is the sample-side eval harness, same
    doctrine as llm_banding_recall_report. At cluster scale add a salt
    to giant buckets before the self-join."""
    d = load_tables(spark, sf_dir)["documents"].where(F.col("text") != "")
    return near_dedup_minhash_pairs(d, tau=_NEAR_DUP_J)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "llm_text_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS mean_chars,
           CAST(sum(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
           CAST(sum(CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END)
                AS BIGINT) AS total_tokens
    FROM documents GROUP BY lang
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language (doc_id 0 is an empty doc — the
    fixture edge case; token count must treat it as 0, not 1).

    Oracle sums cast to BIGINT: DuckDB integer sum() yields HUGEINT,
    which pandas renders as float64 while Spark's LONG stays int64 —
    the r01 hash-mismatch mode."""
    d = load_tables(spark, sf_dir)["documents"]
    ntok = F.when(F.col("text") == "", 0).otherwise(F.size(F.split("text", " ")))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"),
        F.sum(F.when(F.col("text") == "", 1).otherwise(0)).alias("n_empty"),
        F.sum(ntok).alias("total_tokens"),
    )


@query(
    "llm_tf_top_terms",
    plan_cache=True,
    oracle="""
    SELECT lang, token, n, rn FROM (
      SELECT lang, token, count(*) AS n,
             row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS rn
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
            FROM documents WHERE text <> '')
      GROUP BY lang, token
    ) WHERE rn <= 10
    """,
)
def llm_tf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 terms per language by frequency (token tie-break)."""
    d = load_tables(spark, sf_dir)["documents"]
    tf = (
        d.where(F.col("text") != "")
        .select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "token")
    return tf.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 10)


@query(
    "llm_tfidf",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents WHERE text <> ''),
         tf   AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         df   AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
         n    AS (SELECT count(*) AS n FROM documents WHERE text <> '')
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    """,
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf: two aggregations + a broadcast join on the term dimension
    (vocabulary ≪ corpus, so df broadcasts even at 100 TB)."""
    d = load_tables(spark, sf_dir)["documents"].where(F.col("text") != "")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.select(F.count("*").alias("n"))
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )


@query(
    "llm_keyword_search",
    oracle="""
    SELECT doc_id, lang,
           CAST(len(regexp_extract_all(text, 'spark|data|hash')) AS INT) AS n_matches
    FROM documents
    WHERE len(regexp_extract_all(text, 'spark|data|hash')) > 0
    """,
)
def llm_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword/regex search ranked by match count (regexp_count)."""
    d = load_tables(spark, sf_dir)["documents"]
    n = F.regexp_count("text", F.lit("spark|data|hash"))
    return (
        d.select("doc_id", "lang", n.alias("n_matches"))
        .where(F.col("n_matches") > 0)
    )


@query(
    "llm_token_count",
    oracle="""
    SELECT doc_id,
           CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS bpe_ish_tokens,
           n_chars
    FROM documents
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace split + a BPE-ish regex segmentation
    (letters / digits / other runs) — the pre-tokenizer shape used for
    LLM corpus budgeting."""
    d = load_tables(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        F.when(F.col("text") == "", 0).otherwise(F.size(F.split("text", " "))).alias(
            "ws_tokens"
        ),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).alias("bpe_ish_tokens"),
        "n_chars",
    )


@query(
    "llm_quality_score",
    oracle="""
    SELECT doc_id, lang,
           floor(least(n_chars / 500.0, 1.0) * 1000000 + 0.5) / 1000000.0 AS len_score,
           floor((CASE WHEN text = '' THEN 0.0 ELSE
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) END) * 1000000 + 0.5) / 1000000.0 AS uniq_ratio,
           floor((CASE WHEN text = '' THEN 0.0 ELSE
             CAST(len(list_filter(string_split(text, ' '),
                       t -> t IN ('the', 'a', 'of'))) AS DOUBLE)
               / len(string_split(text, ' ')) END) * 1000000 + 0.5) / 1000000.0 AS stop_ratio,
           floor((0.5 * least(n_chars / 500.0, 1.0)
               + 0.3 * (CASE WHEN text = '' THEN 0.0 ELSE
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) END)
               + 0.2 * (1.0 - CASE WHEN text = '' THEN 1.0 ELSE
                   CAST(len(list_filter(string_split(text, ' '),
                             t -> t IN ('the', 'a', 'of'))) AS DOUBLE)
                     / len(string_split(text, ' ')) END)) * 1000000 + 0.5) / 1000000.0 AS quality
    FROM documents
    """,
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length, token-uniqueness and stopword
    ratios combined into one score — the classic pre-training filter.

    Cross-engine float discipline: the four reported ratios go through
    floor(x*1e6 + 0.5)/1e6, not round(x, 6) — Spark's HALF_UP decimal
    rounding and DuckDB's std::round diverge when a ratio lands within
    an ulp of a half-boundary (first hit at sf10, r08 parity sweep);
    the floor form is the same IEEE op sequence on both engines."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split("text", " ")
    ntok = F.size(toks).cast("double")
    empty = F.col("text") == ""
    len_score = F.least(F.col("n_chars") / 500.0, F.lit(1.0))
    uniq = F.when(empty, 0.0).otherwise(F.size(F.array_distinct(toks)) / ntok)
    stop = F.when(empty, 0.0).otherwise(
        F.size(F.filter(toks, lambda t: t.isin("the", "a", "of"))) / ntok
    )
    stop_for_quality = F.when(empty, 1.0).otherwise(
        F.size(F.filter(toks, lambda t: t.isin("the", "a", "of"))) / ntok
    )
    snap6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000.0
    return d.select(
        "doc_id",
        "lang",
        snap6(len_score).alias("len_score"),
        snap6(uniq).alias("uniq_ratio"),
        snap6(stop).alias("stop_ratio"),
        snap6(0.5 * len_score + 0.3 * uniq + 0.2 * (1.0 - stop_for_quality)).alias(
            "quality"
        ),
    )


@query(
    "llm_lang_id",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang, text, string_split_regex(text, '') AS cs
        FROM documents WHERE text <> ''
    ),
    pos AS (
        SELECT doc_id, lang, text, generate_subscripts(cs, 1) AS i FROM d
    ),
    bg AS (
        SELECT doc_id, lang, substring(text, CAST(i AS INT), 2) AS bg
        FROM pos WHERE i <= greatest(length(text) - 1, 1)
    ),
    prof AS (
        SELECT lang AS p_lang, bg
        FROM (SELECT lang, bg, count(*) AS n,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY count(*) DESC, bg) AS rn
              FROM bg GROUP BY lang, bg)
        WHERE rn <= 20
    ),
    docbg AS (SELECT DISTINCT doc_id, lang, bg FROM bg),
    scores AS (
        SELECT doc_id, lang, p_lang, CAST(count(*) AS BIGINT) AS score
        FROM docbg JOIN prof USING (bg)
        GROUP BY doc_id, lang, p_lang
    )
    SELECT doc_id, lang, p_lang AS pred_lang, score
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, p_lang) AS rn
          FROM scores)
    WHERE rn = 1
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by character-bigram profile.

    Fully hash-checked: profile building (top-20 bigrams per language,
    count-desc/bigram tie-break), per-doc distinct-bigram scoring, and the
    argmax with lang tie-break are all integer-deterministic, so the DuckDB
    twin reproduces every row exactly (substring is 1-based with identical
    out-of-range truncation in both engines).

    ONE bigram shuffle feeds everything: the raw stream aggregates to the
    compact per-(doc, lang, bigram) counted relation first; language
    profiles RE-aggregate that relation (partial sums of counts, not a
    second pass over the stream) and per-doc scoring uses its keys as the
    distinct-bigram set — the two branches share one exchange
    (ReusedExchange in the plan) instead of round 1's independent
    profile-agg + distinct over the full stream. The fixture's languages
    share one vocabulary, so accuracy is chance — the key tests the
    pipeline (profile build → broadcast score → argmax), which is the
    real LID shape at corpus scale."""
    d = load_tables(spark, sf_dir)["documents"].where(F.col("text") != "")
    bigrams = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, greatest(length(text)-1, 1)), i -> substring(text, i, 2))")
        ).alias("bg"),
    )
    per_doc = bigrams.groupBy("doc_id", "lang", "bg").agg(F.count("*").alias("c"))
    profiles = (
        per_doc.groupBy(F.col("lang").alias("p_lang"), "bg")
        .agg(F.sum("c").alias("n"))
        .withColumn("rn", F.row_number().over(Window.partitionBy("p_lang").orderBy(F.col("n").desc(), "bg")))
        .where(F.col("rn") <= 20)
        .select("p_lang", "bg")
    )
    doc_bg = per_doc.select("doc_id", "lang", "bg")
    scores = (
        doc_bg.join(F.broadcast(profiles), "bg")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(F.count("*").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "p_lang")
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("p_lang").alias("pred_lang"), "score")
    )


# ---------------------------------------------------------------------------
# embeddings
# ---------------------------------------------------------------------------


@query(
    "llm_embed_norm",
    oracle="""
    SELECT vec_id,
           array_to_string(list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) / sqrt(nsq) * 100000) AS BIGINT)),
             ',') AS unit
    FROM (SELECT vec_id, embedding,
                 list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
          FROM embeddings)
    WHERE nsq > 0
    """,
)
def llm_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embedding vectors with higher-order functions — pure
    JVM codegen, no Python crossing. float32 → double BEFORE any math
    (DuckDB promotes, so must we). The unit vector is serialized as
    comma-joined 1e-5-scaled integers: array cells crash the driver's
    hash, and double→string rendering differs between engines."""
    e = load_tables(spark, sf_dir)["embeddings"]
    norm = F.sqrt(_norm2())
    # zero-norm vectors carry no direction: excluded explicitly (mirrored
    # in the oracle) — under ANSI the division would otherwise raise
    # (caught by tests/test_edge_embeddings.py)
    return e.where(_norm2() > 0).select(
        "vec_id",
        F.array_join(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") / norm * 100000)
                .cast("long")
                .cast("string"),
            ),
            ",",
        ).alias("unit"),
    )


@query(
    "llm_centroids",
    plan_cache=True,
    oracle="""
    WITH ex AS (
      SELECT label, g.i AS pos, CAST(embedding[g.i] AS DOUBLE) AS val
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
    ), avgs AS (
      SELECT label, pos, CAST(round(avg(val) * 100000) AS BIGINT) AS a
      FROM ex GROUP BY label, pos
    )
    SELECT label, array_to_string(list(a ORDER BY pos), ',') AS centroid
    FROM avgs GROUP BY label
    """,
)
def llm_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid as ONE groupBy(label) with 64
    per-dimension avg aggregates — no row explosion, a single exchange
    of 10 partial rows per map task.

    r06 rework: the r01 shape (posexplode → (label, pos) avg → ordered
    re-collect) paid a 64× Generate blow-up (1.28M rows at sf1) plus
    TWO exchanges for a 10-group result; measured sf1 warm-min 0.62 s →
    0.47 s here, of which ~0.3 s is per-call SQL analysis and 0.14 s is
    execution (same hash at 3 scales × 2 partition counts — the 1e-5
    round absorbs partial-merge summation order exactly as it already
    did between engines). Requires spark.sql.codegen.maxFields ≥ 129
    (SESSION_CONF sets 256) or the wide aggregate silently drops out of
    whole-stage codegen and interprets 64 GetArrayItem+avg per row
    (measured: 1.33 s). The 100 TB shape is strictly better too:
    partial aggregation reduces each map task to |labels| rows × 64
    columns before the only shuffle, where the exploded form shuffled
    |labels| × 64 rows and still needed a second exchange. The column
    count is bounded by the fixture's fixed dim=64 (the oracle hardcodes
    1..64 the same way); for dim ≫ 10³ revert to the exploded form —
    codegen width, not shuffle volume, becomes the binding constraint.
    Centroid serialized as comma-joined 1e-5-scaled integers
    (driver-hashable)."""
    load_tables(spark, sf_dir)  # registers the `embeddings` temp view
    # Built as ONE SQL string parsed JVM-side: constructing the 64
    # aggregate Columns through the Python API costs ~1.1 s of py4j
    # round-trips + analysis PER CALL (measured r06: 1.4 s python-built
    # vs 0.47 s SQL-built vs 0.14 s re-executing a cached plan) — for a
    # wide-expression plan the string form is the fast path.
    dim_avgs = ", ".join(
        f"CAST(CAST(round(avg(CAST(embedding[{i}] AS DOUBLE)) * 100000)"
        f" AS BIGINT) AS STRING) AS _a{i}"
        for i in range(64)
    )
    cols = ", ".join(f"_a{i}" for i in range(64))
    return spark.sql(
        f"SELECT label, concat_ws(',', {cols}) AS centroid"
        f" FROM (SELECT label, {dim_avgs} FROM embeddings GROUP BY label)"
    )


@query(
    "llm_cosine_topk",
    oracle="""
    WITH ex AS (
        SELECT label, generate_subscripts(embedding, 1) AS i,
               unnest(embedding) AS v
        FROM embeddings
    ),
    p AS (SELECT label, i AS pos, avg(CAST(v AS DOUBLE)) AS a
          FROM ex GROUP BY label, i),
    cents AS (SELECT label AS c_label, list(a ORDER BY pos) AS centroid
              FROM p GROUP BY label),
    scored AS (
        SELECT e.vec_id, e.label, c.c_label,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(c.centroid, c.centroid))) AS cos
        FROM embeddings e CROSS JOIN cents c
        WHERE list_dot_product(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])) > 0
    )
    SELECT vec_id, label, c_label AS nearest_label, true AS cos_in_range
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC, c_label) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest centroid per vector by cosine. Brute force against a
    BROADCAST small side (10 centroids) — the baseline ANN path; the
    LSH-bucketed variant is llm_ann_lsh.

    Hash-checked via the argmax, not the float: the oracle recomputes
    centroids and cosines in DuckDB (list_dot_product over DOUBLE[]) and
    both engines emit only the integer argmax per vector. Last-ulp
    summation differences cannot flip it — the measured top1-top2 cosine
    margin on the fixture is ≥1e-4, orders of magnitude above fp noise.
    The raw cosine stays engine-side, range-asserted into cos_in_range."""
    e = load_tables(spark, sf_dir)["embeddings"]
    # unrounded centroids over ALL rows (llm_centroids rounds for its oracle)
    cents = _label_centroids(e)
    dot = _dot(_dbl("embedding"), F.col("centroid"))
    cnorm = F.sqrt(_dot("centroid", "centroid"))
    # zero-norm vectors excluded on both sides (no direction — the
    # division would raise under ANSI; tests/test_edge_embeddings.py)
    scored = (
        e.where(_norm2() > 0)
        .crossJoin(F.broadcast(cents))
        .withColumn("cos", dot / (F.sqrt(_norm2()) * cnorm))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "c_label")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "label",
            F.col("c_label").alias("nearest_label"),
            ((F.col("cos") <= 1.000001) & (F.col("cos") >= -1.000001)).alias("cos_in_range"),
        )
    )


@query(
    "llm_multimodal_project",
    oracle="""
    SELECT d.doc_id,
           to_json(struct_pack(lang := d.lang, n_chars := d.n_chars)) AS meta,
           round(CAST(e.embedding[1] AS DOUBLE), 5) AS e0
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.lang = 'en'
    """,
)
def llm_multimodal_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row shape: typed metadata struct + vector payload in one
    row; project/filter through nested fields. Binary media columns follow
    the same pattern (see engine/udf.py::udf_multimodal_decode). The meta
    struct is built as a real nested type, then serialized to_json at the
    terminal projection (struct cells are not driver-hashable; both
    engines render compact {"lang":...,"n_chars":...})."""
    t = load_tables(spark, sf_dir)
    j = t["documents"].join(
        t["embeddings"], F.col("doc_id") == F.col("vec_id")
    ).where(F.col("lang") == "en")
    return j.select(
        "doc_id",
        F.to_json(F.struct(F.col("lang"), F.col("n_chars"))).alias("meta"),
        F.round(F.element_at("embedding", 1).cast("double"), 5).alias("e0"),
    )


@query(
    "llm_doc_fingerprint",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(text) - 7),
                            i -> md5(substr(text, i, 8))) AS grams
      FROM documents WHERE len(text) >= 11
    )
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             generate_series(1, len(grams) - 3),
             j -> list_min(grams[j:j+3])))) AS fp
    FROM g
    """,
)
def llm_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer et al., SIGMOD'03 —
    the MOSS algorithm): hash every k=8-char gram, slide a w=4 window over
    the gram-hash sequence, keep each window's minimum → a sparse,
    position-robust fingerprint set per document. Two docs sharing any fp
    share a ≥ 8-char substring; matching on fps is how plagiarism /
    contamination detection scales to corpus size (join on fp, never
    doc × doc).

    All-declarative: per-row array exprs (sequence → transform → slice →
    array_min), zero shuffles until the caller aggregates — each doc's
    fingerprints compute where the doc lives. The gram hash is md5 so the
    oracle matches verbatim; a production variant would swap in a true
    rolling (polynomial) hash via mapInPandas to go O(len) instead of
    O(len·k), same output contract."""
    d = load_tables(spark, sf_dir)["documents"].where(F.length("text") >= 11)
    return winnow_fingerprints(d, id_col="doc_id", text_col="text")


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Winnowing core (k=8-char grams, w=4 windows): (id, fp) rows, one per
    distinct window-minimum gram hash. Guarantee (Schleimer et al. thm 1):
    any two texts sharing a substring of length ≥ k+w-1 = 11 share ≥1 fp —
    property-tested in tests/test_similarity_properties.py. Input rows must
    have length(text_col) ≥ 11."""
    g = df.withColumn(
        "grams",
        F.expr(
            f"transform(sequence(1, length({text_col}) - 7),"
            f" i -> md5(substring({text_col}, i, 8)))"
        ),
    )
    return g.select(
        id_col,
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(grams) - 3),"
                    " j -> array_min(slice(grams, j, 4)))"
                )
            )
        ).alias("fp"),
    )


@query(
    "llm_pii_scrub",
    plan_cache=True,
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) ||
             '@example.com or call 555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(raw,
             '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(raw,
             '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones
    FROM seeded
    """,
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction for training corpora: regex-chain scrub of emails and
    phone-shaped tokens, plus per-doc redaction counts for audit. The
    fixture text is synthetic word soup with no real PII, so deterministic
    synthetic PII (derived from doc_id, identically on both engines) is
    injected first — the scrub is then verifiably REAL: every seeded email
    and phone must come back redacted, hash-matched against DuckDB.
    Per-row JVM regex, no shuffle; patterns stick to character classes
    valid in both Java regex and RE2. At 100 TB this runs at scan speed;
    extend the chain with locale-specific patterns the same way."""
    d = load_tables(spark, sf_dir)["documents"]
    email = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone = r"[0-9]{3}-[0-9]{4}"
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    seeded = d.select("doc_id", raw.alias("raw"))
    return seeded.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("scrubbed"),
        F.regexp_count(F.col("raw"), F.lit(email)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("raw"), F.lit(phone)).cast("int").alias("n_phones"),
    )


@query(
    "llm_minhash_verified",
    plan_cache=True,
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      FROM toks, unnest(range(1, len(ts) - 1)) AS u(i)
    ), shh AS (
      SELECT doc_id, md5(shingle || '#a') AS ha, md5(shingle || '#b') AS hb
      FROM sh
    ), mh AS (
      SELECT doc_id,
             min(substring(ha, 1, 8))  AS h0, min(substring(ha, 9, 8))  AS h1,
             min(substring(ha, 17, 8)) AS h2, min(substring(ha, 25, 8)) AS h3,
             min(substring(hb, 1, 8))  AS h4, min(substring(hb, 9, 8))  AS h5,
             min(substring(hb, 17, 8)) AS h6, min(substring(hb, 25, 8)) AS h7
      FROM shh GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band, h0 || h1 AS sig FROM mh
      UNION ALL SELECT doc_id, 1, h2 || h3 FROM mh
      UNION ALL SELECT doc_id, 2, h4 || h5 FROM mh
      UNION ALL SELECT doc_id, 3, h6 || h7 FROM mh
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def llm_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-VERIFIED MinHash-LSH: md5 hash family (8 permutation
    proxies = two seeded digests BIT-SLICED into four 32-bit lanes each,
    4 bands × 2 rows), so the full shingle → signature → band →
    candidate-pair pipeline hash-matches DuckDB bit for bit — the only
    non-deterministic-looking stage of the dedup family made auditable.
    Bit-slicing cuts md5 evaluations 4× vs one digest per lane (the
    round-1 design): a 128-bit digest IS four independent 32-bit hashes,
    and the min is taken per-lane AFTER slicing, so each lane remains a
    valid minhash. The production twin (llm_near_dedup_minhash) runs the
    same shape on xxhash64, ~10× faster per hash but JVM-only.

    Measured banding recall (sf0.1, 4 bands × 2 rows): 256/256 = 1.000
    of true Jaccard ≥ 0.5 pairs found, at 760 candidates — the fixture's
    high-J pairs are dominated by exact duplicates (J = 1 collides on
    every band by construction); the theoretical floor at exactly
    J = 0.5 is 1−(1−0.5²)⁴ ≈ 0.68, the dial being rows-per-band (down)
    or bands (up) as the near-dup threshold tightens.

    r03 physical rework: the signature stage EXPLODES distinct shingles
    and computes the 8 lane minima as grouped MIN aggregates instead of
    12 higher-order transform passes over per-doc arrays — HOF lambdas
    evaluate interpreted (outside whole-stage codegen), while
    explode → md5 → substring → partial-MIN is all codegen with map-side
    combine; measured 2.57 → 1.42 s at sf0.1, bit-identical output. The
    added doc_id shuffle carries 8×8-byte partial minima per doc (the
    combine collapses shingles executor-side), which is also the right
    trade at 100 TB. The band self-join is per-bucket, never n²."""
    d = load_tables(spark, sf_dir)["documents"]
    ts = F.split("text", " ")
    docs = d.select("doc_id", ts.alias("ts")).where(F.size("ts") >= 3)
    sh = F.array_distinct(
        F.expr(
            "transform(sequence(1, size(ts) - 2),"
            " i -> concat_ws(' ', ts[i-1], ts[i], ts[i+1]))"
        )
    )
    ex = docs.select("doc_id", F.explode(sh).alias("s")).select(
        "doc_id",
        F.md5(F.concat(F.col("s"), F.lit("#a"))).alias("ha"),
        F.md5(F.concat(F.col("s"), F.lit("#b"))).alias("hb"),
    )
    mins = [
        F.min(F.substring(c, 1 + 8 * j, 8)).alias(f"h{4 * k + j}")
        for k, c in enumerate(("ha", "hb"))
        for j in range(4)
    ]
    mh = ex.groupBy("doc_id").agg(*mins)
    bands = mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")).alias("sig"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


@query(
    "llm_embedding_quantize",
    oracle="""
    WITH t AS (
      SELECT vec_id, embedding,
             list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS emn,
             list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS emx
      FROM embeddings
    )
    SELECT vec_id, round(emn, 6) AS mn, round(emx, 6) AS mx,
           array_to_string(list_transform(embedding,
             x -> CASE WHEN emx > emn
                  THEN CAST(round((CAST(x AS DOUBLE) - emn) / (emx - emn) * 255,
                            0) AS INTEGER)
                  ELSE 0 END), ',') AS q
    FROM t
    """,
)
def llm_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 (0..255) quantization — the storage op that makes a
    100 TB float32 embedding table a 25 TB int8 one: each vector stores
    its own (min, max) scale and 1-byte codes; dequantization is
    mn + q/255*(mx-mn), with bounded error (mx-mn)/510 per dimension —
    accurate enough for ANN candidate generation, with exact re-ranking on
    the float originals of the shortlist only. All per-row array
    expressions (whole-stage codegen, no shuffle); quantized codes
    hash-match DuckDB exactly because both engines run the identical
    float64 arithmetic on the same float32 inputs."""
    e = load_tables(spark, sf_dir)["embeddings"]
    d = F.expr("transform(embedding, x -> cast(x as double))")
    t = e.select(
        "vec_id",
        "embedding",
        F.array_min(d).alias("emn"),
        F.array_max(d).alias("emx"),
    )
    return t.select(
        "vec_id",
        F.round("emn", 6).alias("mn"),
        F.round("emx", 6).alias("mx"),
        # degenerate range (constant vector): every code 0, dequant = mn
        # (mirrored in the oracle; ANSI would raise on the 0/0 otherwise)
        F.expr(
            "array_join(transform(embedding, x -> cast(if(emx > emn,"
            " cast(round((cast(x as double) - emn) / (emx - emn) * 255, 0)"
            " as int), 0) as string)), ',')"
        ).alias("q"),
    )


@query(
    "llm_contamination_check",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(text) - 7),
                            i -> md5(substr(text, i, 8))) AS grams
      FROM documents WHERE len(text) >= 11
    ), fp AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(grams) - 3),
               j -> list_min(grams[j:j+3])))) AS fp
      FROM g
    ), rare AS (
      SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 10
    ), f2 AS (
      SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp)
    )
    SELECT t.doc_id AS train_id, b.doc_id AS bench_id, count(*) AS n_shared
    FROM f2 t JOIN f2 b ON t.fp = b.fp AND t.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def llm_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION — distinct from dedup: find training docs
    that share winnowing fingerprints with a held-out benchmark set (here
    the deterministic 2% slice doc_id % 50 = 0), so evaluation data can be
    scrubbed from the training corpus. Matching is fp-key joins, never
    doc × doc; ubiquitous fingerprints are dropped by a df-ceiling
    (doc-frequency ≤ 10 — the same skew guard as llm_ngram_jaccard: a
    boilerplate gram shared by everything is evidence of nothing and
    would go quadratic); ≥ 2 shared rare fingerprints ⇒ a flagged pair.
    At 100 TB: fingerprints are precomputed once (llm_doc_fingerprint's
    layout), the benchmark side is tiny and BROADCAST, so the check is
    one map-side join over the corpus fingerprints."""
    d = load_tables(spark, sf_dir)["documents"].where(F.length("text") >= 11)
    fp = winnow_fingerprints(d, id_col="doc_id", text_col="text")
    rare = fp.groupBy("fp").count().where(F.col("count") <= 10).select("fp")
    f2 = fp.join(rare, "fp")
    train = f2.where(F.col("doc_id") % 50 != 0).select(
        F.col("doc_id").alias("train_id"), "fp"
    )
    bench = f2.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "fp"
    )
    return (
        train.join(F.broadcast(bench), "fp")
        .groupBy("train_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


@query(
    "llm_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS n_tok
      FROM documents
    ), c AS (
      SELECT *, sum(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
      FROM t
    ), b AS (
      SELECT source, CAST(floor(start_off / 512) AS BIGINT) AS bin, doc_id, n_tok FROM c
    )
    SELECT source, bin, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM b GROUP BY source, bin
    """,
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining: concat-and-chunk. Documents are
    laid end-to-end in deterministic (shard, doc_id) order; a doc's bin is
    its starting token offset div the context budget (512 here), i.e. the
    chunk a tokenizer writer would start it in. Packing is per-shard
    (``source``), which is exactly the 100 TB shape: one cumulative-sum
    window per shard partition, no global sort, shards pack independently
    on their own executors."""
    d = load_tables(spark, sf_dir)["documents"]
    n_tok = F.when(F.col("text") == "", 0).otherwise(F.size(F.split("text", " ")))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select("doc_id", "source", n_tok.alias("n_tok")).withColumn(
        "start_off", F.sum("n_tok").over(w) - F.col("n_tok")
    )
    return (
        c.withColumn("bin", F.floor(F.col("start_off") / 512))
        .groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "llm_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE (doc_id * 2654435761) % 97 <
          CASE WHEN lang = 'en' THEN 10 ELSE 49 END
    """,
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language keep rates (~10% for
    the dominant 'en', ~50% elsewhere) via multiplicative key hashing —
    the corpus-rebalancing step of LLM data curation. Membership depends
    only on (doc_id, lang): stable across reruns, partitionings, and
    engines (the oracle proves it), unlike rand()-based TABLESAMPLE.
    Pure projection + filter: pushed to the scan, no shuffle at any
    scale."""
    d = load_tables(spark, sf_dir)["documents"]
    h = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(97))
    rate = F.when(F.col("lang") == "en", 10).otherwise(49)
    return d.where(h < rate).select("doc_id", "lang", "source")


@query(
    "llm_unigram_surprisal",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE text <> ''
    ), tf AS (
      SELECT term, count(*) AS n FROM tok GROUP BY term
    ), tot AS (
      SELECT sum(n) AS total FROM tf
    ), scored AS (
      SELECT t.doc_id, -ln(f.n / (SELECT total FROM tot)) AS surprisal
      FROM tok t JOIN tf f ON t.term = f.term
    )
    SELECT doc_id,
           round(avg(surprisal), 6) AS avg_surprisal,
           count(*) AS n_tokens
    FROM scored GROUP BY doc_id
    """,
)
def llm_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM surprisal per document — the perplexity-proxy quality
    filter: score each doc by the mean -ln p(token) under the corpus's own
    unigram distribution; rare-token-dense docs (boilerplate, garbage,
    wrong-language) score high. Two aggregations + one join: term
    frequencies are a map-side-combined count (vocab ≪ corpus), the
    corpus total rides along as a broadcast scalar, and the token→tf join
    broadcasts the vocab. No shuffle touches the token stream twice."""
    d = load_tables(spark, sf_dir)["documents"]
    tok = (
        d.where(F.col("text") != "")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    )
    tf = tok.groupBy("term").agg(F.count("*").alias("n"))
    total = tf.agg(F.sum("n").alias("total"))
    scored = tok.join(F.broadcast(tf), "term").join(F.broadcast(total)).select(
        "doc_id", (-F.log(F.col("n") / F.col("total"))).alias("surprisal")
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.avg("surprisal"), 6).alias("avg_surprisal"),
        F.count("*").alias("n_tokens"),
    )


@query(
    "llm_bm25_search",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE text <> ''
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT count(*) AS n_docs, avg(doclen) AS avgdl FROM dl
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), qterms AS (
      SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT 3
    ), scored AS (
      SELECT t.doc_id,
             sum(
               ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1) *
               t.tf * 2.2 /
               (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.doclen / s.avgdl))
             ) AS score,
             count(*) AS n_hits
      FROM tf t
      JOIN qterms q ON t.term = q.term
      JOIN dl d ON t.doc_id = d.doc_id
      CROSS JOIN stats s
      GROUP BY t.doc_id
    )
    SELECT doc_id, round(score, 6) AS score, n_hits
    FROM scored
    ORDER BY round(score, 6) DESC, doc_id LIMIT 20
    """,
)
def llm_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) — the standard keyword
    scorer, here over the corpus's own 3 highest-df terms as the query
    (deterministic, no external input). Shape at scale: tf is one
    map-combined aggregation over the token stream; doc lengths and the
    (n_docs, avgdl) scalars are tiny aggregates; query terms and corpus
    stats BROADCAST into the scoring join, so the token stream shuffles
    once on doc_id and never on term. Scores rounded to 6dp BEFORE the
    top-20 order (float tie discipline, SURVEY §5.3)."""
    d = load_tables(spark, sf_dir)["documents"]
    tok = (
        d.where(F.col("text") != "")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("doclen"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("doclen").alias("avgdl"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = dfreq.orderBy(F.col("df").desc(), "term").limit(3)
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    bm25 = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("doclen") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(bm25), 6).alias("score"), F.count("*").alias("n_hits"))
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(20)


@query(
    "llm_repetition_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text <> ''
    ), pairs AS (
      SELECT doc_id, unnest(list_zip(toks, toks[2:])) AS pr FROM t
    ), bg AS (
      SELECT doc_id, pr[1] || ' ' || pr[2] AS bigram
      FROM pairs WHERE pr[2] IS NOT NULL
    ), bgc AS (
      SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_bigrams,
           round(sum(CASE WHEN n > 1 THEN n ELSE 0 END) * 1.0 / sum(n), 6)
             AS dup_frac,
           (sum(CASE WHEN n > 1 THEN n ELSE 0 END) * 1.0 / sum(n)) > 0.1
             AS flagged
    FROM bgc GROUP BY doc_id
    """,
)
def llm_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality filter (Gopher-style): the fraction of a doc's
    token bigrams that are duplicates — boilerplate, keyword stuffing and
    degenerate generations score high; flag docs above 10%. Bigrams are
    built ARRAY-SIDE (zip_with the token array against its own tail) so
    there's no per-token explode-then-window pass: one explode of ready
    bigrams, one per-doc count, one per-doc rollup, all map-combinable
    and partitioned by doc_id end to end."""
    d = load_tables(spark, sf_dir)["documents"]
    bigrams = F.expr(
        "filter(zip_with(toks, slice(toks, 2, greatest(size(toks) - 1, 0)),"
        " (a, b) -> concat(a, ' ', b)), x -> x IS NOT NULL)"
    )
    bg = (
        d.where(F.col("text") != "")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.explode(bigrams).alias("bigram"))
    )
    bgc = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("n"))
    dup = F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
    return bgc.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        F.round(dup * 1.0 / F.sum("n"), 6).alias("dup_frac"),
        (dup * 1.0 / F.sum("n") > 0.1).alias("flagged"),
    )
