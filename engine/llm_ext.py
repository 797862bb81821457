"""Round-3 training-data-pipeline additions: iterative clustering,
substring-level duplication flagging, and CCNet-style quality bucketing.

The headline here is ``llm_kmeans_lloyd`` — a fully declarative iterative
algorithm (Lloyd's k-means) where every iteration is DataFrame ops only
(no driver-side model state, no collect) and the DuckDB oracle is the SAME
fixed number of iterations UNROLLED into a CTE chain, so even an
iterative algorithm gets the full hash-match correctness gate.

Cross-engine float discipline (same as the sibling modules): centroids
are snapped to a 1e-5 integer grid after every averaging step (float-sum
order noise is ~1e-12, far below the grid), so both engines enter every
iteration with bit-identical centroids; per-row scores are index-ordered
dot-product folds (the llm_cosine_topk-proven pattern), so assignment
comparisons see identical doubles on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.io import load_tables
from engine.registry import query

_K = 8
_ITERS = 3
_DIM = 64


# The one home of the cosine Column helpers for every embedding module:
# this module imports only io and registry, so any of them can import it
# without a cycle.


def _dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    """Index-ordered fold — matches DuckDB's list_dot_product order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm2(col: str = "embedding"):
    """Squared L2 norm of a float array column, folded in double."""
    return _dot(_dbl(col), _dbl(col))


def _label_centroids(e: DataFrame) -> DataFrame:
    """(c_label, centroid): the unrounded per-label mean vector —
    posexplode, avg per (label, pos), then the averages collected in
    position order (no whole-vector UDAF)."""
    ex = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    avgs = ex.groupBy("label", "pos").agg(F.avg(F.col("val").cast("double")).alias("a"))
    return avgs.groupBy("label").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "a"))), lambda s: s["a"]).alias(
            "centroid"
        )
    ).select(F.col("label").alias("c_label"), "centroid")


def kmeans_cte_parts(k: int, iters: int, source: str = "embeddings") -> list[str]:
    """Unrolled Lloyd CTE chain (shared by llm_kmeans_lloyd's oracle and
    llm_ann_ivf's learned coarse quantizer): init assignment by
    vec_id % k, then `iters` rounds of (quantized centroid update →
    nearest-centroid reassign). Exposes `e(vec_id, v)`,
    `cent{iters}(c, cent)` and `a{iters}(vec_id, c)` to the caller.

    ``source`` is the relation providing (vec_id, embedding) — the
    fixture table by default, or a parenthesized derived subquery (the
    clustered-ANN evidence keys, engine/ann_clustered.py)."""
    parts = [
        f"""
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {source}),
    a0 AS (SELECT vec_id, CAST(vec_id % {k} AS INTEGER) AS c FROM e)"""
    ]
    for i in range(1, iters + 1):
        prev = f"a{i - 1}"
        parts.append(f"""
    ex{i} AS (
      SELECT a.c, g.i AS pos, e.v[g.i] AS val
      FROM {prev} a JOIN e ON e.vec_id = a.vec_id,
           (SELECT unnest(generate_series(1, {_DIM})) AS i) g
    ),
    cq{i} AS (
      SELECT c, pos, CAST(round(avg(val) * 100000) AS BIGINT) AS q
      FROM ex{i} GROUP BY c, pos
    ),
    cent{i} AS (
      SELECT c, list(q / 100000.0 ORDER BY pos) AS cent FROM cq{i} GROUP BY c
    ),
    sc{i} AS (
      SELECT e.vec_id, cent{i}.c,
             list_dot_product(cent{i}.cent, cent{i}.cent)
               - 2 * list_dot_product(e.v, cent{i}.cent) AS score
      FROM e, cent{i}
    ),
    mn{i} AS (SELECT vec_id, min(score) AS mn FROM sc{i} GROUP BY vec_id),
    a{i} AS (
      SELECT s.vec_id, CAST(min(s.c) AS INTEGER) AS c
      FROM sc{i} s JOIN mn{i} m ON s.vec_id = m.vec_id AND s.score = m.mn
      GROUP BY s.vec_id
    )""")
    return parts


def _kmeans_oracle() -> str:
    parts = kmeans_cte_parts(_K, _ITERS)
    return (
        "WITH " + ",".join(parts) + f"\n    SELECT vec_id, c AS cluster FROM a{_ITERS}"
    )


def lloyd_fit(e: DataFrame, k: int, iters: int, checkpoint: bool = False):
    """DataFrame Lloyd fit (the llm_kmeans_lloyd loop, parameterized):
    returns (assign, cents) — assign(vec_id, c) w.r.t. the FINAL
    centroids, cents(c, cent: array<double>) on the 1e-5 grid. Both are
    engine-invariant (see llm_kmeans_lloyd), so callers can hash-match
    anything built on top against kmeans_cte_parts' SQL twin.

    ``checkpoint=True`` eager-localCheckpoints each iteration's k-row
    centroid relation (r12, guide §5 lineage truncation — the same
    within-run materialization pq_parts uses for ``ev``): callers whose
    plans consume ``cents``/``assign`` from MULTIPLE branches (ivf_parts:
    probes + the assignment join + the recall accounting) otherwise
    re-evaluate the whole nested Lloyd chain once per consumer. Values
    are identical by construction (the checkpoint materializes the same
    grid-snapped rows); single-consumer callers (llm_kmeans_lloyd's one
    final action) keep the default lazy form, which Catalyst handles
    directly at fixture scale."""
    ev = e.select("vec_id", _dbl("embedding").alias("v"))
    assign = ev.select("vec_id", (F.col("vec_id") % k).cast("int").alias("c"))
    cents = None
    for _ in range(iters):
        # two-stage centroid update (groupBy (c,pos) avg, then groupBy c
        # re-collect) is deliberate: the first stage partial-aggregates
        # the n×dim posexplode rows map-side so only k×dim=512 partials
        # cross the wire; folding both into one c-partitioned pass would
        # shuffle the raw exploded rows (n×dim) — strictly worse at
        # scale. The second exchange moves 512 rows; bounded at any n.
        # (r11 A/B kept this form: a 64-wide-avg single aggregate — the
        # llm_centroids shape — measured SLOWER here, 1.52 vs 1.07 s
        # same-session at sf0.1, because the agg input is a joined,
        # cast-transformed relation rather than a raw scan.)
        cq = (
            assign.join(ev, "vec_id")
            .select("c", F.posexplode("v").alias("pos", "val"))
            .groupBy("c", "pos")
            .agg(F.round(F.avg("val") * 100000).cast("long").alias("q"))
        )
        cents = cq.groupBy("c").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "q"))),
                lambda s: s["q"].cast("double") / 100000.0,
            ).alias("cent")
        )
        if checkpoint:
            # k rows — truncates the nested per-iteration lineage so the
            # final (assign, cents) plans are one scoring pass deep
            cents = cents.localCheckpoint(eager=True)
        # Per-row argmin over a one-row collected codebook (r12): the
        # old form exploded n×k scored rows through a broadcast join and
        # shuffled them back through a groupBy(vec_id) min-struct
        # aggregate; array_min(transform(cbook, ...)) computes the same
        # lexicographic min of (score, c) per row with NO n×k
        # materialization and NO argmin exchange (one exchange per
        # iteration removed). _dot's fold order is unchanged, so scores
        # are bit-identical; assignments verified identical by exceptAll
        # at sf0.1 AND sf10. Measured same-session interleaved (k=8,
        # iters=3): 1.57 → 1.34 s min at sf0.1, 5.22 → 4.73 s at sf10;
        # the k=48 ivf_clustered scoring pass 3.75 → 3.21 s.
        # Per-centroid |c|² stays precomputed on the k-row relation
        # (r11, −15%): the row-wise form re-ran the 64-dim fold on every
        # scored row for a value constant per centroid.
        cbook = cents.select(
            "c", "cent", _dot(F.col("cent"), F.col("cent")).alias("csq")
        ).agg(F.collect_list(F.struct("csq", "c", "cent")).alias("cbook"))
        assign = (
            ev.crossJoin(F.broadcast(cbook))
            .select(
                "vec_id",
                F.array_min(
                    F.transform(
                        "cbook",
                        lambda s: F.struct(
                            (s["csq"] - 2 * _dot(F.col("v"), s["cent"])).alias(
                                "score"
                            ),
                            s["c"].alias("c"),
                        ),
                    )
                )["c"].cast("int").alias("c"),
            )
        )
    return assign, cents


@query("llm_kmeans_lloyd", oracle=_kmeans_oracle(), plan_cache=True)
def llm_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 3 iterations) over the embedding column,
    expressed as a fully declarative DataFrame loop — each iteration is
    centroid-update (posexplode → (c, pos) avg → 1e-5 quantize →
    ordered re-collect, the llm_centroids shape) followed by
    nearest-centroid reassignment (the k-row codebook collected into a
    ONE-row relation, broadcast, and argmin'd per row with
    array_min(transform(...)); score = |c|² − 2·v·c since |v|² is
    constant under argmin, min-score with min-c tiebreak). No model
    state ever touches the driver; the "model" is a one-row DataFrame
    broadcast into the scoring projection.

    The oracle unrolls the identical 3 iterations as a DuckDB CTE chain
    (_kmeans_oracle) — the hash gate covers the whole trajectory, not
    just the final step, because any divergence at iteration i changes
    the final assignment. Quantizing centroids each round is what makes
    that possible: both engines re-enter every iteration with
    bit-identical state, so cross-engine float-sum order noise cannot
    compound.

    At 100 TB: per iteration, one shuffle on (c, pos) for the update
    (k×dim = 512 groups — map-side combined) and one n-row scoring pass
    with the collected codebook broadcast; the argmin is computed PER
    ROW (r12 — no n×k row materialization, no (vec_id) argmin shuffle).
    On a real cluster, persist + truncate lineage between iterations
    (localCheckpoint; lloyd_fit's checkpoint flag) — at fixture scale
    Catalyst handles the 3-deep plan directly."""
    e = load_tables(spark, sf_dir)["embeddings"]
    # argmin inside lloyd_fit is a per-row lexicographic array_min of
    # (score, c) structs — identical semantics to the oracle's
    # min-score-then-min-c two-step (doubles are engine-identical)
    assign, _ = lloyd_fit(e, _K, _ITERS)
    return assign.select("vec_id", F.col("c").alias("cluster"))


@query(
    "llm_substring_dedup",
    plan_cache=True,
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE text <> ''
    ), g AS (
      SELECT doc_id,
             array_to_string(list_slice(ws, i.i, i.i + 7), ' ') AS gram
      FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS i) i
      WHERE len(ws) >= 8
    ), df AS (
      SELECT gram, count(DISTINCT doc_id) AS docs FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (WHERE df.docs > 1) AS BIGINT) AS n_dup_grams,
           CAST(count(*) FILTER (WHERE df.docs > 1) AS DOUBLE) / count(*)
             AS dup_fraction
    FROM g JOIN df ON g.gram = df.gram
    GROUP BY g.doc_id
    """,
)
def llm_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication flagging (the Lee et al. 2107.06499
    "Deduplicating Training Data" shape, at word-8-gram granularity):
    for every document, the fraction of its 8-word windows that also
    appear verbatim in some OTHER document. Downstream, spans with
    dup_fraction ≈ 1 are boilerplate to cut; a corpus-wide suffix array
    is overkill when shingle df already localizes the duplicated spans.

    Windows are built ARRAY-SIDE (transform over an index sequence +
    slice — no self-join, no explode-then-window), then exploded ONCE
    (r12, VERDICT r11 item 1: the df-count branch and the verdict join
    used to re-evaluate the whole scan+split+explode — 2 Generates).
    The single gram relation is repartitioned by gram; because
    hash(gram) clusters (gram, doc_id) too, the per-pair multiplicity
    aggregate, the per-gram distinct-doc count (a window count over the
    deduped pairs), and the verdict all run on that ONE exchange
    without further gram shuffles — plan: Generate 2→1, Exchange
    3+broadcast → 3, scan 2→1; measured same-session interleaved min
    1.21→0.63 s at sf0.1, 18.10→9.64 s at sf10, identical output.
    Spark shuffles on xxhash64(gram) — 8-byte keys instead of ~50-char
    strings, the production keying at 100 TB (the oracle keeps raw
    strings because DuckDB has no xxhash64; a 64-bit collision among
    ~10⁶ grams is ~1e-10 probable and would surface as a hash mismatch,
    so the gate itself audits the collision assumption). The
    dup_fraction is a ratio of identical integers — bit-identical
    doubles, no rounding escape hatch."""
    d = load_tables(spark, sf_dir)["documents"]
    w = d.where(F.col("text") != "").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    g = w.where(F.size("ws") >= 8).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 7),
                # hash the 8-word slice ARRAY directly (r11): xxhash64
                # hashes arrays structurally, so the per-gram joined
                # string is never materialized — same injectivity (post-
                # split tokens contain no separator) and the same 64-bit
                # collision audit via the hash gate; measured −15%
                # same-session at sf0.1, identical output.
                lambda i: F.xxhash64(F.slice("ws", i, 8)),
            )
        ).alias("gram"),
    )
    # one explicit exchange on gram; the (gram, doc_id) multiplicity agg
    # and the gram-partitioned window both reuse it (hash(gram) satisfies
    # ClusteredDistribution of any superset key — guide §2.4's shared
    # exchange). m = per-(gram, doc) occurrence count; docs = rows per
    # gram in the deduped relation = count(DISTINCT doc_id).
    gd = (
        g.repartition("gram")
        .groupBy("gram", "doc_id")
        .agg(F.count("*").alias("m"))
    )
    docs = F.count("*").over(Window.partitionBy("gram"))
    per = gd.select("doc_id", "m", docs.alias("docs"))
    # sum(when) is NULL for a doc with no duplicated grams where the old
    # count(when) was 0 — coalesce keeps n_dup_grams/dup_fraction exact
    dup = F.coalesce(F.sum(F.when(F.col("docs") > 1, F.col("m"))), F.lit(0))
    return per.groupBy("doc_id").agg(
        F.sum("m").cast("bigint").alias("n_grams"),
        dup.cast("bigint").alias("n_dup_grams"),
        (dup.cast("double") / F.sum("m")).alias("dup_fraction"),
    )


@query(
    "llm_ccnet_buckets",
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
    ), per_doc AS (
      SELECT s.doc_id, round(avg(s.surprisal), 6) AS avg_surprisal
      FROM scored s GROUP BY s.doc_id
    ), ranked AS (
      SELECT p.doc_id, d.lang, p.avg_surprisal,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY p.avg_surprisal, p.doc_id) AS t
      FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
    )
    SELECT doc_id, lang, avg_surprisal,
           CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS bucket
    FROM ranked
    """,
)
def llm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style (1911.00359) quality bucketing: within each language,
    split documents into head / middle / tail terciles of unigram-LM
    surprisal (the perplexity proxy — llm_unigram_surprisal is the
    scoring half of this op; this key adds the per-language ntile
    policy that CCNet uses to choose which slice to train on).

    Determinism: the ntile orders by the ROUNDED 6-dp surprisal with
    doc_id tiebreak, so rank boundaries can never sit on cross-engine
    float noise. The ntile window shuffles one row per document
    (score + keys, not tokens) partitioned by language; skew between
    languages is bounded by corpus language mix."""
    d = load_tables(spark, sf_dir)["documents"]
    tok = d.where(F.col("text") != "").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = tok.groupBy("term").agg(F.count("*").alias("n"))
    total = tf.agg(F.sum("n").alias("total"))
    per_doc = (
        tok.join(F.broadcast(tf), "term")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.round(F.avg(-F.log(F.col("n") / F.col("total"))), 6).alias("avg_surprisal"))
    )
    w = Window.partitionBy("lang").orderBy("avg_surprisal", "doc_id")
    return (
        per_doc.join(d.select("doc_id", "lang"), "doc_id")
        .withColumn("t", F.ntile(3).over(w))
        .select(
            "doc_id",
            "lang",
            "avg_surprisal",
            F.when(F.col("t") == 1, "head")
            .when(F.col("t") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


@query(
    "llm_domain_mix_sampler",
    oracle="""
    WITH n AS (
      SELECT lang, CAST(count(*) AS DOUBLE) AS nl FROM documents GROUP BY lang
    ), t AS (
      SELECT sum(nl) AS nn, sum(pow(nl, 0.7)) AS s FROM n
    ), r AS (
      SELECT n.lang,
             CAST(floor(least(1.0, (pow(n.nl, 0.7) / t.s) * (t.nn / 2) / n.nl)
                        * 1000000 + 0.5) AS BIGINT) AS rate_ppm
      FROM n, t
    )
    SELECT d.doc_id, d.lang, r.rate_ppm
    FROM documents d JOIN r ON r.lang = d.lang
    WHERE (d.doc_id * 2654435761) % 1000000 < r.rate_ppm
    """,
)
def llm_domain_mix_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (the Pile/Gopher/LLaMA sampling
    policy, τ=0.7): re-weight each domain's share to p^τ (normalized),
    flattening the head and boosting the tail, and deterministically
    hash-sample each domain at the rate that hits a half-corpus target
    under the re-weighted mix. q_d = n_d^0.7 / Σ n^0.7 (the 1/N^0.7
    cancels), keep_rate_d = min(1, q_d · (N/2) / n_d).

    Cross-engine float discipline: rates go through floor(x·1e6 + 0.5)
    into integer parts-per-million BEFORE the membership comparison —
    pow() is not guaranteed identically rounded across libms, and the
    ppm grid absorbs any last-ulp disagreement; membership itself is the
    multiplicative-hash mod used by llm_stratified_sample (stable across
    engines, reruns, and partitionings — never rand()). At 100 TB: the
    domain stats are a tiny aggregate, rates broadcast back, and the
    filter is a scan-side projection — no shuffle touches the corpus."""
    d = load_tables(spark, sf_dir)["documents"]
    n = d.groupBy("lang").agg(F.count("*").cast("double").alias("nl"))
    t = n.agg(
        F.sum("nl").alias("nn"), F.sum(F.pow("nl", F.lit(0.7))).alias("s")
    )
    r = n.crossJoin(F.broadcast(t)).select(
        "lang",
        F.floor(
            F.least(
                F.lit(1.0),
                (F.pow("nl", F.lit(0.7)) / F.col("s"))
                * (F.col("nn") / 2)
                / F.col("nl"),
            )
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("rate_ppm"),
    )
    return (
        d.join(F.broadcast(r), "lang")
        .where(
            F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1000000))
            < F.col("rate_ppm")
        )
        .select("doc_id", "lang", "rate_ppm")
    )


@query(
    "agg_heavy_hitters",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS term
      FROM documents WHERE text <> ''
    ), tf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY term
    ), tot AS (SELECT sum(n) AS t FROM tf)
    SELECT term, n, CAST(n AS DOUBLE) / t AS share
    FROM tf, tot WHERE n > t * 0.005
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (terms above 0.5% of the token stream) via the
    candidate-then-verify sketch pattern: a per-partition Misra-Gries
    summary (capacity 400, mapInPandas over Arrow batches) nominates
    candidates, then ONLY the nominated terms are exactly recounted and
    thresholded. The pigeonhole guarantee makes the output exact and
    partitioning-invariant despite the sketch: a term with global count
    > N/400 survives Misra-Gries in at least one partition under ANY
    partitioning, and the 0.5% threshold (N/200) is comfortably inside
    that bound — so phase 2's exact recount sees every true heavy
    hitter, and the filter discards sketch noise. The oracle recounts
    everything; the hash gate therefore proves the sketch missed
    nothing.

    At 100 TB this is the point: the full term distribution never
    shuffles — phase 1 moves ≤400 (term, count) pairs per partition,
    phase 2 shuffles only the candidate-matched slice of the stream
    (semi join on a broadcast candidate set)."""
    d = load_tables(spark, sf_dir)["documents"]
    tok = d.where(F.col("text") != "").select(
        F.explode(F.split("text", " ")).alias("term")
    )

    def mg_partition(batches):
        import pandas as pd

        cap = 400
        counts: dict[str, int] = {}
        for pdf in batches:
            for term in pdf["term"]:
                if term in counts:
                    counts[term] += 1
                elif len(counts) < cap:
                    counts[term] = 1
                else:
                    dead = [k for k in counts if counts[k] == 1]
                    for k in counts:
                        counts[k] -= 1
                    for k in dead:
                        del counts[k]
        yield pd.DataFrame({"term": list(counts.keys())})

    cand = tok.mapInPandas(mg_partition, "term string").distinct()
    matched = tok.join(F.broadcast(cand), "term", "left_semi")
    tf = matched.groupBy("term").agg(F.count("*").cast("bigint").alias("n"))
    total = tok.agg(F.count("*").alias("t"))
    return (
        tf.crossJoin(F.broadcast(total))
        .where(F.col("n") > F.col("t") * 0.005)
        .select("term", "n", (F.col("n").cast("double") / F.col("t")).alias("share"))
    )


# ---------------------------------------------------------------------------
# BPE training (declarative, unrolled oracle)
# ---------------------------------------------------------------------------

_BPE_MERGES = 3


def _bpe_oracle(iters: int = _BPE_MERGES) -> str:
    """The BPE trainer unrolled as a DuckDB CTE chain (the kmeans_cte
    pattern): per round, pair counting → deterministic best-pair pick
    (count DESC, then lexicographic) → greedy left-to-right merge via the
    even-offset-in-island rule → position renumbering."""
    parts = [
        """
    toks AS (
      SELECT t.tok AS word, CAST(count(*) AS BIGINT) AS freq
      FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      WHERE text <> '' AND t.tok <> '' GROUP BY 1
    ),
    sym0 AS (
      SELECT word, freq, CAST(g.i AS BIGINT) AS pos,
             CASE WHEN g.i <= length(word) THEN substr(word, CAST(g.i AS INTEGER), 1)
                  ELSE '</w>' END AS sym
      FROM toks, unnest(generate_series(1, length(word) + 1)) AS g(i)
    )"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""
    nx{i} AS (
      SELECT word, freq, pos, sym,
             lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nx
      FROM sym{p}
    ),
    pairs{i} AS (
      SELECT sym AS l, nx AS r, sum(freq) AS cnt
      FROM nx{i} WHERE nx IS NOT NULL GROUP BY 1, 2
    ),
    best{i} AS (
      SELECT l, r, CAST(cnt AS BIGINT) AS cnt FROM pairs{i}
      ORDER BY cnt DESC, l, r LIMIT 1
    ),
    m{i} AS (
      SELECT n.word, n.freq, n.pos, n.sym,
             (n.sym = b.l AND n.nx = b.r) AS is_match
      FROM nx{i} n CROSS JOIN best{i} b
    ),
    isl{i} AS (
      SELECT word, pos,
             pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
      FROM m{i} WHERE is_match
    ),
    starts{i} AS (
      SELECT word, pos,
             (pos - min(pos) OVER (PARTITION BY word, grp)) % 2 = 0 AS is_start
      FROM isl{i}
    ),
    full{i} AS (
      SELECT m.word, m.freq, m.pos, m.sym,
             COALESCE(s.is_start, FALSE) AS is_start
      FROM m{i} m LEFT JOIN starts{i} s
        ON m.word = s.word AND m.pos = s.pos
    ),
    sym{i} AS (
      SELECT word, freq,
             CAST(row_number() OVER (PARTITION BY word ORDER BY pos)
                  AS BIGINT) AS pos,
             CASE WHEN is_start THEN sym ||
               (SELECT r FROM best{i}) ELSE sym END AS sym
      FROM (
        SELECT f.*,
               lag(is_start) OVER (PARTITION BY word ORDER BY pos) AS prev_start
        FROM full{i} f
      ) WHERE COALESCE(prev_start, FALSE) = FALSE
    )""")
    sel = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, l AS left_sym, r AS right_sym, cnt"
        f" AS pair_count FROM best{i}"
        for i in range(1, iters + 1)
    )
    return "WITH " + ",".join(parts) + f"\n    {sel}"


@query("llm_bpe_train", oracle=_bpe_oracle())
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding TRAINING as pure DataFrame ops (Sennrich et al.
    2016 shape): 3 merge rounds, each = corpus pair-count → deterministic
    best-pair pick (count DESC, lexicographic tie-break) → greedy
    left-to-right merge — with the DuckDB oracle unrolling the identical
    rounds, so tokenizer training itself sits under the full hash gate.

    The merge step is the subtle part: BPE merges non-overlapping
    occurrences LEFT TO RIGHT, a sequential dependency parallelized here
    with the even-offset-in-island rule — consecutive matching positions
    (only possible when left==right, e.g. pair (a,a) in "aaaa") form an
    island via the pos − row_number trick, and greedy picks exactly the
    even offsets from each island's start. Both engines share the rule,
    so merges are bit-identical.

    Scale shape: the corpus is touched ONCE (token explode → word-freq
    aggregate); every training round then operates on the DISTINCT-WORD
    symbol table (vocab-sized, ~|V|·avg_len rows — KBs here, MBs at
    100 TB since vocabulary grows ~log corpus), exactly how production
    BPE trainers exploit word-frequency compression. Per round: one
    vocab-sized window pass, a 1-row global top-1 (TakeOrdered, no full
    sort), one broadcast of that row, two more vocab-sized windows.
    Driver never sees data; the 3-round loop is Python only in plan
    construction (the llm_kmeans_lloyd pattern)."""
    d = load_tables(spark, sf_dir)["documents"]
    merges, _ = _bpe_fit(d)
    out = merges[0]
    for mdf in merges[1:]:
        out = out.unionAll(mdf)
    return out


def _bpe_fit(d: DataFrame) -> tuple[list[DataFrame], DataFrame]:
    """The llm_bpe_train loop, shared with llm_bpe_apply: returns
    (per-round merge rows, FINAL vocab symbol table) — the final table is
    the trained tokenizer already applied to every distinct word, which
    is what apply-side encoding joins against."""
    toks = (
        d.where(F.col("text") != "")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    sym = toks.select(
        "word",
        "freq",
        F.posexplode(
            F.expr(
                "concat(transform(sequence(1, length(word)),"
                " i -> substring(word, i, 1)), array('</w>'))"
            )
        ).alias("pos0", "sym"),
    ).select("word", "freq", (F.col("pos0") + 1).cast("long").alias("pos"), "sym")
    # lineage truncation between iterations (the SCALING.md rule for
    # iterative algorithms): each round's symbol table is vocab-sized, but
    # WITHOUT checkpoints every merge branch + the final union replays the
    # whole corpus explode and all prior rounds — measured 3.5 s → 2.4 s
    # (train) and 6.0 s → 2.5 s (apply) at sf0.1, identical output
    sym = sym.localCheckpoint(eager=True)

    w = Window.partitionBy("word").orderBy("pos")
    merges = []
    for i in range(1, _BPE_MERGES + 1):
        nx = sym.withColumn("nx", F.lead("sym").over(w))
        pairs = (
            nx.where(F.col("nx").isNotNull())
            .groupBy(F.col("sym").alias("l"), F.col("nx").alias("r"))
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        best = pairs.orderBy(F.col("cnt").desc(), "l", "r").limit(1)
        merges.append(
            best.select(
                F.lit(i).cast("long").alias("step"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.col("cnt").alias("pair_count"),
            )
        )
        m = nx.crossJoin(F.broadcast(best)).withColumn(
            "is_match", (F.col("sym") == F.col("l")) & (F.col("nx") == F.col("r"))
        )
        isl = (
            m.where("is_match")
            .select("word", "pos", (F.col("pos") - F.row_number().over(w)).alias("grp"))
        )
        wg = Window.partitionBy("word", "grp")
        starts = isl.select(
            "word",
            "pos",
            (((F.col("pos") - F.min("pos").over(wg)) % 2) == 0).alias("is_start"),
        )
        full = m.join(starts, ["word", "pos"], "left").select(
            "word",
            "freq",
            "pos",
            "sym",
            "r",
            F.coalesce("is_start", F.lit(False)).alias("is_start"),
        )
        sym = (
            full.withColumn("prev_start", F.lag("is_start").over(w))
            .where(F.coalesce("prev_start", F.lit(False)) == False)  # noqa: E712
            .select(
                "word",
                "freq",
                F.row_number().over(w).cast("long").alias("pos"),
                F.when(F.col("is_start"), F.concat("sym", "r"))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
        )
        sym = sym.localCheckpoint(eager=True)
    return merges, sym


def _bpe_apply_oracle(iters: int = _BPE_MERGES) -> str:
    """llm_bpe_apply's oracle: the training CTE chain (same unroll as
    llm_bpe_train) plus a per-doc join of the final symbol counts."""
    train = _bpe_oracle(iters)
    body = train[: train.index("\n    SELECT CAST(1 AS BIGINT) AS step")]
    return (
        body
        + f""",
    nsym AS (
      SELECT word, CAST(count(*) AS BIGINT) AS k FROM sym{iters} GROUP BY 1
    ),
    docw AS (
      SELECT doc_id, t.tok AS word, CAST(count(*) AS BIGINT) AS cnt
      FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      WHERE text <> '' AND t.tok <> '' GROUP BY 1, 2
    )
    SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * k) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(cnt * k) AS DOUBLE) / sum(cnt) AS tokens_per_word
    FROM docw JOIN nsym USING (word) GROUP BY doc_id"""
    )


@query("llm_bpe_apply", oracle=_bpe_apply_oracle())
def llm_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the tokenizer llm_bpe_train just learned:
    per-document BPE token counts plus the tokens-per-word compression
    ratio a data pipeline actually reports.

    The scale trick: encoding never touches document text beyond one
    token explode — merges are applied to the DISTINCT-WORD symbol table
    inside _bpe_fit (vocab-sized), each word's final symbol count is a
    vocab-sized aggregate, and per-doc totals come from joining that tiny
    table back to (doc, word, count) with a broadcast — the corpus never
    re-shuffles on content. tokens_per_word is int/int, bit-identical
    across engines. Oracle = the training unroll + the same per-doc
    join."""
    d = load_tables(spark, sf_dir)["documents"]
    _, sym = _bpe_fit(d)
    nsym = sym.groupBy("word").agg(F.count("*").cast("long").alias("k"))
    docw = (
        d.where(F.col("text") != "")
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        docw.join(F.broadcast(nsym), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("k")).cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            (F.col("n_bpe_tokens").cast("double") / F.col("n_words")).alias(
                "tokens_per_word"
            ),
        )
    )


def _cdc_poly(engine: str) -> str:
    """The 8-char polynomial rolling-hash expression at window start i,
    unrolled term-by-term (identical int64 arithmetic in both engines;
    max value ≈ 2.8e13, far under int64). Spark needs INT casts on
    substring positions; DuckDB substr takes BIGINT directly."""
    terms = []
    for j in range(8):
        pos = f"CAST(i + {j} AS INT)" if engine == "spark" else f"i + {j}"
        fn = "substring" if engine == "spark" else "substr"
        # CAST the coefficient: small powers of 31 parse as INT32 and
        # ascii() is INT32, so the product would overflow under ANSI mode
        terms.append(f"ascii({fn}(t, {pos}, 1)) * CAST({31 ** (7 - j)} AS BIGINT)")
    return " + ".join(terms)


@query(
    "llm_cdc_chunk_dedup",
    oracle=f"""
    WITH base AS (
      SELECT source, substr(text, 1, 240) AS t,
             CAST(length(substr(text, 1, 240)) AS BIGINT) AS L
      FROM documents WHERE length(text) > 0
    ),
    cutl AS (
      SELECT source, t, L,
             list_filter(range(2, greatest(L - 6, 2)),
                         i -> i <= L - 7 AND ({_cdc_poly("duck")}) % 1048576 % 16 = 0)
               AS cuts
      FROM base
    ),
    bl AS (
      SELECT source, t, ([CAST(1 AS BIGINT)] || cuts || [L + 1]) AS bounds FROM cutl
    ),
    ch AS (
      SELECT source,
             unnest(list_transform(range(1, CAST(len(bounds) AS BIGINT)),
                                   k -> substr(t, bounds[k], bounds[k + 1] - bounds[k])))
               AS chunk
      FROM bl
    ),
    agg AS (SELECT source, md5(chunk) AS h, count(*) AS cnt FROM ch GROUP BY 1, 2)
    SELECT source, CAST(sum(cnt) AS BIGINT) AS total_chunks,
           count(*) AS distinct_chunks,
           CAST(count(*) FILTER (WHERE cnt > 1) AS BIGINT) AS repeated_chunks
    FROM agg GROUP BY source
    """,
)
def llm_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-level dedup — the rsync/LBFS/
    dataset-dedup pattern: chunk boundaries are picked where a rolling
    8-char polynomial hash hits 0 mod 16 (expected chunk ≈ 16 chars on
    this fixture's ~300-char docs), so an insertion early in a document
    shifts ONE chunk instead of re-aligning every fixed-width block —
    which is why chunk-level dedup catches near-duplicates that
    fixed-block hashing misses. Pipeline: per-doc boundary positions via
    a filter() HOF over window starts (all JVM-side, no UDF), chunks cut
    with transform() over the bounds array, ONE explode, then the
    classic narrow-shuffle dedup: group by (source, md5(chunk)) — 16-byte
    keys cross the exchange, never chunk text. The window hash is
    evaluated per start position on the first 240 chars (bounded work
    per row); at 100 TB the same plan is scan + explode + one
    hash-keyed exchange, with per-source skew bounded by the uniform
    source mix. Short docs (< 9 chars) yield exactly one chunk — the
    `i <= L-7` predicate keeps the ascending-sequence guard engine-safe
    (Spark's sequence(2, stop) would run DESCENDING for stop < 2)."""
    d = load_tables(spark, sf_dir)["documents"]
    base = (
        d.select("source", F.substring("text", 1, 240).alias("t"))
        .withColumn("L", F.length("t").cast("bigint"))
        .where(F.col("L") > 0)
        # r08 perf A/B (sf10, engine-only warm min): evaluating the
        # 8-term polynomial with substring() re-sliced the text 8× per
        # window position (~930M UTF8String slices at sf10). Extracting
        # the char codes ONCE into an int array and indexing it with
        # element_at is the same arithmetic on the same values
        # (oracle unchanged) at a fraction of the per-position cost.
        .withColumn(
            "codes",
            F.expr(
                "transform(sequence(1, CAST(L AS INT)), i -> ascii(substring(t, i, 1)))"
            ),
        )
    )
    poly = " + ".join(
        f"element_at(codes, CAST(i + {j} AS INT)) * CAST({31 ** (7 - j)} AS BIGINT)"
        for j in range(8)
    )
    cuts = F.expr(
        "filter(sequence(CAST(2 AS BIGINT), greatest(L - 7, CAST(2 AS BIGINT))), "
        f"i -> i <= L - 7 AND ({poly}) % 1048576 % 16 = 0)"
    )
    bounds = F.expr("concat(array(CAST(1 AS BIGINT)), cuts, array(L + 1))")
    chunks = F.expr(
        "transform(sequence(1, size(bounds) - 1), "
        "k -> substring(t, CAST(element_at(bounds, k) AS INT), "
        "CAST(element_at(bounds, k + 1) - element_at(bounds, k) AS INT)))"
    )
    ch = (
        base.withColumn("cuts", cuts)
        .withColumn("bounds", bounds)
        .withColumn("chunk", F.explode(chunks))
        .select("source", "chunk")
    )
    agg = ch.groupBy("source", F.md5("chunk").alias("h")).agg(F.count("*").alias("cnt"))
    return agg.groupBy("source").agg(
        F.sum("cnt").alias("total_chunks"),
        F.count("*").alias("distinct_chunks"),
        F.count_if(F.col("cnt") > 1).alias("repeated_chunks"),
    )
