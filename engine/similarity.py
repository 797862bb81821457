"""Similarity search & near-dup detection at scale (north-star additions
beyond SURVEY §2.10's minhash: brute-force ANN baseline, hyperplane-LSH
ANN, SimHash near-dup, n-gram Jaccard).

Scale doctrine (the whole point of these keys):
- Brute force exists ONLY as the verifiable baseline, and only with a
  broadcast-able query set: cost = |queries| × |corpus|, linear in corpus.
- The scale paths bucket first (hyperplane LSH signs, SimHash byte bands,
  rare-shingle inverted index) and compare only within buckets — candidate
  generation never goes O(n²) on the full corpus.
- All hash families are deterministic (hash-seeded, SURVEY §4): the
  hyperplanes are ±1 Rademacher vectors derived from md5, embedded as
  LITERALS in both the Spark plan and the DuckDB oracle, so even the LSH
  path is hash-match verified.
"""

from __future__ import annotations

import hashlib
import sys

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.io import load_tables, session_confs
from engine.registry import query

#: rounds the last llm_dedup_clusters run took to converge (bench telemetry)
LAST_PROPAGATION_ROUNDS: int | None = None

# ---------------------------------------------------------------------------
# deterministic hyperplanes (±1 Rademacher), shared by Spark and oracle SQL
# ---------------------------------------------------------------------------

_N_PLANES = 8
_DIM = 64


def _plane(p: int) -> list[float]:
    """Plane p's components: sign of the first md5 byte of 'p:i'."""
    out = []
    for i in range(_DIM):
        b = hashlib.md5(f"{p}:{i}".encode()).digest()[0]
        out.append(1.0 if b & 1 else -1.0)
    return out


_PLANES = [_plane(p) for p in range(_N_PLANES)]

#: plane pool for the size-adaptive LSH bucketing (llm_ann_lsh): bits are
#: taken from the FRONT of this pool, so a b-bit bucket is always the low-b
#: prefix of the same 16-bit signature in both engines
_LSH_MAX_BITS = 16
_PLANES16 = [_plane(p) for p in range(_LSH_MAX_BITS)]
#: target mean bucket occupancy: per-bucket verify cost ≈ T²/2 dots, total
#: ≈ (n/T)·T²/2 = 32·n dots at T=64 — LINEAR in n with a fixed constant
_LSH_TARGET_OCCUPANCY = 64


def _lsh_bits(n: int) -> int:
    """Bucket bits for an n-vector corpus: smallest b with 2^b buckets ≥
    n/occupancy, clamped to [1, 16]. Integer bit-length arithmetic (no
    float log2) so the oracle's SQL twin (length(bin(m-1))) is exact-equal
    for every n — a float log2 could straddle ceil() differently across
    libm implementations at exact powers of two."""
    m = (n + _LSH_TARGET_OCCUPANCY - 1) // _LSH_TARGET_OCCUPANCY
    return max(1, min(_LSH_MAX_BITS, (m - 1).bit_length()))


def _lsh_salts(n: int) -> int:
    """Probe-side salt count for the within-bucket verify join: 1 (no
    salting — identical to the pre-r08 plan) below 500k vectors, 8
    above. Clustered corpora concentrate hyperplane buckets, and a
    single over-full bucket's b²/2 verify is one straggler task without
    it (measured at sf100 — see llm_ann_lsh docstring). Salting is
    result-identical by construction, so this is a pure physical knob."""
    return 1 if n < 500_000 else 8


def _dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _spark_bucket(emb_col: str, planes: list[list[float]] | None = None):
    """LSH bucket id: bit j = sign(e · plane_j) over the given plane subset."""
    e = _dbl(emb_col)
    bucket = F.lit(0)
    for j, plane in enumerate(planes if planes is not None else _PLANES):
        plane_arr = F.array(*[F.lit(v) for v in plane])
        bucket = bucket + F.when(_dot(e, plane_arr) > 0, F.lit(1 << j)).otherwise(0)
    return bucket


def _sql_plane_lit(plane: list[float]) -> str:
    return "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"


def _sql_bucket(emb: str, planes: list[list[float]] | None = None) -> str:
    terms = []
    for j, plane in enumerate(planes if planes is not None else _PLANES):
        terms.append(
            f"(CASE WHEN list_dot_product(list_transform({emb}, x -> CAST(x AS DOUBLE)),"
            f" {_sql_plane_lit(plane)}) > 0 THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


_SQL_DDOT = (
    "list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)),"
    " list_transform({b}, x -> CAST(x AS DOUBLE)))"
)


def _sql_cos(a: str, b: str) -> str:
    """Double-precision cosine in DuckDB (list_cosine_similarity is float32
    internally — ~3e-8 off double math, measured — so the oracle mirrors
    Spark's double-exact formulation instead)."""
    return (
        f"{_SQL_DDOT.format(a=a, b=b)} / "
        f"sqrt({_SQL_DDOT.format(a=a, b=a)}) / sqrt({_SQL_DDOT.format(a=b, b=b)})"
    )


# ---------------------------------------------------------------------------
# ANN
# ---------------------------------------------------------------------------


@query(
    "llm_ann_brute",
    oracle=f"""
    WITH nz AS (SELECT * FROM embeddings
                WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])) > 0),
    q AS (SELECT vec_id AS qid, embedding AS qe FROM nz WHERE vec_id < 20),
    scored AS (
      SELECT q.qid, e.vec_id AS nid,
             {_sql_cos('q.qe', 'e.embedding')} AS cos
      FROM q JOIN nz e ON e.vec_id <> q.qid
    )
    SELECT qid, nid, round(cos, 6) AS cos, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def llm_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for a 20-vector query set — the exact
    baseline every ANN variant is judged against. Query set broadcasts;
    the corpus streams partition-parallel; per-partition top-k then global
    top-k (WindowGroupLimit), so nothing materializes n×q rows at scale."""
    # zero-norm vectors carry no direction — excluded on both sides
    # (mirrored in every ANN oracle; ANSI raises on the division
    # otherwise — caught by tests/test_edge_embeddings.py)
    e = load_tables(spark, sf_dir)["embeddings"].where(
        _dot(_dbl("embedding"), _dbl("embedding")) > 0
    )
    # norms precomputed ONCE per vector, not per pair (sqrt is deterministic,
    # so dot/qn/nn stays bit-identical to the oracle's dot/sqrt(..)/sqrt(..))
    q = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.sqrt(_dot(_dbl("embedding"), _dbl("embedding"))).alias("qn"),
    )
    en = e.withColumn("nn", F.sqrt(_dot(_dbl("embedding"), _dbl("embedding"))))
    scored = (
        en.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            (_dot(_dbl("qe"), _dbl("embedding")) / F.col("qn") / F.col("nn")).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("qid", "nid", F.round("cos", 6).alias("cos"), "rn")
    )


@query(
    "llm_ann_lsh",
    oracle=f"""
    WITH nz AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0
    ),
    p AS (
      SELECT CASE WHEN m <= 1 THEN 1
                  ELSE greatest(1, least({_LSH_MAX_BITS}, length(bin(m - 1))))
             END AS bits
      FROM (SELECT (count(*) + {_LSH_TARGET_OCCUPANCY - 1})
                   // {_LSH_TARGET_OCCUPANCY} AS m FROM nz)
    ),
    b AS (
      SELECT vec_id, embedding,
             ({_sql_bucket('embedding', _PLANES16)})
               & ((1 << (SELECT bits FROM p)) - 1) AS bucket
      FROM nz
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, x.vec_id AS id_b, a.bucket,
             {_sql_cos('a.embedding', 'x.embedding')} AS cos
      FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
    )
    SELECT id_a, id_b, bucket, round(cos, 6) AS cos
    FROM pairs WHERE cos >= 0.3
    """,
)
def llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed similarity, SIZE-ADAPTIVE (r08, VERDICT
    r07 item 3): bucket bits grow with the corpus — smallest b such that
    2^b buckets hold ≤64 vectors each on average — so per-bucket verify
    cost stays ≈ 32·n dot products, LINEAR in n, at every scale. The
    r03–r07 form pinned bits at 8, which is O(n²/256): fine at sf≤1,
    101.5 s at sf10, unrunnable at sf100 — exactly the plan a user must
    NOT copy, so the scale-safe banding is now the key's default shape.

    This is the 100 TB ANN shape: one pass to bucket (narrow shuffle on
    an int key), per-bucket self-join bounded by the fixed target
    occupancy. Honest recall accounting: a single band's recall FALLS as
    bits grow (each extra hyperplane halves the chance a true pair
    collides) — recall is bought by BANDING (OR of many narrow bands —
    llm_near_dedup_embedding, 0.715 measured) or cell-probing
    (llm_ann_ivf); this key pins the single-band COST floor and its
    recall is measured per-scale in BENCH.md. Fully hash-match verified
    — the deterministic plane prefix and the bit-length arithmetic (no
    float log2) are embedded identically in both engines' plans; the
    corpus count that sizes the bits is the one driver-side scalar (like
    the streaming watermark sentinels).

    Skew treatment (r08, measured at sf100): average occupancy is 64,
    but hyperplane buckets on CLUSTERED embeddings concentrate — at
    sf100 one bucket holds a whole replicated cluster and its b²/2
    verify monopolized a single straggler task for minutes while the
    other cores idled. Above 500k vectors the probe side is therefore
    SALTED: each left row gets g = xxhash64(vec_id) mod G, the right
    side is replicated to all G salts, and the join adds g = g' — every
    unordered pair still matches EXACTLY once (at the left row's salt),
    so the result set is bit-identical and the oracle is untouched,
    while the mega-bucket's work fans out over G tasks. This is the
    classic replicate-and-salt skew join (same pattern as
    ``agg_salted_skew``) applied inside the bucket; cost is a G×
    replication of the build side, paid only at scales where the
    straggler would dominate."""
    e = load_tables(spark, sf_dir)["embeddings"].where(
        _dot(_dbl("embedding"), _dbl("embedding")) > 0  # zero-norm excluded
    )
    n = e.count()
    bits = _lsh_bits(n)
    salts = _lsh_salts(n)
    b = e.select(
        "vec_id",
        "embedding",
        _spark_bucket("embedding", _PLANES16[:bits]).alias("bucket"),
        # per-vector norm, computed once pre-join (bit-identical to the oracle)
        F.sqrt(_dot(_dbl("embedding"), _dbl("embedding"))).alias("nrm"),
    )
    a = b.withColumn("g", F.pmod(F.xxhash64("vec_id"), F.lit(salts))).alias("a")
    x = (
        b.withColumn("g", F.explode(F.sequence(F.lit(0), F.lit(salts - 1))))
        .withColumn("g", F.col("g").cast("long"))
        .alias("x")
    )
    pairs = a.join(
        x,
        (F.col("a.bucket") == F.col("x.bucket"))
        & (F.col("a.g") == F.col("x.g"))
        & (F.col("a.vec_id") < F.col("x.vec_id")),
    ).select(
        F.col("a.vec_id").alias("id_a"),
        F.col("x.vec_id").alias("id_b"),
        F.col("a.bucket").alias("bucket"),
        (
            _dot(_dbl("a.embedding"), _dbl("x.embedding")) / F.col("a.nrm") / F.col("x.nrm")
        ).alias("cos"),
    )
    return pairs.where(F.col("cos") >= 0.3).select(
        "id_a", "id_b", "bucket", F.round("cos", 6).alias("cos")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

_SIM_BITS = 32

#: bit j of a token = high bit of hex digit j of md5(token) — expressible
#: identically in Spark and DuckDB (substring of md5 hex).
_HI_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")


@query(
    "llm_near_dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text <> ''
    ), bits AS (
      SELECT doc_id, j.j,
             sum(CASE WHEN substring(md5(tok), j.j + 1, 1) IN
                 ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS w
      FROM toks, (SELECT unnest(generate_series(0, {_SIM_BITS - 1})) AS j) j
      GROUP BY doc_id, j.j
    ), sigs AS (
      SELECT doc_id,
             sum(CASE WHEN w > 0 THEN (1::BIGINT << j) ELSE 0 END) AS sig
      FROM bits GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, sig, b.b AS band, (sig >> (b.b * 8)) & 255 AS band_val
      FROM sigs, (SELECT unnest(generate_series(0, 3)) AS b) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, x.doc_id AS doc_b,
             a.sig AS sig_a, x.sig AS sig_b
      FROM banded a JOIN banded x
        ON a.band = x.band AND a.band_val = x.band_val AND a.doc_id < x.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
    """,
)
def llm_near_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit signature per doc (per-bit ±1 majority of
    token hashes), byte-banded blocking (near-dups within hamming ≤ 3 must
    share ≥1 of 4 bands — pigeonhole guarantees recall at h<4, probabilistic
    above), exact hamming only on candidates.

    The token→bit hash is the high bit of each md5 hex digit, chosen
    because BOTH engines express it verbatim → full hash-match oracle.
    Signature build is explode+groupBy (two narrow shuffles keyed by
    (doc, bit)); no UDFs, no n² — the 100 TB shape."""
    d = load_tables(spark, sf_dir)["documents"].where(F.col("text") != "")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    toks = toks.withColumn("h", F.md5("tok"))
    bits = (
        toks.select(
            "doc_id",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(_SIM_BITS - 1))).alias("j"),
        )
        .withColumn(
            "v",
            F.when(F.substring(F.col("h"), F.col("j") + 1, 1).isin(*_HI_HEX), 1).otherwise(-1),
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("v").alias("w"))
    )
    sigs = bits.groupBy("doc_id").agg(
        # expr: the python shiftleft wrapper wants an int shift; SQL takes a column
        F.sum(F.when(F.col("w") > 0, F.expr("shiftleft(1L, j)")).otherwise(F.lit(0))).alias(
            "sig"
        )
    )
    banded = sigs.select(
        "doc_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn("band_val", F.expr("shiftright(sig, band * 8)").bitwiseAND(255))
    a, x = banded.alias("a"), banded.alias("x")
    cand = (
        a.join(
            x,
            (F.col("a.band") == F.col("x.band"))
            & (F.col("a.band_val") == F.col("x.band_val"))
            & (F.col("a.doc_id") < F.col("x.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("x.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("x.sig").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.where(ham <= 3).select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


@query(
    "llm_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE text <> ''),
           (SELECT unnest(generate_series(1, 1000)) AS i)
      WHERE i + 2 <= len(toks)
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), rare AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING count(*) BETWEEN 2 AND 20
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(DISTINCT a.shingle) AS ninter
      FROM sh a JOIN rare r ON a.shingle = r.shingle
                JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter), 6) AS jaccard_lb
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) >= 0.05
    """,
)
def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (3-token shingle) Jaccard via a rare-shingle inverted index:
    only shingles with document frequency in [2, 20] generate candidate
    pairs (a hot shingle would explode the self-join — the df ceiling is
    the skew guard), then Jaccard from intersection counts computed on the
    RARE shingles only (a lower bound of true Jaccard — consistent in both
    engines, so hash-verified; at scale this is how you keep the inverted
    index join linear)."""
    d = (
        load_tables(spark, sf_dir)["documents"]
        .where(F.col("text") != "")
        # ≥3 tokens, so every shingle is a full 3-gram (matches oracle's i+2 ≤ len)
        .where(F.size(F.split("text", " ")) >= 3)
    )
    sh = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, size(split(text, ' ')) - 2),"
                " i -> concat_ws(' ', slice(split(text, ' '), i, 3))))"
            )
        ).alias("shingle"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= 20))
        .select("shingle")
    )
    sh_rare = sh.join(F.broadcast(rare), "shingle")
    a = sh_rare.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("shingle").alias("ninter"))
    )
    j = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .withColumn(
            "jac", F.col("ninter").cast("double") / (F.col("na") + F.col("nb") - F.col("ninter"))
        )
    )
    return j.where(F.col("jac") >= 0.05).select(
        "doc_a", "doc_b", F.round("jac", 6).alias("jaccard_lb")
    )


# ---------------------------------------------------------------------------
# IVF ANN (coarse quantizer → probe cells → exact search within cells)
# ---------------------------------------------------------------------------

_IVF_NPROBE = 2
_IVF_CELLS = 10
_IVF_ITERS = 2


def ivf_oracle_ctes(
    cells: int = _IVF_CELLS,
    nprobe: int = _IVF_NPROBE,
    iters: int = _IVF_ITERS,
    source: str = "embeddings",
) -> str:
    """The IVF pipeline as a CTE chain (no WITH, no final SELECT) ending
    in `mine(qid, nid, cos, rn)` — shared by llm_ann_ivf's oracle and
    the clustered evidence key (engine/ann_clustered.py), which appends
    recall/scan accounting on top."""
    from engine.llm_ext import kmeans_cte_parts

    parts = kmeans_cte_parts(cells, iters, source)
    last = iters
    return (
        ",".join(parts)
        + f""",
    q AS (SELECT vec_id AS qid, v AS qe FROM e
          WHERE vec_id < 20 AND list_dot_product(v, v) > 0),
    qa AS (
      SELECT qid, c,
             row_number() OVER (
               PARTITION BY qid ORDER BY round(ccos, 6) DESC, c) AS cr
      FROM (
        SELECT q.qid, ct.c, {_sql_cos('q.qe', 'ct.cent')} AS ccos
        FROM q CROSS JOIN cent{last} ct
        WHERE list_dot_product(ct.cent, ct.cent) > 0
      )
    ),
    probes AS (SELECT qid, c FROM qa WHERE cr <= {nprobe}),
    scored AS (
      SELECT p.qid, a.vec_id AS nid,
             {_sql_cos('q.qe', 'ev.v')} AS cos
      FROM probes p
      JOIN a{last} a ON a.c = p.c
      JOIN e ev ON ev.vec_id = a.vec_id
      JOIN q ON q.qid = p.qid
      WHERE a.vec_id <> p.qid AND list_dot_product(ev.v, ev.v) > 0
    ),
    mine AS (
      SELECT qid, nid, round(cos, 6) AS cos, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY qid ORDER BY round(cos, 6) DESC, nid) AS rn
        FROM scored
      ) WHERE rn <= 3
    )"""
    )


def _ivf_oracle() -> str:
    return "WITH " + ivf_oracle_ctes() + "\n    SELECT qid, nid, cos, rn FROM mine"


@query("llm_ann_ivf", oracle=_ivf_oracle())
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN with a LEARNED coarse quantizer: 10 k-means cells
    (2 quantized Lloyd iterations — engine/llm_ext.py:lloyd_fit, the
    same machinery as llm_kmeans_lloyd, so cells are engine-invariant),
    each query probes its nprobe=2 nearest cells, exact cosine only
    within the probed cells, top-3.

    r03 upgrade, measured (scripts/ann_recall.py at sf0.1): the round-2
    design used LABEL cells, but the fixture's labels carry ZERO
    geometric signal (within-label mean cos ≈ 0.000, identical to
    global — the vectors are isotropic), so label-probing was a random
    20% sample: recall@3 = 0.283 ≈ the scan fraction. Learned cells at
    the SAME nprobe=2 / 20% scan reach recall@3 = 0.417 (1.5×) because
    k-means caps align with actual geometry even on isotropic data.
    This is the honest IVF: in production the coarse quantizer is
    always trained, never a metadata column.

    The 100 TB shape is unchanged: corpus partitioned ONCE by cell id
    (partitionBy(cell) at rest → partition pruning per probe), queries ×
    centroids a tiny broadcast cross join, exact scoring touches
    nprobe/k of the corpus. The oracle unrolls the same Lloyd fit as a
    CTE chain, so the WHOLE pipeline — training included — hash-matches
    DuckDB. Rankings order by round(cos, 6) with c/nid tie-breaks."""
    e = load_tables(spark, sf_dir)["embeddings"]
    return ivf_parts(e, _IVF_CELLS, _IVF_NPROBE, _IVF_ITERS)["mine"]


def ivf_parts(
    e: DataFrame, cells: int, nprobe: int, iters: int
) -> dict[str, DataFrame]:
    """The llm_ann_ivf pipeline, parameterized over (cells, nprobe,
    iters) and the (vec_id, embedding) source relation — shared with the
    clustered evidence key (engine/ann_clustered.py). Returns the named
    intermediates so callers can add recall/scan accounting: `ev`
    (non-zero corpus with norms), `q` (queries), `scored` (probed
    candidates), `mine` (the top-3 result). r12 changed the plan (eager
    checkpoints below, per-row argmin in lloyd_fit), so both keys were
    re-promoted to tier 0 of the ``__spark_entry__`` verification prefix;
    the output is oracle-checked, not assumed from an unchanged tree."""
    from engine.llm_ext import lloyd_fit

    # Within-run lineage truncation (r12, guide §5 — the pq_parts ev
    # precedent): every relation below feeds MULTIPLE consumers (cents →
    # probes + the assign chain; assign → the scoring join + callers'
    # scan accounting; ev → queries, the corpus join, brute force and
    # counts), and the lazy forms re-evaluated the whole nested Lloyd
    # chain + source projection once per consumer — measured at sf0.1
    # (with the per-row argmin below), llm_ann_ivf 4.35 → 1.82 s and
    # llm_ann_ivf_clustered 16.9 → 10.8 s warm min, identical output
    # (oracle-checked; the clustered key's remaining cost is the two
    # intrinsic k=48 scoring passes). All three are
    # fixture-bounded rows (k centroids, n (vec_id, c) pairs, n vectors);
    # on a real cluster the same truncation is the documented posture for
    # iterative fits.
    assign, cents = lloyd_fit(e, cells, iters, checkpoint=True)
    assign = assign.localCheckpoint(eager=True)
    # training keeps every vector (no division); scoring excludes
    # zero-norm rows on both sides (oracle mirrors)
    ev = (
        e.select("vec_id", _dbl("embedding").alias("v"))
        .where(_dot("v", "v") > 0)
        .withColumn("nn", F.sqrt(_dot("v", "v")))
        .localCheckpoint(eager=True)
    )
    q = ev.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qe"),
        F.col("nn").alias("qn"),
    )
    qcos = _dot("qe", "cent") / F.col("qn") / F.sqrt(_dot("cent", "cent"))
    aw = Window.partitionBy("qid").orderBy(F.round(F.col("ccos"), 6).desc(), "c")
    probes = (
        q.crossJoin(F.broadcast(cents.where(_dot("cent", "cent") > 0)))
        .select("qid", "qe", "qn", "c", qcos.alias("ccos"))
        .withColumn("cr", F.row_number().over(aw))
        .where(F.col("cr") <= nprobe)
        .select("qid", "qe", "qn", F.col("c").alias("p_c"))
    )
    en = ev.join(assign, "vec_id")
    scored = en.join(
        F.broadcast(probes),
        (F.col("c") == F.col("p_c")) & (F.col("vec_id") != F.col("qid")),
    ).select(
        "qid",
        F.col("vec_id").alias("nid"),
        (_dot("qe", "v") / F.col("qn") / F.col("nn")).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.round(F.col("cos"), 6).desc(), "nid")
    mine = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("qid", "nid", F.round("cos", 6).alias("cos"), "rn")
    )
    return {"ev": ev, "q": q, "scored": scored, "mine": mine}


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (banded LSH candidates → keep/drop verdicts)
# ---------------------------------------------------------------------------

#: Banded OR-of-ANDs: a pair is a candidate if it matches on ANY single
#: band — the MinHash-LSH banding trick applied to hyperplane LSH.
#: Fewer bits per band than llm_ann_lsh's single 8-bit bucket → much higher
#: recall at moderate cosine (p^4 vs p^8 per band, unioned across bands).
#: Banding for near-dup dedup: 20 bands × 6 sign bits from 120 planes.
#: The fixture (and any weak-similarity regime) has its true pairs at
#: cos 0.35-0.5, where collision probability per plane is only ~0.6 —
#: recall there is bought with MANY narrow bands, not a few wide ones.
#: Measured on sf0.1 against the brute-force truth (4137 pairs ≥ τ) with
#: scripts/lsh_sweep.py (bit-identical numpy twin of this band stage):
#: round-1's 2 bands × 4 bits = 0.285 recall / 248k candidates;
#: round-2's 12×6 = 0.532 recall / 365k; this 20×6 = 0.715 recall /
#: 559k — r03's full frontier is recorded in BENCH.md. Wider bands lose
#: (7 bits needs 24+ bands to match 6×12's recall); narrower bands (5
#: bits) buy recall with ~2× the candidates per band. Affordable because
#: candidate verification is a per-bucket normalized matmul
#: (_banded_tau_pairs), not per-pair work.
#: The dial at 100 TB: bits per band ∝ log(n) keeps buckets bounded;
#: band count buys recall linearly in cost.
_N_BAND_BITS = 6
_N_DEDUP_BANDS = 20
_PLANES_EXT = [_plane(p) for p in range(_N_BAND_BITS * _N_DEDUP_BANDS)]
_BANDS = [
    _PLANES_EXT[_N_BAND_BITS * j : _N_BAND_BITS * (j + 1)]
    for j in range(_N_DEDUP_BANDS)
]
_NEAR_DUP_TAU = 0.35

_BAND_SQL_COLS = ",\n             ".join(
    f"{_sql_bucket('embedding', _BANDS[j])} AS b{j}" for j in range(len(_BANDS))
)
_BAND_SQL_MELT = "\n      UNION ALL\n      ".join(
    f"SELECT vec_id, {j} AS band, b{j} AS bv FROM b" for j in range(len(_BANDS))
)


def _band_ids_udf():
    """Vectorized band-id computation: ONE Arrow batch pass does the
    n×64 @ 64×72 matmul and packs sign bits into the 12 band ids — the
    numpy fast path for what is otherwise 72 interpreted HOF folds per
    row. Sign decisions are ulp-robust (plane dots are O(1) magnitudes),
    so the SQL oracle's per-plane CASE WHEN twin lands on identical
    buckets."""
    import numpy as np

    mat = np.array([p for band in _BANDS for p in band], dtype=np.float64).T
    w = _N_BAND_BITS

    @F.pandas_udf("array<int>")
    def band_ids(embs: pd.Series) -> pd.Series:
        # one vectorized stack + upcast (r11): vstack of the float32 cells
        # then a single astype — identical doubles to the old per-row
        # Series.apply(np.asarray) path, without n Python-level calls
        m = np.vstack(embs.to_numpy()).astype(np.float64, copy=False)
        bits = (m @ mat) > 0
        weights = 1 << np.arange(w)
        ids = np.stack(
            [
                (bits[:, w * j : w * (j + 1)] * weights).sum(axis=1)
                for j in range(len(_BANDS))
            ],
            axis=1,
        )
        return pd.Series(list(ids.astype("int32")))

    # asNondeterministic (guide §4.4, r11): posexplode's implied
    # (size(bands) > 0 AND isnotnull) filter was pushed BELOW the melt
    # projection, duplicating the ArrowEvalPython node — every embedding
    # crossed the Arrow boundary and paid the matmul twice (verified in
    # the r11 before-plans: two ArrowEvalPython nodes for one UDF). The
    # function is semantically deterministic; the flag only forbids the
    # optimizer from re-evaluating it, which is exactly what we want —
    # nothing else needs to push past it (the scan reads only
    # vec_id + embedding either way).
    return band_ids.asNondeterministic()


#: Skew guard: buckets larger than this are dropped from candidate
#: generation entirely (promoted from stress.py's 10× probe, where one
#: concentrated bucket went quadratic). The cap is far above any real
#: duplicate-cluster size, so recall on actual duplicates is unaffected —
#: an over-full bucket means the band is too coarse for the local density,
#: and its pairs are overwhelmingly false candidates. Mirrored in the
#: oracle SQL (msz/mc CTEs); a no-op at fixture scale by construction.
#: It also bounds _banded_tau_pairs' per-group matmul block (≤512×512).
_BUCKET_CAP = 512

#: llm_dedup_clusters' driver-finish threshold (edges): once the CONTRACTED
#: supernode graph fits under this constant, the residue is union-found on
#: the driver (see the key's docstring). Module-level so tests can force
#: the distributed-rounds path on fixture-sized graphs (threshold 0) and
#: assert it reaches the identical component-min fixpoint.
_FINISH_THRESHOLD = 65536


def _banded_melt(e: DataFrame, with_embedding: bool = False) -> DataFrame:
    """(vec_id[, embedding], band, bv): every vector's band ids in one
    vectorized pass, posexploded to the long form the per-bucket verifier
    consumes.

    The _BUCKET_CAP guard is NOT applied here (r03): it used to be a
    groupBy-count + broadcast-join pre-filter, which shuffled every melt
    row once to count it and once again into the verification groups.
    The verifier groups by (band, bv) anyway, so the cap check moved
    inside the per-bucket block (_banded_tau_pairs drops over-full
    groups on arrival) — identical candidate set, one exchange instead
    of two on the melt.

    ``with_embedding`` carries the raw vector through the posexplode so
    the verifier needs no join back onto the corpus (r11): the exploded
    rows ship the same bytes into the (band, bv) exchange either way,
    and dropping the join removes a broadcast build + hash probe over
    every melt row (measured part of the sf1 verify cost)."""
    cols = ["vec_id"] + (["embedding"] if with_embedding else [])
    ids = e.select(*cols, _band_ids_udf()("embedding").alias("bands"))
    return ids.select(*cols, F.posexplode("bands").alias("band", "bv"))


@query(
    "llm_near_dedup_embedding",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_BAND_SQL_COLS}
      FROM embeddings
    ), m AS (
      {_BAND_SQL_MELT}
    ), msz AS (
      SELECT band, bv FROM m GROUP BY band, bv HAVING count(*) <= 512
    ), mc AS (
      SELECT m.* FROM m JOIN msz USING (band, bv)
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, x.vec_id AS id_b
      FROM mc a JOIN mc x ON a.band = x.band AND a.bv = x.bv AND a.vec_id < x.vec_id
    ), pairs AS (
      SELECT c.id_a, c.id_b,
             {_sql_cos('ea.embedding', 'eb.embedding')} AS cos
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_a
      JOIN embeddings eb ON eb.vec_id = c.id_b
    )
    SELECT id_b AS drop_id, min(id_a) AS keep_id,
           round(arg_min(cos, id_a), 6) AS cos
    FROM pairs WHERE cos >= {_NEAR_DUP_TAU} GROUP BY id_b
    """,
)
def llm_near_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate DEDUP: banded hyperplane LSH (20
    bands × 6 sign bits, candidate = match on any band) → exact cosine
    on candidates only → per-document keep/drop verdict (drop every doc
    with a ≥ τ neighbor of smaller id; keep_id = that smallest neighbor).

    vs llm_ann_lsh (one 8-bit bucket): banding ORs twenty 6-bit bands —
    in this fixture's weak-similarity regime (true pairs at cos
    0.35-0.5, per-plane collision p ≈ 0.6) recall is bought with many
    narrow bands: measured 0.715 at sf0.1 vs brute force at 1.53× the
    candidates of r02's 12-band scheme (see _BANDS note + BENCH.md). Band ids come
    from one vectorized Arrow matmul (_band_ids_udf); candidate pairs are
    verified PER BUCKET with a normalized-matmul applyInPandas block
    (_banded_tau_pairs) — vectors cross into Python once per (vector,
    band), never once per pair. At 100 TB: band melt is a projection (no
    shuffle), the bucket groupBy shuffles on (band, bucket) — add bits
    per band as the corpus grows to keep bucket sizes bounded (the
    _BUCKET_CAP fuse drops what still concentrates); the verdict agg
    shuffles once on doc id. No O(n²) stage on the corpus; per-bucket
    work is capped quadratic by construction."""
    e = load_tables(spark, sf_dir)["embeddings"]
    return (
        _banded_tau_pairs(e)
        .groupBy(F.col("id_b").alias("drop_id"))
        .agg(
            F.min("id_a").alias("keep_id"),
            F.round(F.min_by("cos", "id_a"), 6).alias("cos"),
        )
    )


_DUP_PAIR_SQL_CTE = f"""
    b AS (
      SELECT vec_id, embedding,
             {_BAND_SQL_COLS}
      FROM embeddings
    ), m AS (
      {_BAND_SQL_MELT}
    ), msz AS (
      SELECT band, bv FROM m GROUP BY band, bv HAVING count(*) <= 512
    ), mc AS (
      SELECT m.* FROM m JOIN msz USING (band, bv)
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, x.vec_id AS id_b
      FROM mc a JOIN mc x ON a.band = x.band AND a.bv = x.bv AND a.vec_id < x.vec_id
    ), pairs AS (
      SELECT c.id_a, c.id_b,
             {_sql_cos('ea.embedding', 'eb.embedding')} AS cos
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_a
      JOIN embeddings eb ON eb.vec_id = c.id_b
    )"""


def _banded_tau_pairs(e: DataFrame) -> DataFrame:
    """(id_a < id_b, cos) for every same-bucket pair with cos ≥ τ —
    verified PER BUCKET with applyInPandas instead of materializing the
    candidate pair list.

    Why: in a dense/weak-similarity regime the candidate count is
    quadratic in bucket occupancy; joining each side's 64-float vector
    onto every candidate row ships O(|pairs|·dim) through Arrow (measured
    ~38 GB at the 10× fixture — 37M candidates — taking 25-150 s). Here
    each (band, bucket) group arrives ONCE per member vector
    (O(n·bands·dim) transfer, ~120 MB at 10×), computes its full cosine
    block with one normalized matmul, and emits only the τ-passing pairs.
    _BUCKET_CAP bounds the group (≤512 rows → ≤16 MB of C matrix), so no
    group can blow worker memory. Cross-band duplicate pairs collapse via
    groupBy min(cos) — the same pair's cosine can differ in final ulps
    between bands' matmul blockings, min makes the survivor
    deterministic; at 6dp rounding the variants agree anyway.

    r11 physical rework (guide §4.2, output-identical): the verifier is
    ``applyInArrow`` instead of ``applyInPandas``, and the embedding
    rides the melt instead of joining back on. The pandas form converted
    every (vector, band) cell list→ndarray one row at a time
    (``Series.apply(np.asarray)``) — at sf1 that is 400k per-row Python
    conversions and was the bulk of the verify stage (measured: verify
    ~12.8 s of the 17 s pair pass). The Arrow form flattens each group's
    list column with ONE zero-copy buffer view (offsets-checked) and
    reshapes; the float32→float64 upcast, row ordering, normalization
    and matmul are bit-identical to the pandas form, so the pair set and
    cosines are unchanged (same oracle)."""
    import numpy as np
    import pyarrow as pa

    m = _banded_melt(e, with_embedding=True)
    tau = _NEAR_DUP_TAU
    _empty = pa.table(
        {
            "id_a": pa.array([], pa.int64()),
            "id_b": pa.array([], pa.int64()),
            "cos": pa.array([], pa.float64()),
        }
    )

    def bucket_pairs(tbl: "pa.Table") -> "pa.Table":
        ids = tbl.column("vec_id").to_numpy()
        n = len(ids)
        # _BUCKET_CAP skew guard, applied on group arrival (see
        # _banded_melt): an over-full bucket is all false candidates
        if n > _BUCKET_CAP or n < 2:
            return _empty
        emb = tbl.column("embedding").combine_chunks()
        lens = np.diff(emb.offsets.to_numpy())
        if not (lens == lens[0]).all():  # ragged input must fail loudly
            raise ValueError(f"ragged embedding lengths in bucket: {set(lens)}")
        mat = (
            emb.flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.float64, copy=False)
            .reshape(n, -1)
        )
        order = np.argsort(ids)
        ids = ids[order]
        mat = mat[order]
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        c = mat @ mat.T
        iu = np.triu_indices(n, k=1)
        keep = c[iu] >= tau
        return pa.table(
            {
                "id_a": pa.array(ids[iu[0][keep]], pa.int64()),
                "id_b": pa.array(ids[iu[1][keep]], pa.int64()),
                "cos": pa.array(c[iu][keep], pa.float64()),
            }
        )

    pairs = m.groupBy("band", "bv").applyInArrow(
        bucket_pairs, "id_a long, id_b long, cos double"
    )
    return pairs.groupBy("id_a", "id_b").agg(F.min("cos").alias("cos"))


def _dup_edges(e: DataFrame) -> DataFrame:
    """(id_a < id_b) near-duplicate edges: banded-LSH candidates → exact
    cosine ≥ τ. Same formulation as llm_near_dedup_embedding's pair stage
    (per-bucket matmul verification, see _banded_tau_pairs)."""
    return _banded_tau_pairs(e).select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )


def _clusters_oracle(rounds: int) -> str:
    """Scale-tractable components oracle: UNROLLED neighbor-min + pointer
    jumping instead of a recursive-CTE transitive closure (r09, VERDICT
    r08 item 5 — the closure materializes O(Σ component²) reach pairs
    and spilled >40 GB of DuckDB temp at sf1; this form is O(rounds·|E|)
    and each round is two hash joins). Correctness does NOT rest on the
    round count being sufficient: the final CTE re-runs one neighbor-min
    pass as a FIXPOINT CERTIFICATE and poisons the result with a
    (-1, -1) row per still-improvable vertex — a fixpoint of
    neighbor-min forces equal labels across every edge (lab(u) ≤ lab(v)
    and lab(v) ≤ lab(u)), i.e. constant per component, and the component
    min m always keeps lab(m) = m, so certified labels ARE the
    component-min fixpoint the engine computes. Too few rounds therefore
    fails the hash gate loudly instead of passing a half-converged
    labeling.

    Every round CTE is AS MATERIALIZED: each references its predecessor
    TWICE (self-join for the jump), so inlining would blow the plan up
    2^rounds-fold — with 12 rounds that re-plans the LSH candidate CTE
    four thousand times (the first cut of this oracle hung exactly
    there)."""
    sql = f"""
    WITH {_DUP_PAIR_SQL_CTE}, e AS (
      SELECT id_a AS u, id_b AS v FROM pairs WHERE cos >= {_NEAR_DUP_TAU}
    ), sym AS MATERIALIZED (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ),
    l0 AS MATERIALIZED (
      SELECT u AS id, least(u, min(v)) AS lab FROM sym GROUP BY u
    )"""
    for k in range(1, rounds + 1):
        sql += f""",
    l{k}n AS MATERIALIZED (
      SELECT l.id, least(l.lab, min(g.lab)) AS lab
      FROM l{k - 1} l
      JOIN sym s ON s.u = l.id
      JOIN l{k - 1} g ON g.id = s.v
      GROUP BY l.id, l.lab
    ),
    l{k} AS MATERIALIZED (
      SELECT a.id, b.lab FROM l{k}n a JOIN l{k}n b ON b.id = a.lab
    )"""
    sql += f""",
    not_converged AS (
      SELECT f.id
      FROM l{rounds} f
      JOIN sym s ON s.u = f.id
      JOIN l{rounds} g ON g.id = s.v
      GROUP BY f.id, f.lab
      HAVING min(g.lab) < f.lab
    )
    SELECT id AS vec_id, lab AS cluster_id FROM l{rounds}
    UNION ALL
    SELECT -1 AS vec_id, -1 AS cluster_id FROM not_converged
    """
    return sql


@query("llm_dedup_clusters", oracle=_clusters_oracle(12))
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate CLUSTERS (connected components): pairwise
    verdicts under-collapse when duplicates chain (A~B, B~C but A~̸C must
    still be ONE cluster, one survivor). Edges = the banded-LSH + cosine
    pairs of llm_near_dedup_embedding; components by MIN-CONTRACTION
    (hash-min star contraction, Kiveris et al., "Connected Components in
    MapReduce and Beyond"): each round every node adopts the min id of
    its closed neighborhood, original-vertex labels follow their
    supernode, and the edge list is REWRITTEN through the new labels
    (self-loops dropped, duplicates collapsed) — so components contract
    geometrically and the edge list SHRINKS every round, unlike plain
    label propagation whose per-round cost stays at full |E|. Measured on
    the sf0.1 graph (1181 edges, 1383 clustered vectors): propagation
    with pointer halving = 19 rounds / 5.0 s, contraction = 8 rounds /
    3.7 s, identical labels. Round 2 adds the standard production finish:
    once the CONTRACTED supernode graph drops below a fixed threshold
    (64k edges — bounded by the constant, not by data scale), the residue
    is union-found on the driver and the final label map broadcast back,
    replacing O(log d) further rounds of scheduler overhead with one
    millisecond-scale local pass; the fixpoint labels are identical
    (union-by-min keeps every root the component min).
    The oracle computes the exact transitive closure with a recursive
    CTE (min reachable id per vertex) — fixpoint-exact at any chain
    depth, so it stays valid as banding recall changes the graph; the
    Spark side also runs to true convergence
    (component-min labels are algorithm-independent) and the hash must
    match. At 100 TB: rounds touch the (shrinking) edge list only
    (vertices ≪ corpus: just docs with ≥1 dup); singleton docs never
    enter the graph — no work for the non-duplicated 99%."""
    e = load_tables(spark, sf_dir)["embeddings"]
    # ec: UNDIRECTED unique edges (u < v) — half the rows of a symmetric
    # list; the symmetric view needed for neighborhood mins is a zero-cost
    # union at use time, so each round pays exactly ONE distinct
    ec = _dup_edges(e).localCheckpoint(eager=True)
    sym = ec.unionByName(ec.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = sym.select("u").distinct().select(
        F.col("u").alias("id"), F.col("u").alias("lbl")
    )
    # Driver-finish threshold: contraction shrinks the supernode graph
    # geometrically, so after O(log d) rounds the REMAINING edges (between
    # supernode labels, not original vertices) are a vanishing fraction of
    # |E|. Once they fit trivially in driver memory, each further
    # distributed round costs ~3 scheduled jobs to merge a handful of
    # labels — so we union-find the residue locally and broadcast the
    # final label map back. The collect is bounded by the threshold (64k
    # edges ≈ 1 MB), NOT by data scale; at 100 TB the distributed rounds
    # still do all the volume work.
    finish_threshold = _FINISH_THRESHOLD
    rounds = 0
    # r11 round-cost rework (guide §2.2/§2.4, label algebra unchanged):
    #  - `mins` is EAGER-CHECKPOINTED once per round — it feeds three
    #    consumers (the labels update and both sides of the edge rewrite),
    #    which re-ran the neighborhood-min aggregation up to 3× per round
    #    (measured sf1: labels 3.2→1.1 s, rewrite 3.7→1.6 s once shared);
    #  - `labels` is NO LONGER checkpointed per round: nothing inside the
    #    loop consumes it, so the per-round left-join chain (against the
    #    checkpointed mins) evaluates ONCE at the caller's action instead
    #    of materializing |V| rows every round (one fewer job + write per
    #    round). Deep graphs re-truncate every 8 rounds so the chain stays
    #    bounded;
    #  - the contraction tail's shuffles are sized to the EDGE bytes, not
    #    the corpus: the session's partition count is scaled for the
    #    corpus-wide scans, but from round 1 the loop only moves the
    #    (shrinking) 16 B/row edge list — ~1M edges per reduce partition
    #    is the 100 TB doctrine (§2.2: 100 MB-1 GB per partition) applied
    #    to rows this narrow, and it holds at any scale because the count
    #    is re-derived per round from the measured n_edges. Scoped to
    #    each round's body by session_confs, so no other key inherits the
    #    tail sizing; the final labels evaluation (corpus-scaled, one row
    #    per clustered vector) runs at the session's own partitioning.
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    while True:
        n_edges = ec.count()
        if n_edges == 0:
            break
        if n_edges <= finish_threshold:
            # residual supernode graph: driver union-find, component-min
            # labels (identical fixpoint to running contraction to the end)
            parent: dict = {}

            def find(x: int) -> int:
                while parent.get(x, x) != x:
                    parent[x] = parent.get(parent[x], parent[x])
                    x = parent[x]
                return x

            for u, v in ec.collect():
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by min so every root IS its component min
                    lo, hi = (ru, rv) if ru < rv else (rv, ru)
                    parent[hi] = lo
            fin = [(x, find(x)) for x in list(parent)]
            fmap = labels.sparkSession.createDataFrame(
                fin, "lbl_in: long, lbl_out: long"
            )
            labels = labels.join(
                F.broadcast(fmap), labels["lbl"] == fmap["lbl_in"], "left"
            ).select(
                labels["id"], F.coalesce(fmap["lbl_out"], labels["lbl"]).alias("lbl")
            )
            break
        rounds += 1
        parts = str(max(1, min(sess_parts, n_edges // 1_000_000 + 1)))
        with session_confs(spark, {"spark.sql.shuffle.partitions": parts}):
            sym = ec.unionByName(
                ec.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            # min over the closed neighborhood of each (super)node, shared
            # by the three consumers below (checkpoint: see loop note)
            mins = (
                sym.groupBy("u")
                .agg(F.min("v").alias("m"))
                .select("u", F.least("u", "m").alias("m"))
                .localCheckpoint(eager=True)
            )
            # mins is materialized, so its row count is a cheap metadata
            # job — when the (supernode → new label) map fits comfortably
            # in a broadcast (≤1M rows ≈ 16 MB), hint it on all three
            # joins below: the labels chain and the edge rewrite then
            # probe map-side instead of sort-merge-shuffling their big
            # side per round. Guarded by the MEASURED count (never by the
            # corpus), so at scale early rounds shuffle and only the
            # shrunken tail broadcasts — the AQE decision, made with real
            # numbers at any scale (AQE itself is input-size-gated off on
            # the small fixtures).
            bcast_map = mins.count() <= 1_000_000
            hint = F.broadcast if bcast_map else (lambda df: df)
            # original vertices follow their supernode's new label; nodes whose
            # supernode already finished (isolated → absent from ec/mins) keep
            # their final label via the left join's coalesce. Unique column
            # names + by-name resolution: the lazy labels chain holds every
            # prior round's mins subtree, so positional DataFrame["col"]
            # references trip the ambiguous-self-join detector here.
            lblmap = hint(
                mins.select(F.col("u").alias("_lu"), F.col("m").alias("_lm"))
            )
            labels = labels.join(
                lblmap, F.col("lbl") == F.col("_lu"), "left"
            ).select(F.col("id"), F.coalesce(F.col("_lm"), F.col("lbl")).alias("lbl"))
            if rounds % 8 == 0:  # bound the lazy join chain on deep graphs
                labels = labels.localCheckpoint(eager=True)
            # contract: rewrite edges through the new labels; duplicates
            # collapse and self-loops vanish, so |ec| is non-increasing and
            # components merge geometrically
            mu = hint(mins.select(F.col("u").alias("u"), F.col("m").alias("mu")))
            mv = hint(mins.select(F.col("u").alias("v"), F.col("m").alias("mv")))
            ec = (
                ec.join(mu, "u")
                .join(mv, "v")
                .select(
                    F.least("mu", "mv").alias("u"), F.greatest("mu", "mv").alias("v")
                )
                .where(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint(eager=True)
            )
    # telemetry, not result: round count is the quantity that regresses if
    # a bigger corpus produces deeper dup chains (bench.py reports it, the
    # oracle-compared schema stays unchanged)
    global LAST_PROPAGATION_ROUNDS
    LAST_PROPAGATION_ROUNDS = rounds
    print(f"[llm_dedup_clusters] contraction rounds to fixpoint: {rounds}", file=sys.stderr)
    return labels.select(F.col("id").alias("vec_id"), F.col("lbl").alias("cluster_id"))


@query(
    "llm_ann_quantized",
    oracle=f"""
    WITH nz AS (SELECT * FROM embeddings
                WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])) > 0),
    q AS (SELECT vec_id AS qid, embedding AS qe FROM nz WHERE vec_id < 20),
    scored AS (
      SELECT q.qid, e.vec_id AS nid,
             {_sql_cos('q.qe', 'e.embedding')} AS cos
      FROM q JOIN nz e ON e.vec_id <> q.qid
    )
    SELECT qid, rn, nid, round(cos, 6) AS cos, true AS matches_exact FROM (
      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def llm_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over int8-quantized codes (llm_embedding_quantize's layout)
    with exact re-ranking — the storage-bandwidth pattern: score ALL
    pairs on 1-byte codes (a 4× cheaper scan than float32 at 100 TB),
    keep a top-10 shortlist per query, then compute EXACT float cosine
    only on the shortlist and emit top-3. Affine dequantization folds
    into the dot product algebraically — dot ≈ D·mna·mnb + mna·sb·Σqb +
    mnb·sa·Σqa + sa·sb·Σ(qa·qb) — so only Σ(qa·qb) touches the arrays
    per pair; Σq and the scales are per-vector precomputes. The result
    is self-validating with a hash oracle: matches_exact is COMPUTED on
    the Spark side (quantized-shortlist neighbor == exact brute-force
    neighbor at that rank) while the oracle emits the exact brute-force
    top-3 with literal true — any recall loss through the int8 shortlist
    becomes a hard hash mismatch, not a hidden metric (verified all-true
    at sf0.001/0.01/0.1; the re-ranked cosine is the exact double cosine,
    so values coincide with brute force whenever the neighbor matches)."""
    e = load_tables(spark, sf_dir)["embeddings"].where(
        _dot(_dbl("embedding"), _dbl("embedding")) > 0  # zero-norm excluded
    )
    D = 64
    dbl = _dbl("embedding")
    base = e.select(
        "vec_id",
        "embedding",
        F.array_min(dbl).alias("mn"),
        F.array_max(dbl).alias("mx"),
    ).select(
        "vec_id",
        "embedding",
        "mn",
        ((F.col("mx") - F.col("mn")) / 255).alias("s"),
        # constant vectors (mx == mn): all codes 0, s = 0 — the affine
        # dot reduces to D*mn_a*mn_b terms, still exact
        F.expr(
            "transform(embedding, x -> if(mx > mn, cast(round((cast(x as double)"
            " - mn) / (mx - mn) * 255, 0) as int), 0))"
        ).alias("q"),
    ).select(
        "*",
        F.expr("aggregate(q, 0L, (a, x) -> a + x)").alias("sq"),
        F.sqrt(_dot(dbl, dbl)).alias("nrm"),
    )
    qs = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("mn").alias("q_mn"),
        F.col("s").alias("q_s"),
        F.col("q").alias("q_q"),
        F.col("sq").alias("q_sq"),
        F.col("nrm").alias("q_nrm"),
    )
    qq = F.expr("aggregate(zip_with(q_q, q, (x, y) -> x * y), 0L, (a, x) -> a + x)")
    adot = (
        F.lit(D) * F.col("q_mn") * F.col("mn")
        + F.col("q_mn") * F.col("s") * F.col("sq")
        + F.col("mn") * F.col("q_s") * F.col("q_sq")
        + F.col("q_s") * F.col("s") * qq
    )
    # r07 (VERDICT r06 item 5): project the pair scores down to three
    # scalars BEFORE the top-k window. The r03 shape carried qe,
    # embedding, q_nrm, nrm (two 64-float arrays, ~550 B/row) through
    # the shortlist window's shuffle — |corpus| × 20 WIDE rows hashed
    # into ≤20 partitions, the stage that made this key's growth the
    # worst in the ANN family (9.9×/decade sf10→sf100 vs PQ's 8.1,
    # IVF's 4.3). Narrow rows let WindowGroupLimit prune to top-10 per
    # query map-side (same shape llm_ann_brute always had); the arrays
    # re-enter below via a broadcast join against ONLY the ≤200
    # shortlist rows.
    scored = base.join(F.broadcast(qs), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("nid"),
        (adot / F.col("q_nrm") / F.col("nrm")).alias("acos_"),
    )
    w10 = Window.partitionBy("qid").orderBy(F.col("acos_").desc(), "nid")
    shortlist = (
        scored.withColumn("arn", F.row_number().over(w10))
        .where(F.col("arn") <= 10)
        .select("qid", "nid")
    )
    # exact re-rank on the shortlist only: broadcast the ≤200 (qid, nid)
    # pairs, stream the corpus once more for their arrays/norms, attach
    # the 20 query arrays — no full-width row ever crosses a shuffle
    cor = base.select(F.col("vec_id"), F.col("embedding"), F.col("nrm"))
    rescored = (
        cor.join(F.broadcast(shortlist), F.col("vec_id") == F.col("nid"))
        .join(
            F.broadcast(qs.select("qid", "qe", "q_nrm")).withColumnRenamed("qid", "qid2"),
            F.col("qid") == F.col("qid2"),
        )
        .select(
            "qid",
            "nid",
            (_dot(_dbl("qe"), _dbl("embedding")) / F.col("q_nrm") / F.col("nrm")).alias(
                "cos"
            ),
        )
    )
    w3 = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nid")
    mine = (
        rescored.withColumn("rn", F.row_number().over(w3))
        .where(F.col("rn") <= 3)
        .select("qid", "rn", "nid", F.round("cos", 6).alias("cos"))
    )
    exact = llm_ann_brute(spark, sf_dir).select(
        "qid", "rn", F.col("nid").alias("exact_nid")
    )
    return mine.join(exact, ["qid", "rn"]).select(
        "qid",
        "rn",
        "nid",
        "cos",
        (F.col("nid") == F.col("exact_nid")).alias("matches_exact"),
    )


@query(
    "llm_semdedup",
    oracle=f"""
    WITH nz AS (
      SELECT * FROM embeddings
      WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0
    ), ex AS (
      SELECT label, generate_subscripts(embedding, 1) AS i,
             unnest(embedding) AS v
      FROM nz
    ), p AS (
      SELECT label, i AS pos, avg(CAST(v AS DOUBLE)) AS a FROM ex GROUP BY label, i
    ), cents AS (
      SELECT label AS c_label, list(a ORDER BY pos) AS centroid FROM p GROUP BY label
    ), scored AS (
      SELECT e.vec_id, c.c_label,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(c.centroid, c.centroid))) AS cos
      FROM nz e CROSS JOIN cents c
      WHERE list_dot_product(c.centroid, c.centroid) > 0
    ), assign AS (
      SELECT vec_id, c_label AS cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cos DESC, c_label) AS rn
            FROM scored) WHERE rn = 1
    ), pr AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb, a.cell,
             {_sql_cos('ea.embedding', 'eb.embedding')} AS cos
      FROM assign a
      JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN nz ea ON ea.vec_id = a.vec_id
      JOIN nz eb ON eb.vec_id = b.vec_id
    )
    SELECT idb AS drop_id, CAST(min(ida) AS BIGINT) AS keep_id, cell
    FROM pr WHERE cos >= {_NEAR_DUP_TAU} GROUP BY idb, cell
    """,
)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023, public arXiv
    2303.09540): assign every vector to its nearest centroid CELL, then
    find ≥ τ cosine pairs ONLY within cells and drop the higher id —
    clustering as the blocking structure instead of LSH bands (the
    llm_near_dedup_embedding twin; SemDeDup's insight is that semantic
    duplicates land in the same k-means cell, so cross-cell pairs need
    never be scored).

    Plan: centroids build via posexplode+avg (no whole-vector UDAF —
    the wide-agg single-pass form was re-measured r12 and REJECTED:
    slower at sf0.1 AND sf10, 0.34→0.48 / 0.62→0.67 s warm min, with
    bit-identical centroids either way), broadcast to every vector for
    the argmax assignment (the llm_cosine_topk shape — tie-free by the
    measured min best-vs-second margin: 2.8e-5 at sf0.1, 2.8e-7 at
    sf10, both ≫ the ~1e-15 summation-order noise floor), and
    each cell verifies pairwise cosine with ONE normalized matmul per
    group (applyInPandas — same per-group pattern as _banded_tau_pairs).
    At 100 TB the cell count scales with k ∝ n so cells stay bounded
    (real SemDeDup uses k ≈ n/10k); here cells are the 10 fixture-label
    centroids. NB the isotropy finding that forced llm_ann_ivf onto
    LEARNED cells (r03) does NOT apply here: dedup targets near-
    identical vectors, and a vector and its duplicate land in the same
    cell under ANY consistent assignment (their argmaxes agree because
    the vectors barely differ) — cell quality moves retrieval recall,
    not duplicate recall. Verdicts carry no float — drop_id/keep_id/cell
    hash exactly."""
    import numpy as np

    # zero-norm vectors carry no direction — excluded from centroid
    # building, assignment, and verification on both sides
    e = load_tables(spark, sf_dir)["embeddings"].where(
        _dot(_dbl("embedding"), _dbl("embedding")) > 0
    )
    ex = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    avgs = ex.groupBy("label", "pos").agg(
        F.avg(F.col("val").cast("double")).alias("a")
    )
    cents = (
        avgs.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "a"))), lambda s: s["a"]
            ).alias("centroid")
        )
        .select(F.col("label").alias("c_label"), "centroid")
    )
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(dbl, F.col("centroid"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with(dbl, dbl, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
    )
    cnrm = F.sqrt(
        F.aggregate(
            F.zip_with("centroid", "centroid", lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "c_label")
    assign = (
        e.crossJoin(F.broadcast(cents))
        .where(cnrm > 0)
        .withColumn("cos", dot / (nrm * cnrm))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", F.col("c_label").alias("cell"))
    )
    tau = _NEAR_DUP_TAU
    # applyInArrow (r11, same rework as _banded_tau_pairs): one zero-copy
    # flatten per cell instead of a per-row list→ndarray conversion; the
    # float math is bit-identical so verdicts (and the oracle) are unchanged
    import pyarrow as pa

    _empty = pa.table(
        {
            "ida": pa.array([], pa.int64()),
            "idb": pa.array([], pa.int64()),
            "cell": pa.array([], pa.int32()),
        }
    )

    def cell_pairs(tbl: "pa.Table") -> "pa.Table":
        ids = tbl.column("vec_id").to_numpy()
        n = len(ids)
        if n < 2:
            return _empty
        emb = tbl.column("embedding").combine_chunks()
        lens = np.diff(emb.offsets.to_numpy())
        if not (lens == lens[0]).all():  # ragged input must fail loudly
            raise ValueError(f"ragged embedding lengths in cell: {set(lens)}")
        mat = (
            emb.flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.float64, copy=False)
            .reshape(n, -1)
        )
        order = np.argsort(ids)
        ids = ids[order]
        mat = mat[order]
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        # Blocked pair scan (r12): unlike the LSH buckets (bounded at
        # _BUCKET_CAP=512), a CELL is n/k of the corpus — at the 10×
        # fixture that is 20k vectors per cell, where the old
        # whole-matrix form allocated a 3.2 GB cosine matrix plus a
        # 200M-entry triu index per cell (measured: the full key took
        # 138 s warm at sf10). Tiling the upper triangle in 2048-row
        # blocks computes the SAME ≥τ pairs (ids ascending ⇒ block
        # order preserves ida < idb) with O(B²) transient memory;
        # measured 138 → 9.9 s warm min at sf10, identical output
        # (exceptAll = 0), no measurable change at sf0.1 where every
        # cell fits one block. The equivalence is margin-based, not
        # bit-guaranteed: block shapes change BLAS summation order, so
        # a cosine within ~1e-15 of τ could flip on another BLAS build.
        # It holds because the measured margins sit far above that
        # noise (≥2.8e-7 observed, see the docstring); exceptAll = 0 at
        # sf0.1 and sf10 on one BLAS build.
        B = 2048
        cell0 = tbl.column("cell")[0].as_py()
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        for i0 in range(0, n, B):
            bi = mat[i0 : i0 + B]
            c = bi @ bi.T
            iu = np.triu_indices(len(bi), k=1)
            keep = c[iu] >= tau
            out_a.append(ids[i0 + iu[0][keep]])
            out_b.append(ids[i0 + iu[1][keep]])
            for j0 in range(i0 + B, n, B):
                bj = mat[j0 : j0 + B]
                ii, jj = np.nonzero(bi @ bj.T >= tau)
                out_a.append(ids[i0 + ii])
                out_b.append(ids[j0 + jj])
        ida = np.concatenate(out_a) if out_a else np.empty(0, dtype=np.int64)
        idb = np.concatenate(out_b) if out_b else np.empty(0, dtype=np.int64)
        return pa.table(
            {
                "ida": pa.array(ida, pa.int64()),
                "idb": pa.array(idb, pa.int64()),
                "cell": pa.array(
                    np.full(len(ida), cell0, dtype="int32"), pa.int32()
                ),
            }
        )

    pairs = assign.groupBy("cell").applyInArrow(
        cell_pairs, "ida long, idb long, cell int"
    )
    return pairs.groupBy(F.col("idb").alias("drop_id")).agg(
        F.min("ida").cast("bigint").alias("keep_id"), F.first("cell").alias("cell")
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN
# ---------------------------------------------------------------------------

_PQ_SUB = 8  # subspaces
_PQ_SUBDIM = _DIM // _PQ_SUB
_PQ_K = 16  # codes per subspace (4-bit)
# 256 (r04, VERDICT item 5): the measured frontier at sf0.1 gives
# recall@3 0.550 at a 5.1% exact-scan fraction vs 0.317 at 64/1.3% —
# the right operating point when the re-rank is the quality gate and
# the codes scan (4 B/vector) is the cost floor either way.
_PQ_SHORTLIST = 256
_PQ_NQ = 20
_PQ_ADC_GRID = 1_000_000_000  # 1e-9 ADC lane grid (exact BIGINT lane sums)


def pq_oracle_ctes(source: str = "embeddings", shortlist_sql: str | None = None) -> str:
    """The full PQ pipeline UNROLLED in DuckDB as a CTE chain (no WITH,
    no final SELECT), ending in `mine(qid, rn, nid, cos)` and
    `brute(qid, rn, exact_nid)`: same codebook training (grid-snapped
    one-round averaging), same deterministic argmin (join on the min
    score, then min code id), same integer-grid ADC lanes, same
    shortlist→re-rank, brute force from the same normalized relation.
    Shared by llm_ann_pq's oracle and the clustered evidence key
    (engine/ann_clustered.py). ``shortlist_sql`` overrides the literal
    shortlist bound (e.g. a ceil(4% of corpus) scalar subquery)."""
    sub, sd, k, nq, sl, grid = (
        _PQ_SUB, _PQ_SUBDIM, _PQ_K, _PQ_NQ, _PQ_SHORTLIST, _PQ_ADC_GRID
    )
    sl = shortlist_sql if shortlist_sql is not None else str(sl)
    return f"""
    e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n0
               FROM {source}
               WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])) > 0),
    e AS (SELECT vec_id, list_transform(v0, x -> x / n0) AS v FROM e0),
    en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    subs AS (
      SELECT vec_id, nrm, g.s,
             list_slice(v, g.s * {sd} + 1, g.s * {sd} + {sd}) AS sub,
             CAST(vec_id % {k} AS INTEGER) AS c0
      FROM en, unnest(range(0, {sub})) AS g(s)
    ),
    cex AS (
      SELECT s, c0, p.i AS pos, sub[p.i] AS val
      FROM subs, unnest(generate_series(1, {sd})) AS p(i)
    ),
    cq AS (
      SELECT s, c0, pos, CAST(round(avg(val) * 100000) AS BIGINT) AS qv
      FROM cex GROUP BY s, c0, pos
    ),
    cents AS (
      SELECT s AS cs, c0 AS c, list(qv / 100000.0 ORDER BY pos) AS cent
      FROM cq GROUP BY s, c0
    ),
    assign_sc AS (
      SELECT su.vec_id, su.s, ct.c,
             list_dot_product(ct.cent, ct.cent)
               - 2 * list_dot_product(su.sub, ct.cent) AS score
      FROM subs su JOIN cents ct ON su.s = ct.cs
    ),
    amin AS (SELECT vec_id, s, min(score) AS ms FROM assign_sc GROUP BY 1, 2),
    codes AS (
      SELECT a.vec_id, a.s, CAST(min(a.c) AS INTEGER) AS c
      FROM assign_sc a JOIN amin m
        ON a.vec_id = m.vec_id AND a.s = m.s AND a.score = m.ms
      GROUP BY a.vec_id, a.s
    ),
    q AS (SELECT vec_id AS qid, v AS qe, nrm AS qnrm FROM en
          WHERE vec_id < {nq}),
    qsubs AS (
      SELECT qid, qnrm, g.s,
             list_slice(qe, g.s * {sd} + 1, g.s * {sd} + {sd}) AS qsub
      FROM q, unnest(range(0, {sub})) AS g(s)
    ),
    adc AS (
      SELECT qs.qid, qs.qnrm, qs.s, ct.c,
             CAST(round(list_dot_product(qs.qsub, ct.cent) * {grid})
                  AS BIGINT) AS d
      FROM qsubs qs JOIN cents ct ON qs.s = ct.cs
    ),
    approx AS (
      SELECT a.qid, a.qnrm, co.vec_id AS nid, sum(a.d) AS adot
      FROM codes co JOIN adc a ON co.s = a.s AND co.c = a.c
      WHERE co.vec_id <> a.qid GROUP BY 1, 2, 3
    ),
    wn AS (
      SELECT ap.qid, ap.nid,
             CAST(ap.adot AS DOUBLE) / {grid} / ap.qnrm / e2.nrm AS acos_
      FROM approx ap JOIN en e2 ON e2.vec_id = ap.nid
    ),
    short AS (
      SELECT qid, nid FROM (
        SELECT *, row_number() OVER (
          PARTITION BY qid ORDER BY acos_ DESC, nid) AS arn
        FROM wn
      ) WHERE arn <= {sl}
    ),
    resc AS (
      SELECT s.qid, s.nid,
             list_dot_product(q.qe, e2.v) / q.qnrm / e2.nrm AS cos
      FROM short s JOIN q ON q.qid = s.qid JOIN en e2 ON e2.vec_id = s.nid
    ),
    mine AS (
      SELECT qid, rn, nid, round(cos, 6) AS cos FROM (
        SELECT *, row_number() OVER (
          PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        FROM resc
      ) WHERE rn <= 3
    ),
    bscored AS (
      SELECT q.qid, e2.vec_id AS nid,
             list_dot_product(q.qe, e2.v) / q.qnrm / e2.nrm AS cos
      FROM q JOIN en e2 ON e2.vec_id <> q.qid
    ),
    brute AS (
      SELECT qid, rn, nid AS exact_nid FROM (
        SELECT *, row_number() OVER (
          PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        FROM bscored
      ) WHERE rn <= 3
    )"""


def _pq_oracle() -> str:
    return (
        "WITH "
        + pq_oracle_ctes()
        + """
    SELECT m.qid, m.rn, m.nid, m.cos, m.nid = b.exact_nid AS matches_exact
    FROM mine m JOIN brute b ON m.qid = b.qid AND m.rn = b.rn
    """
    )


@query("llm_ann_pq", oracle=_pq_oracle(), plan_cache=True)
def llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI 2011 shape): the
    64-dim space splits into 8 subspaces × 16-centroid codebooks (4-bit
    codes, 8 codes = 4 bytes/vector vs 256 bytes float32 — a 64×
    compression of the scan at 100 TB), queries score candidates through
    an asymmetric-distance (ADC) lookup table over the codes, and the
    PQ shortlist (top-256 per query) is re-ranked with exact float cosine
    to emit top-3 plus a COMPUTED matches_exact flag against brute force.

    Determinism engineering (what makes an approximate pipeline
    hash-checkable end to end, §5.3): codebooks come from a vec_id % 16
    seeding + ONE averaging round with centroids snapped to the 1e-5
    grid (summation noise ~1e-12); code assignment breaks float-score
    ties by minimum code id (min-struct aggregate ≡ the oracle's
    join-on-min-score + min(c)); each ADC lane is rounded to an exact
    1e-9-grid BIGINT so the per-candidate sum over 8 lanes is INTEGER
    arithmetic — order-free under any partitioning — and the oracle
    replays the identical pipeline in SQL. matches_exact is honest
    measured recall (NOT gated to true): at sf0.01 the 4-bit codes +
    256-shortlist recover most but not all exact top-3 on this
    weakly-correlated corpus, and that result is itself hash-verified.

    Scale shape: the codes relation (4 B/vector) is the only full scan;
    the ADC table (queries × 8 × 16 rows) broadcasts; raw embeddings are
    touched only for the ≤256-per-query shortlist re-rank and the
    (per-vector, once) norm precompute. Training is fully declarative —
    no driver-side model state."""
    e = load_tables(spark, sf_dir)["embeddings"]
    p = pq_parts(e)
    return p["mine"].join(p["exact"], ["qid", "rn"]).select(
        "qid",
        "rn",
        "nid",
        "cos",
        (F.col("nid") == F.col("exact_nid")).alias("matches_exact"),
    )


def pq_parts(e: DataFrame, shortlist_frac_pct: int | None = None) -> dict[str, DataFrame]:
    """The llm_ann_pq pipeline, parameterized over the (vec_id,
    embedding) source relation and the shortlist bound — shared with the
    clustered evidence key (engine/ann_clustered.py).
    ``shortlist_frac_pct`` is None for the base key's literal
    _PQ_SHORTLIST (expression trees then byte-identical to the
    pre-refactor body, so the driver-green hash of llm_ann_pq is
    unchanged) or an integer percentage for a corpus-proportional bound
    (ceil(n·pct/100), computed via a broadcast 1-row count — no driver
    collect). Returns named intermediates: `ev` (normalized corpus),
    `qs` (queries), `mine` (top-3 after re-rank), `exact` (brute
    top-3)."""
    # zero-norm vectors excluded, survivors L2-NORMALIZED before PQ
    # (cosine-metric PQ trains on unit vectors — also bounds every ADC
    # lane dot to [-1, 1] so the 1e-9 integer grid can never overflow a
    # BIGINT on extreme-magnitude inputs; tests/test_edge_embeddings.py)
    ev = (
        e.select("vec_id", _dbl("embedding").alias("v0"))
        .where(_dot(F.col("v0"), F.col("v0")) > 0)
        .withColumn("n0", F.sqrt(_dot(F.col("v0"), F.col("v0"))))
        .select(
            "vec_id",
            F.transform(F.col("v0"), lambda x: x / F.col("n0")).alias("v"),
        )
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        # the normalized relation feeds codebooks, codes, queries, and the
        # re-rank — checkpoint once (~2.5 MB at sf0.1) instead of
        # re-normalizing in every branch (measured 3.2 -> 2.9 s at sf0.1)
        .localCheckpoint(eager=True)
    )
    subs = ev.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUB - 1))).alias("s"),
        "v",
    ).select(
        "vec_id",
        "s",
        # guard (ADVICE r11): the wide-agg codebook build below averages
        # element_at(sub, 1.._PQ_SUBDIM), so a vector whose length stops
        # dividing into _PQ_SUB×_PQ_SUBDIM would yield short trailing
        # slices → NULL centroid elements → silently nulled _dot scores.
        # Fail loudly instead of corrupting downstream.
        F.expr(
            f"if(size(v) = {_PQ_SUB * _PQ_SUBDIM},"
            f" slice(v, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM}),"
            f" raise_error(concat('pq_parts: embedding dim ', size(v),"
            f" ' != {_PQ_SUB * _PQ_SUBDIM}')))"
        ).alias("sub"),
        (F.col("vec_id") % _PQ_K).cast("int").alias("c0"),
    )
    # Codebook build as ONE wide aggregate (r11, the proven llm_centroids
    # shape): 8 per-dimension avg aggregates grouped by (s, c0) replace
    # the posexplode → (s, c0, pos) agg → ordered re-collect pipeline —
    # no 8× Generate blow-up and one exchange instead of two, with the
    # map-side partials already reduced to 128 groups × 8 columns. The
    # 1e-5 grid snap makes the centroids bit-identical to the exploded
    # form (and to the oracle): summation-order noise is ~1e-12, far
    # below the grid (the same argument the oracle twin rests on).
    # NB: literals via the Python API only (F.lit is a DOUBLE) — in a SQL
    # string `100000.0` parses as DECIMAL(6,1) and the codebook silently
    # becomes decimal-typed (slow decimal math AND different values)
    q_aggs = [
        F.round(F.avg(F.element_at("sub", i + 1)) * 100000)
        .cast("long")
        .alias(f"_q{i}")
        for i in range(_PQ_SUBDIM)
    ]
    cents = (
        subs.groupBy("s", "c0")
        .agg(*q_aggs)
        .select(
            F.col("s").alias("cs"),
            F.col("c0").alias("c"),
            F.array(
                *[
                    F.col(f"_q{i}").cast("double") / F.lit(100000.0)
                    for i in range(_PQ_SUBDIM)
                ]
            ).alias("cent"),
        )
    )
    # per-centroid |c|² computed ONCE on the 128-row codebook relation and
    # broadcast with it (r11) — the row-wise form re-ran the 8-dim fold on
    # every one of the n×8×16 scored rows for a value constant per centroid
    cents_cc = cents.withColumn("cc", _dot(F.col("cent"), F.col("cent")))
    # Per-row argmin over the per-subspace collected codebook (r12, the
    # lloyd_fit pattern): the old form materialized n×8×16 scored rows
    # through the broadcast join and shuffled them back through a
    # groupBy(vec_id, s) min-struct aggregate; array_min(transform(...))
    # computes the same lexicographic min of (score, c) on the n×8
    # sub-vector rows directly — one exchange removed, 16× fewer join
    # output rows. _dot's fold order is unchanged (bit-identical
    # scores); min over structs is order-independent, so collect_list's
    # nondeterministic codebook order cannot matter.
    cbooks = cents_cc.groupBy("cs").agg(
        F.collect_list(F.struct(F.col("cc").alias("csq"), "c", "cent")).alias("cbook")
    )
    codes = subs.join(F.broadcast(cbooks), F.col("s") == F.col("cs")).select(
        "vec_id",
        "s",
        F.array_min(
            F.transform(
                "cbook",
                lambda t: F.struct(
                    (t["csq"] - 2 * _dot(F.col("sub"), t["cent"])).alias("score"),
                    t["c"].alias("c"),
                ),
            )
        )["c"].alias("c"),
    )
    qs = ev.where(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qe"), F.col("nrm").alias("qnrm")
    )
    qsubs = qs.select(
        "qid",
        "qnrm",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUB - 1))).alias("s"),
        "qe",
    ).select(
        "qid",
        "qnrm",
        "s",
        F.expr(f"slice(qe, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})").alias("qsub"),
    )
    adc = qsubs.join(F.broadcast(cents), F.col("s") == F.col("cs")).select(
        "qid",
        "qnrm",
        "s",
        "c",
        F.round(_dot(F.col("qsub"), F.col("cent")) * _PQ_ADC_GRID)
        .cast("long")
        .alias("d"),
    )
    approx = (
        codes.join(F.broadcast(adc), ["s", "c"])
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "qnrm", F.col("vec_id").alias("nid"))
        .agg(F.sum("d").alias("adot"))
    )
    with_nrm = approx.join(
        ev.select(F.col("vec_id").alias("nid"), F.col("nrm").alias("nnrm")), "nid"
    ).select(
        "qid",
        "nid",
        (F.col("adot").cast("double") / _PQ_ADC_GRID / F.col("qnrm") / F.col("nnrm")).alias(
            "acos_"
        ),
    )
    wS = Window.partitionBy("qid").orderBy(F.col("acos_").desc(), "nid")
    if shortlist_frac_pct is None:
        shortlist = with_nrm.withColumn("arn", F.row_number().over(wS)).where(
            F.col("arn") <= _PQ_SHORTLIST
        )
    else:
        # corpus-proportional bound, exact integer ceil in BOTH engines:
        # (n*pct + 99) div 100 == ceil(n * pct/100) — no float pct
        ncnt = ev.groupBy().agg(F.count("*").alias("n_corpus"))
        shortlist = (
            with_nrm.crossJoin(F.broadcast(ncnt))
            .withColumn("arn", F.row_number().over(wS))
            .where(
                F.col("arn")
                <= F.expr(f"(n_corpus * {shortlist_frac_pct} + 99) div 100")
            )
            .drop("n_corpus")
        )
    rescored = (
        shortlist.join(
            ev.select(
                F.col("vec_id").alias("nid"),
                F.col("v").alias("ne"),
                F.col("nrm").alias("nnrm"),
            ),
            "nid",
        )
        .join(F.broadcast(qs), "qid")
        .select(
            "qid",
            "nid",
            (_dot(F.col("qe"), F.col("ne")) / F.col("qnrm") / F.col("nnrm")).alias(
                "cos"
            ),
        )
    )
    w3 = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nid")
    mine = (
        rescored.withColumn("rn", F.row_number().over(w3))
        .where(F.col("rn") <= 3)
        .select("qid", "rn", "nid", F.round("cos", 6).alias("cos"))
    )
    # exact side computed from the SAME normalized relation ev (not
    # llm_ann_brute, which scores raw embeddings with a different float
    # expression tree — ulp-level near-ties in the top-3 could then flip
    # matches_exact between engines; ADVICE r03). Mirrors the oracle's
    # bscored/brute CTEs term for term.
    bscored = (
        ev.select(
            F.col("vec_id").alias("nid"),
            F.col("v").alias("ne"),
            F.col("nrm").alias("nnrm"),
        )
        .join(F.broadcast(qs), F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            (_dot(F.col("qe"), F.col("ne")) / F.col("qnrm") / F.col("nnrm")).alias(
                "cos"
            ),
        )
    )
    wb = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nid")
    exact = (
        bscored.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") <= 3)
        .select("qid", "rn", F.col("nid").alias("exact_nid"))
    )
    return {"ev": ev, "qs": qs, "mine": mine, "exact": exact}


@query(
    "llm_hard_negatives",
    oracle=f"""
    WITH nz AS (SELECT * FROM embeddings
                WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])) > 0),
    q AS (SELECT vec_id AS qid, label AS q_label, embedding AS qe
          FROM nz WHERE vec_id < 20),
    scored AS (
      SELECT q.qid, e.vec_id AS nid, e.label AS neg_label,
             {{cos}} AS cos
      FROM q JOIN nz e
        ON e.vec_id <> q.qid AND e.label <> q.q_label
    )
    SELECT qid, rn, nid, neg_label, round(cos, 6) AS cos FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, nid) AS rn
      FROM scored
    ) WHERE rn <= 5
    """.format(cos=_sql_cos("q.qe", "e.embedding")),
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-5 most-similar vectors carrying a DIFFERENT label —
    the examples a contrastive loss learns most from (high-similarity
    wrong-class pairs), mined exactly here as the baseline the ANN-backed
    production variant (swap the scored relation for llm_ann_lsh/ivf/pq
    candidates) is measured against.

    Same scale shape as llm_ann_brute: the 20-query set broadcasts, the
    corpus streams partition-parallel with per-partition top-k
    (WindowGroupLimit), the label-mismatch predicate rides the broadcast
    probe — no extra shuffle vs plain ANN. Zero-norm vectors excluded on
    both sides (engine policy)."""
    e = load_tables(spark, sf_dir)["embeddings"].where(
        _dot(_dbl("embedding"), _dbl("embedding")) > 0
    )
    q = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
        F.sqrt(_dot(_dbl("embedding"), _dbl("embedding"))).alias("qn"),
    )
    en = e.withColumn("nn", F.sqrt(_dot(_dbl("embedding"), _dbl("embedding"))))
    scored = en.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("qid")) & (F.col("label") != F.col("q_label")),
    ).select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.col("label").alias("neg_label"),
        (_dot(_dbl("qe"), _dbl("embedding")) / F.col("qn") / F.col("nn")).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("qid", "rn", "nid", "neg_label", F.round("cos", 6).alias("cos"))
    )


@query(
    "llm_banding_recall_report",
    oracle=f"""
    WITH nz AS (SELECT vec_id, embedding FROM embeddings
                WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])) > 0),
    b AS (
      SELECT vec_id, embedding,
             {_BAND_SQL_COLS}
      FROM embeddings
    ), m AS (
      {_BAND_SQL_MELT}
    ), msz AS (
      SELECT band, bv FROM m GROUP BY band, bv HAVING count(*) <= 512
    ), mc AS (
      SELECT m.* FROM m JOIN msz USING (band, bv)
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, x.vec_id AS id_b
      FROM mc a JOIN mc x ON a.band = x.band AND a.bv = x.bv AND a.vec_id < x.vec_id
    ), found AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_a
      JOIN embeddings eb ON eb.vec_id = c.id_b
      WHERE {_sql_cos('ea.embedding', 'eb.embedding')} >= {_NEAR_DUP_TAU}
    ), truth AS (
      SELECT a.vec_id AS id_a, x.vec_id AS id_b
      FROM nz a JOIN nz x ON a.vec_id < x.vec_id
      WHERE {_sql_cos('a.embedding', 'x.embedding')} >= {_NEAR_DUP_TAU}
    ), inter AS (
      SELECT t.id_a FROM truth t JOIN found f
        ON t.id_a = f.id_a AND t.id_b = f.id_b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM found) AS n_found,
           (SELECT CAST(count(*) AS BIGINT) FROM inter) AS n_hit,
           CASE WHEN (SELECT count(*) FROM truth) > 0
                THEN CAST((SELECT count(*) FROM inter) AS DOUBLE)
                     / (SELECT count(*) FROM truth) END AS recall
    """,
)
def llm_banding_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-VERIFIED recall accounting for the banded-LSH dedup path:
    ground-truth cos ≥ τ pairs (brute force over non-zero vectors), the
    banding candidate count, the verified found set, and recall — the
    numbers BENCH.md reports from sweep scripts, now emitted by an
    operator whose every count the oracle re-derives, so the quality
    claim itself sits under the correctness gate.

    This is the eval harness every production dedup pipeline runs on a
    SAMPLE before trusting a banding config at full scale: brute force
    is O(n²) and stays sample-only (documented as such; at sf0.01 it is
    125k pairs, trivial), while the banding side is the production path
    (melt → capped buckets → per-bucket matmul verify). recall is a
    ratio of exact pair counts — no float noise; the intersection join
    makes τ-boundary float disagreements impossible by construction
    (both engines intersect their own verified pair SETS, which the
    llm_near_dedup_embedding gate already proves identical)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    nz = e.where(_dot(_dbl("embedding"), _dbl("embedding")) > 0)
    found = _banded_tau_pairs(e).select("id_a", "id_b").distinct()
    melt = _banded_melt(e)
    msz = melt.groupBy("band", "bv").count().where(F.col("count") <= _BUCKET_CAP)
    mc = melt.join(msz.select("band", "bv"), ["band", "bv"])
    cand = (
        mc.alias("a")
        .join(
            mc.alias("x"),
            (F.col("a.band") == F.col("x.band"))
            & (F.col("a.bv") == F.col("x.bv"))
            & (F.col("a.vec_id") < F.col("x.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("x.vec_id").alias("id_b"))
        .distinct()
    )
    a = nz.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
                  F.sqrt(_dot(_dbl("embedding"), _dbl("embedding"))).alias("na"))
    x = nz.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"),
                  F.sqrt(_dot(_dbl("embedding"), _dbl("embedding"))).alias("nb"))
    truth = (
        a.join(x, F.col("id_a") < F.col("id_b"))
        .where(
            (_dot(_dbl("ea"), _dbl("eb")) / F.col("na") / F.col("nb"))
            >= _NEAR_DUP_TAU
        )
        .select("id_a", "id_b")
    )
    inter = truth.join(found, ["id_a", "id_b"])
    n_true = truth.agg(F.count("*").alias("n_true"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_found = found.agg(F.count("*").alias("n_found"))
    n_hit = inter.agg(F.count("*").alias("n_hit"))
    return (
        n_true.crossJoin(n_cand).crossJoin(n_found).crossJoin(n_hit).select(
            "n_true",
            "n_candidates",
            "n_found",
            "n_hit",
            F.when(
                F.col("n_true") > 0,
                F.col("n_hit").cast("double") / F.col("n_true"),
            ).alias("recall"),
        )
    )
