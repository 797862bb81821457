"""Property tests for the similarity/dedup operators.

Two invariants that the differential oracle can't express:

1. Winnowing guarantee (Schleimer et al., SIGMOD'03, theorem 1): any two
   texts sharing a substring of length ≥ k + w - 1 (= 11 here) MUST share
   at least one fingerprint. This is the whole point of winnowing — a
   detector with this guarantee never misses a long-enough copy.

2. Banded-LSH dedup soundness: every keep/drop verdict emitted by
   llm_near_dedup_embedding corresponds to a real pair with exact
   cosine ≥ τ and keep_id < drop_id — blocking may lose recall (by
   design) but must never fabricate a duplicate.

The τ-pair kernel tests need numpy and pyarrow only: they drive the
blocked cross-block scan and the guards that fixture-sized groups
(≤218 rows per cell) never reach.
"""

from __future__ import annotations

import string

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from engine.llm_ops import winnow_fingerprints
from engine.registry import QUERIES
from engine.similarity import _BUCKET_CAP, _NEAR_DUP_TAU, _PAIR_BLOCK, _tau_pair_kernel

_ALPHA = string.ascii_lowercase + " "
_text = st.text(alphabet=_ALPHA, min_size=0, max_size=60)
_shared = st.text(alphabet=_ALPHA, min_size=11, max_size=40)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pre_a=_text, post_a=_text, pre_b=_text, post_b=_text, shared=_shared)
def test_winnowing_detects_shared_substring(spark, pre_a, post_a, pre_b, post_b, shared):
    """doc_a and doc_b embed the same ≥11-char substring at arbitrary
    positions inside arbitrary noise → they share ≥1 fingerprint."""
    doc_a = pre_a + shared + post_a
    doc_b = pre_b + shared + post_b
    df = spark.createDataFrame([(0, doc_a), (1, doc_b)], "id long, text string")
    fps = winnow_fingerprints(df, id_col="id", text_col="text")
    both = (
        fps.groupBy("fp")
        .agg(F.countDistinct("id").alias("n"))
        .where(F.col("n") == 2)
        .count()
    )
    assert both >= 1, f"no shared fingerprint for shared substring {shared!r}"


def test_embedding_dedup_verdicts_are_sound(spark):
    """At sf0.001: every (drop_id, keep_id, cos) verdict is a true ≥ τ
    cosine pair (recomputed from raw embeddings), keep_id < drop_id, and
    keep_id is the smallest qualifying CANDIDATE neighbor (blocking may
    hide smaller true neighbors — soundness, not completeness)."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    out = {
        (r["drop_id"], r["keep_id"]): r["cos"]
        for r in QUERIES["llm_near_dedup_embedding"](spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    true_pairs = {
        (b, a): round(c, 6)
        for a, b, c in con.execute(
            """
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings)
            SELECT a.vec_id, b.vec_id,
                   list_dot_product(a.v, b.v)
                     / sqrt(list_dot_product(a.v, a.v))
                     / sqrt(list_dot_product(b.v, b.v)) AS cos
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            """
        ).fetchall()
        if c >= _NEAR_DUP_TAU
    }
    for (drop_id, keep_id), cos in out.items():
        assert keep_id < drop_id
        assert (drop_id, keep_id) in true_pairs, (
            f"verdict ({drop_id}, {keep_id}) is not a true ≥ τ pair"
        )
        assert abs(true_pairs[(drop_id, keep_id)] - cos) <= 1e-6


def test_clustered_ann_recall_at_operating_point(spark, sf_dir):
    """The round-5 evidence keys' headline claim (VERDICT r04 item 4):
    on the clustered corpus — the deployment shape — both registered ANN
    pipelines reach recall >= 0.9 while scanning <= 5% of the corpus.
    The driver's hash gate proves the VALUES are engine-invariant; this
    test pins the THRESHOLD so a regression that degrades recall (or
    silently widens the scan) fails even while remaining hash-consistent."""
    from engine import registry

    registry.load_all()
    for key in ("llm_ann_ivf_clustered", "llm_ann_pq_clustered"):
        row = QUERIES[key](spark, sf_dir).select("recall", "scan_frac").first()
        assert row.recall >= 0.9, f"{key}: recall {row.recall} < 0.9"
        assert row.scan_frac <= 0.05, f"{key}: scan {row.scan_frac} > 5%"


def test_dedup_clusters_distributed_rounds_match_driver_finish(spark, sf_dir, monkeypatch):
    """r11 loop rework pin: the contraction loop's distributed-rounds path
    (lazy labels chain, per-round checkpointed mins, measured broadcast
    hints, edge-sized tail shuffles) must reach the IDENTICAL
    component-min fixpoint as the driver union-find finish. The fixture
    graph sits under the 64k-edge threshold, so the default run exits on
    round 0; forcing the threshold to 0 makes every round run distributed
    — the two label sets must be row-identical (labels are
    algorithm-invariant: per-vertex component minimum)."""
    from engine import similarity

    key = QUERIES["llm_dedup_clusters"]
    base = {(r.vec_id, r.cluster_id) for r in key(spark, sf_dir).collect()}
    monkeypatch.setattr(similarity, "_FINISH_THRESHOLD", 0)
    forced = {(r.vec_id, r.cluster_id) for r in key(spark, sf_dir).collect()}
    assert similarity.LAST_PROPAGATION_ROUNDS > 0, "forced path did not run rounds"
    assert forced == base
    # the loop must restore the session's shuffle partitioning
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def _group(mat: np.ndarray, ids: np.ndarray) -> pa.Table:
    """One verifier group as it arrives from applyInArrow."""
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(mat.astype(np.float32)), pa.list_(pa.float32())),
        }
    )


@pytest.mark.parametrize("n", [_PAIR_BLOCK + 1, 4500])
def test_tau_pair_kernel_blocked_scan_matches_whole_matrix(n):
    """Groups larger than one block: the blocked scan emits exactly the
    ≥ τ pairs of a whole-matrix triu scan, each once with ids_a < ids_b,
    and the same cosines up to summation-order noise."""
    rng = np.random.default_rng(n)
    mat = rng.standard_normal((n, 16))
    ids = rng.permutation(np.arange(n) * 3 + 7)  # unsorted, with gaps
    ida, idb, cos = _tau_pair_kernel(_group(mat, ids))

    order = np.argsort(ids)
    ref = mat.astype(np.float32).astype(np.float64)[order]
    ref /= np.linalg.norm(ref, axis=1, keepdims=True)
    iu = np.triu_indices(n, k=1)
    c = (ref @ ref.T)[iu]
    keep = c >= _NEAR_DUP_TAU
    want = dict(zip(zip(ids[order][iu[0][keep]], ids[order][iu[1][keep]]), c[keep]))

    got = dict(zip(zip(ida, idb), cos))
    assert len(got) == len(ida), "a pair was emitted twice"
    assert (ida < idb).all()
    rank = np.sort(ids)
    blk_a = np.searchsorted(rank, ida) // _PAIR_BLOCK
    blk_b = np.searchsorted(rank, idb) // _PAIR_BLOCK
    assert (blk_a < blk_b).any(), "no cross-block pair exercised"
    assert got.keys() == want.keys()
    assert np.allclose([got[k] for k in want], list(want.values()), rtol=0, atol=1e-12)


def test_tau_pair_kernel_rejects_ragged_group():
    tbl = pa.table(
        {
            "vec_id": pa.array([1, 2, 3], pa.int64()),
            "embedding": pa.array([[1.0, 0.0], [1.0, 0.1], [1.0]], pa.list_(pa.float32())),
        }
    )
    with pytest.raises(ValueError, match="ragged"):
        _tau_pair_kernel(tbl)


def test_tau_pair_kernel_cap_and_tiny_groups():
    """Identical vectors pair up at cos 1 — unless the group exceeds the
    cap (then it is dropped whole) or has fewer than 2 rows."""
    n = _BUCKET_CAP + 1
    same = np.ones((n, 4))
    ids = np.arange(n)
    for out in (
        _tau_pair_kernel(_group(same, ids), _BUCKET_CAP),
        _tau_pair_kernel(_group(same[:1], ids[:1])),
    ):
        assert all(len(a) == 0 for a in out)
    ida, _, cos = _tau_pair_kernel(_group(same[:-1], ids[:-1]), _BUCKET_CAP)
    assert len(ida) == _BUCKET_CAP * (_BUCKET_CAP - 1) // 2
    assert np.allclose(cos, 1.0)


def test_tau_pair_kernel_ships_without_the_package(tmp_path):
    """The applyInArrow verifiers call the module-level kernel, and a
    Python worker need not be able to import ``engine`` (the driver
    contract runs from any directory): the pickled kernel must load and
    run in a process that cannot import the package."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    blob = tmp_path / "kernel.pkl"
    blob.write_bytes(cloudpickle.dumps(_tau_pair_kernel))
    code = (
        "import importlib.util, pickle, sys\n"
        "import pyarrow as pa\n"
        "assert importlib.util.find_spec('engine') is None\n"
        "kernel = pickle.load(open(sys.argv[1], 'rb'))\n"
        "emb = pa.array([[1.0, 0.0], [1.0, 0.1], [0.0, 1.0]], pa.list_(pa.float32()))\n"
        "ida, idb, _ = kernel(pa.table({'vec_id': [5, 3, 9], 'embedding': emb}))\n"
        "print(ida.tolist(), idb.tolist())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code, str(blob)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["[3]", "[5]"]
