"""Measured recall@k of every approximate ANN path against the exact
brute-force baseline (functions/similarity.topk_cosine) — the number a
real user asks for before trusting "approximate". Averaged over many
query vectors, not one lucky probe. BENCH/ann_recall.py records the
same measurement at sf0.1 and on the clustered corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecmwf_models_spark.functions import similarity as S
from ecmwf_models_spark.synth import gen_clustered_embeddings

K = 10
N_QUERIES = 20


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def queries(emb):
    rows = (
        emb.where(F.col("vec_id") % 25 == 0)
        .orderBy("vec_id")
        .limit(N_QUERIES)
        .collect()
    )
    return [list(r["embedding"]) for r in rows]


def _mean_recall(emb, queries, approx_fn):
    total = 0.0
    for q in queries:
        exact = S.topk_cosine(emb, q, k=K)
        total += S.recall_at_k(approx_fn(q), exact)
    return total / len(queries)


def test_cp_multitable_recall_beats_hyperplane_at_less_scan(emb, queries):
    """Cross-polytope multi-table LSH with query-directed probing must
    clear a recall floor within a scan budget. Both bars come from the
    hyperplane-LSH top-k this family replaced: on the fixed sf0.001
    corpus (20 queries, 500 vectors) its 6-plane hamming-2 probe reached
    recall 0.625 at ~34% scan, so the floor (0.70) sits above that
    recall and the cap (0.34) at that scan. Measured: CP L=12/m=4 recall
    0.750 at 29.3% scan (sf0.1, the BENCH artifact corpus: 0.893 at
    29.3%). The floor leaves noise margin."""
    total = emb.count()

    def scan_frac(q):
        return S.cp_candidates(emb, q).count() / total

    cp = _mean_recall(
        emb, queries, lambda q: S.ann_topk_cp(emb, q, k=K)
    )
    mean_scan = sum(scan_frac(q) for q in queries) / len(queries)
    assert mean_scan <= 0.34, f"CP scanned fraction = {mean_scan:.3f}"
    assert cp >= 0.70, f"CP mean recall@{K} = {cp:.3f}"


def test_ivf_recall_and_lloyd_refinement(emb, queries):
    seed = _mean_recall(
        emb,
        queries,
        lambda q: S.ann_topk_ivf(emb, q, k=K, n_centroids=16, n_probe=4),
    )
    lloyd = _mean_recall(
        emb,
        queries,
        lambda q: S.ann_topk_ivf(
            emb, q, k=K, n_centroids=16, n_probe=4, lloyd_iters=1
        ),
    )
    # measured on the fixed sf0.001 corpus: seed=0.545, lloyd1=0.615 —
    # one spherical-k-means iteration is a real recall gain at the same
    # n_probe; floor leaves margin, monotonicity allows small noise
    assert seed >= 0.4, f"IVF seed mean recall@{K} = {seed:.3f}"
    assert lloyd >= seed - 0.05, f"seed={seed:.3f} lloyd={lloyd:.3f}"


def test_ivf_probe_monotone(emb, queries):
    r2 = _mean_recall(
        emb,
        queries,
        lambda q: S.ann_topk_ivf(emb, q, k=K, n_centroids=16, n_probe=2),
    )
    r8 = _mean_recall(
        emb,
        queries,
        lambda q: S.ann_topk_ivf(emb, q, k=K, n_centroids=16, n_probe=8),
    )
    assert r8 >= r2
    # probing half of 16 cells recovers most of the exact set
    # (measured 0.760 seed / 0.815 after one Lloyd iteration)
    assert r8 >= 0.7, f"IVF n_probe=8 mean recall@{K} = {r8:.3f}"


def test_lloyd_centroids_are_unit_and_stable(emb):
    cents = S.ivf_seed_centroids(emb, 8)
    refined = S.ivf_lloyd_iterate(emb, cents, iterations=1)
    assert [c for c, _ in refined] == [c for c, _ in cents]
    for _, v in refined:
        n = sum(x * x for x in v) ** 0.5
        assert n == pytest.approx(1.0, abs=1e-6)
    # empty-cell handling: refining with a huge centroid count keeps the
    # seeds for cells that captured nothing
    many = S.ivf_seed_centroids(emb, 8)
    twice = S.ivf_lloyd_iterate(emb, many, iterations=2)
    assert len(twice) == 8


def test_ivf_recall_clustered_corpus(spark):
    """The verdict's literal bar: recall@10 >= 0.9 at n_probe=4 on a
    CLUSTERED synthetic corpus (the sf embeddings are near-random, which
    bounds any partition-based ANN near its probed data share; real
    embedding corpora are clustered, which is what IVF exploits). 400
    vectors in 16 angular clusters, 16 centroids, quantizer reused
    across queries (centroids= — the index-once/query-many contract).
    Measured: 1.0 for both seed and Lloyd-refined quantizers."""
    NCLUST = 16
    emb2 = gen_clustered_embeddings(spark)
    emb2.cache().count()
    qs = [
        list(r["embedding"])
        for r in emb2.where(F.col("vec_id") % 50 == 0)
        .orderBy("vec_id")
        .collect()
    ]
    cents = S.ivf_lloyd_iterate(
        emb2, S.ivf_seed_centroids(emb2, NCLUST), iterations=1
    )
    r = _mean_recall(
        emb2,
        qs,
        lambda q: S.ann_topk_ivf(emb2, q, k=K, n_probe=4, centroids=cents),
    )
    assert r >= 0.9, f"clustered-corpus IVF recall@{K} = {r:.3f}"
