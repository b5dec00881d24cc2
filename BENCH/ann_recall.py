"""Recorded recall@k of every approximate ANN path vs the exact
brute-force baseline (the number a user asks before trusting
"approximate") — the artifact behind COVERAGE.md's recall table.

Measures mean recall@10 AND the mean scanned fraction (candidates
examined / corpus size — the cost a probe actually pays) on one corpus
for each side of `ann-index --method`:
  * `sf`: the sf0.1 embeddings table (2000 x 64-d, near-random), queried
    by 30 vectors (every 25th id) — cross-polytope wins here;
  * `clustered`: synth.gen_clustered_embeddings (400 x 16-d, 16 angular
    clusters), queried by its 8 vectors with id % 50 == 0 — IVF wins
    here.
Families: cross-polytope multi-table LSH with query-directed probing,
and IVF-Flat (16 centroids, seed or +1 Lloyd iteration) at several
n_probe. Writes BENCH/ann_recall.json and prints a markdown table.

Run: python BENCH/ann_recall.py   [SPARK_GRAFT_SF_DIR to change corpus]
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

K = 10
N_CENTROIDS = 16


def sweep(emb, query_every, n_queries, cp_configs, ivf_configs):
    """{"n_vectors", "n_queries", "cp", "ivf"} for one corpus, queried by
    the first n_queries vectors with vec_id % query_every == 0;
    cp_configs are (n_tables, m_probe), ivf_configs (lloyd_iters,
    n_probe)."""
    from pyspark.sql import functions as F

    from ecmwf_models_spark.functions import similarity as S

    total = emb.cache().count()
    queries = [
        list(r["embedding"])
        for r in emb.where(F.col("vec_id") % query_every == 0)
        .orderBy("vec_id")
        .limit(n_queries)
        .collect()
    ]
    # query-independent work done ONCE (the index-once/query-many
    # contract): exact baseline id sets per query, and the IVF quantizers
    exact = [
        {r["vec_id"] for r in S.topk_cosine(emb, q, k=K).collect()}
        for q in queries
    ]
    seed = S.ivf_seed_centroids(emb, N_CENTROIDS)
    cents = {0: seed, 1: S.ivf_lloyd_iterate(emb, seed, iterations=1)}

    def measure(approx_fn, cand_fn):
        """(mean recall, mean scanned fraction); cand_fn returns the
        candidate DataFrame a probe scans."""
        rec, scan = 0.0, 0.0
        for i, q in enumerate(queries):
            got = {r["vec_id"] for r in approx_fn(q).collect()}
            rec += len(got & exact[i]) / len(exact[i])
            scan += cand_fn(q).count() / total
        n = len(queries)
        return {"recall": round(rec / n, 3), "scan": round(scan / n, 3)}

    out = {"n_vectors": total, "n_queries": len(queries), "cp": {}, "ivf": {}}
    for n_t, m in cp_configs:
        out["cp"][f"tables{n_t}_probe{m}"] = measure(
            lambda q, n_t=n_t, m=m: S.ann_topk_cp(
                emb, q, k=K, n_tables=n_t, m_probe=m
            ),
            lambda q, n_t=n_t, m=m: S.cp_candidates(
                emb, q, n_tables=n_t, m_probe=m
            ),
        )
    for lloyd, npb in ivf_configs:
        c = cents[lloyd]
        cells = S.with_ivf_cell(emb, c)
        out["ivf"][f"c{N_CENTROIDS}_probe{npb}_lloyd{lloyd}"] = measure(
            lambda q, npb=npb, c=c: S.ann_topk_ivf(
                emb, q, k=K, n_probe=npb, centroids=c
            ),
            lambda q, npb=npb, c=c, cells=cells: cells.where(
                F.col("ivf_cell").isin(S.ivf_probes(c, q, npb))
            ),
        )
    emb.unpersist()
    return out


def main():
    from ecmwf_models_spark.session import get_spark
    from ecmwf_models_spark.synth import gen_clustered_embeddings

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ann-recall", cores=8)
    out = {
        "k": K,
        "sf": {
            "sf_dir": sf_dir,
            **sweep(
                spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
                25,
                30,
                [(10, 4), (12, 4)],
                [(lloyd, npb) for lloyd in (0, 1) for npb in (2, 4, 8)],
            ),
        },
        "clustered": sweep(
            gen_clustered_embeddings(spark),
            50,
            8,
            [(1, 1), (12, 4)],
            [(1, 1), (1, 4)],
        ),
    }

    with open(os.path.join(HERE, "ann_recall.json"), "w") as f:
        json.dump(out, f, indent=2)

    print(f"\nmean recall@{K} and scanned fraction per corpus:\n")
    print("| corpus | path | config | recall@10 | scanned |")
    print("|---|---|---|---|---|")
    for corpus in ("sf", "clustered"):
        for fam in ("cp", "ivf"):
            for cfg, v in out[corpus][fam].items():
                print(f"| {corpus} | {fam} | {cfg} | {v['recall']} | "
                      f"{v['scan']} |")


if __name__ == "__main__":
    main()
