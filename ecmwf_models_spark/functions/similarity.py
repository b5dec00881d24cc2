"""Embedding similarity search: brute-force cosine top-k baseline, two
approximate top-k families (cross-polytope LSH for near-random corpora,
IVF-Flat for clustered ones), plus embedding-cosine near-dup pairs.

The embedding column is array<float|double>. Dot products / norms are
built-in higher-order functions (F.aggregate / F.zip_with) — JVM-side, no
Python in the hot path. Hash rotations, hyperplanes and IVF centroids are
derived deterministically (seeded numpy / lowest ids), so no RNG state is
shipped and each index can be materialized partitioned by its probe key:
query-time work is then O(probed partitions), the 100 TB scale path.
"""

from __future__ import annotations

import math

import pandas as pd  # module-level: pandas_udf resolves stringified hints
from pyspark.sql import Column, DataFrame, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_cosine(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k by cosine to a constant query vector.
    One scan + one top-k (sort spilled partially, limit pushed into the
    shuffle as TakeOrderedAndProject) — the correctness baseline."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embeddings.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane from a hash — identical
    on every executor with zero RNG state shipped."""
    import numpy as np

    rs = np.random.RandomState(0xC0FFEE + plane_idx)
    v = rs.standard_normal(dim)
    return (v / np.linalg.norm(v)).tolist()


def with_lsh_bucket(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) bucket id: n_planes sign
    bits packed into a long column `lsh_bucket`. Vectors in the same
    bucket are likely close in angle — the blocking key of
    cosine_near_dup_pairs."""
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, i)])
        bit = (dot(F.col(vec_col), plane) > 0).cast("long")
        bucket = bucket + F.shiftleft(bit, i)
    return embeddings.withColumn("lsh_bucket", bucket)


def lsh_bucket_sizes(
    embeddings: DataFrame,
    dim: int | None = None,
    n_planes: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucket-size histogram for the near-dup LSH: the operational check
    that sizes max_bucket (and counts what a given cap would skip).
    One narrow map + one map-side-combining groupBy."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    return (
        with_lsh_bucket(embeddings, dim, n_planes, vec_col)
        .groupBy("lsh_bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


# ---------------------------------------------------------------- cross-polytope


def _cp_rotation(dim: int, table: int):
    """Deterministic pseudo-random rotation for cross-polytope LSH
    (Andoni et al. 2015, "Practical and Optimal LSH for Angular
    Distance"): QR of a seeded Gaussian matrix, entries quantized to 6
    decimals so the SAME matrix can be inlined compactly as SQL literals
    in the DuckDB oracle (quantization perturbs the hash boundary by
    ~1e-6 — irrelevant to hash quality, and both engines then use
    bit-identical weights). Identical on driver and every executor with
    zero RNG state shipped."""
    import numpy as np

    rs = np.random.RandomState(0xC0FFEE + 7919 * (table + 1))
    q, _ = np.linalg.qr(rs.standard_normal((dim, dim)))
    return np.round(q, 6)


def with_cp_buckets(
    embeddings: DataFrame,
    dim: int,
    n_tables: int = 12,
    vec_col: str = "embedding",
    out: str = "cp_buckets",
) -> DataFrame:
    """Cross-polytope bucket ids for ALL tables in one pass: bucket =
    signed argmax coordinate of the rotated vector (2*dim buckets per
    table — a strictly better angular hash family than hyperplane signs:
    measured on the sf0.1 corpus it reaches recall 0.89 at 29% scan, where
    the best hyperplane-LSH setting measured reached 0.63 at 30%).

    One Arrow-batched pandas UDF: the L rotations are stacked into a
    single dim x (L*dim) matrix applied as ONE numpy matmul per batch —
    vectorized across rows and tables, no per-row Python, no shuffle.
    The closure ships L*dim*dim doubles once per executor (~400 KB at
    L=12, dim=64)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rot = np.hstack([_cp_rotation(dim, t) for t in range(n_tables)])
    n_t = n_tables

    @pandas_udf("array<int>")
    def _assign(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        p = (x @ rot).reshape(len(x), n_t, dim)
        am = np.abs(p).argmax(axis=2)
        pos = (
            np.take_along_axis(p, am[:, :, None], axis=2)[:, :, 0] > 0
        )
        b = (am * 2 + pos).astype(np.int32)
        return pd.Series(list(b))

    return embeddings.withColumn(out, _assign(F.col(vec_col)))


def cp_probes(
    query_vec: list[float], n_tables: int = 12, m_probe: int = 4
) -> list[list[int]]:
    """Query-directed probe sets, driver-side: per table, the m_probe
    signed axes with the largest rotated-query projections — the
    cross-polytope analogue of margin-ranked multi-probe LSH (probe where
    the query itself nearly hashed, not a uniform hamming ball)."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    dim = len(q)
    out = []
    for t in range(n_tables):
        p = q @ _cp_rotation(dim, t)
        vals = np.concatenate([p, -p])
        order = np.argsort(-vals, kind="stable")[:m_probe]
        out.append(
            [
                int(o) * 2 + 1 if o < dim else (int(o) - dim) * 2
                for o in order
            ]
        )
    return out


def cp_candidates(
    embeddings: DataFrame,
    query_vec: list[float],
    n_tables: int = 12,
    m_probe: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Rows scanned by a cross-polytope probe: candidate iff ANY table's
    bucket is in that table's probe set — a single pushed-down OR-of-IN
    filter over the one-pass bucket array, no shuffle, no join. Exposed
    separately so recall harnesses can measure the scanned fraction
    (count(candidates)/count(all)) the approximation actually pays."""
    dim = len(query_vec)
    b = with_cp_buckets(embeddings, dim, n_tables, vec_col)
    cond = None
    for t, probes in enumerate(cp_probes(query_vec, n_tables, m_probe)):
        c = F.col("cp_buckets")[t].isin(probes)
        cond = c if cond is None else (cond | c)
    return b.where(cond)


def ann_topk_cp(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_tables: int = 12,
    m_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-polytope multi-table approximate top-k: exact cosine over
    the union of probed buckets across n_tables independent rotations.
    Defaults (12 tables, 4 probes) measured on the sf0.1 corpus: recall@10
    = 0.893 at a 29.3% scanned fraction (BENCH/ann_recall.json). With
    the buckets written as partition columns (write_cp_index, one
    directory tree per table) the probe set becomes partition pruning at
    100 TB."""
    cands = cp_candidates(embeddings, query_vec, n_tables, m_probe, vec_col)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        cands.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_seed_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF-Flat coarse quantizer: the n_centroids lowest-id
    vectors serve as centroids (collected driver-side — n_centroids*dim
    floats, tiny at any corpus size). A k-means refinement would drop in
    here (each Lloyd iteration is one broadcast argmax + one groupBy
    mean), but training is orthogonal to the query path; seed centroids
    keep the whole index reproducible with zero iterations."""
    rows = (
        embeddings.select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
        )
        .orderBy("cid")
        .limit(n_centroids)  # n LOWEST ids — works for any id space,
        .collect()           # not just 0-based dense ids
    )
    if not rows:
        raise ValueError("ivf_seed_centroids: embeddings table is empty")
    return [(int(r["cid"]), [float(x) for x in r["cvec"]]) for r in rows]


def ivf_lloyd_iterate(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iterations: int = 1,
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd refinement of the IVF coarse quantizer. Each
    iteration is exactly the two cheap distributed steps: assign =
    broadcast argmax over centroid literals (with_ivf_cell, no shuffle),
    update = per-(cell, dim) mean via one posexplode + map-side-combining
    groupBy (n*dim rows through one shuffle of |cells|*dim groups).
    Collected result is n_centroids*dim floats — tiny at any corpus size.
    Empty cells keep their previous centroid (standard k-means handling).
    Means are then L2-normalized so the argmax stays a pure cosine
    quantizer (spherical k-means)."""
    for _ in range(iterations):
        assigned = with_ivf_cell(embeddings, centroids, vec_col)
        rows = (
            assigned.select(
                "ivf_cell", F.posexplode(F.col(vec_col)).alias("pos", "v")
            )
            .groupBy("ivf_cell", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("ivf_cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .collect()
        )
        new = {
            int(r["ivf_cell"]): [float(x["m"]) for x in r["pm"]]
            for r in rows
        }

        def _unit(v: list[float]) -> list[float]:
            n = math.sqrt(sum(x * x for x in v)) or 1.0
            return [x / n for x in v]

        centroids = [
            (cid, _unit(new[cid])) if cid in new else (cid, cv)
            for cid, cv in centroids
        ]
    return centroids


def recall_at_k(
    approx: DataFrame, exact: DataFrame, id_col: str = "vec_id"
) -> float:
    """recall@k of an approximate top-k result against the exact one:
    |approx ids ∩ exact ids| / |exact ids|. Driver-side over two k-row
    results — the standard ANN quality metric."""
    exact_ids = {r[id_col] for r in exact.select(id_col).collect()}
    if not exact_ids:
        return 1.0
    approx_ids = {r[id_col] for r in approx.select(id_col).collect()}
    return len(approx_ids & exact_ids) / len(exact_ids)


def ivf_probes(
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    n_probe: int,
) -> list[int]:
    """The n_probe centroid ids most cosine-similar to the query, ties to
    the lower id. Driver-side, with the same left-fold dot/sqrt
    arithmetic as the engine, so the probe set is reproducible."""

    def _cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    ranked = sorted(centroids, key=lambda c: (-_cos(c[1], query_vec), c[0]))
    return [cid for cid, _ in ranked[:n_probe]]


def with_ivf_cell(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out: str = "ivf_cell",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid — one narrow map
    over an array of centroid literals (same zero-shuffle shape as
    with_cp_buckets): no join, no aggregation, scales embarrassingly.
    Ties break to the lower centroid id (max over (sim, -cid))."""
    structs = [
        F.struct(
            cosine(
                F.col(vec_col), F.array(*[F.lit(float(x)) for x in cv])
            ).alias("sim"),
            F.lit(-cid).alias("negcid"),
        )
        for cid, cv in centroids
    ]
    best = F.array_max(F.array(*structs))
    return embeddings.withColumn(out, (-best["negcid"]).cast("int"))


def ann_topk_ivf(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k: probe only the n_probe inverted lists whose
    centroids are most cosine-similar to the query. With the assignment
    written as a partition column (write_ivf_index), the probe set
    becomes partition pruning; here it is a pushed-down IN filter over
    the map-computed cell id. Driver-side centroid ranking is
    ivf_probes. lloyd_iters > 0 refines the seed quantizer with that
    many spherical-k-means iterations (better-balanced cells, higher
    recall at the same n_probe; see tests/test_ann_recall.py for the
    measured effect). The default 0 keeps the index bit-reproducible
    independent of float-summation order. Pass `centroids` (from
    ivf_seed_centroids / ivf_lloyd_iterate) to reuse a quantizer across
    many queries — building it is query-independent work, the
    index-once/query-many contract (n_centroids/lloyd_iters are then
    ignored)."""
    cents = centroids
    if cents is None:
        cents = ivf_seed_centroids(embeddings, n_centroids, id_col, vec_col)
        if lloyd_iters:
            cents = ivf_lloyd_iterate(
                embeddings, cents, lloyd_iters, vec_col
            )
    probes = ivf_probes(cents, query_vec, n_probe)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        with_ivf_cell(embeddings, cents, vec_col)
        .where(F.col("ivf_cell").isin(probes))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-Flat index — the index-once/query-many form of the
    coarse-quantizer path: the embedding table WRITTEN partitioned by
    ivf_cell, so ann_topk_ivf_indexed probes the n_probe most-similar
    inverted lists via PARTITION PRUNING (directory-level skip) instead
    of recomputing the full-table cell assignment per query. At 100 TB
    that is the difference between O(probed cells / n_centroids of the
    data) and O(all data) per query.

    The quantizer (centroids from ivf_seed_centroids /
    ivf_lloyd_iterate) is persisted ALONGSIDE the data as a tiny parquet
    table under <path>/_quantizer — an underscore directory, so table
    reads skip it, and it travels with the index on any
    Hadoop-compatible filesystem (no driver-local file I/O).
    Repartitioning by cell keeps one writer per cell partition — no
    small-file explosion."""
    spark = embeddings.sparkSession
    b = with_ivf_cell(embeddings, centroids, vec_col)
    (
        b.repartition("ivf_cell")
        .write.mode("overwrite")
        .partitionBy("ivf_cell")
        .parquet(path)
    )
    q = spark.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in centroids],
        "cid int, cvec array<double>",
    )
    q.coalesce(1).write.mode("overwrite").parquet(f"{path}/_quantizer")


def load_ivf_quantizer(spark, path: str) -> list[tuple[int, list[float]]]:
    """Read back the persisted quantizer (sorted by centroid id —
    deterministic regardless of file layout)."""
    rows = spark.read.parquet(f"{path}/_quantizer").orderBy("cid").collect()
    return [(int(r["cid"]), [float(x) for x in r["cvec"]]) for r in rows]


def ann_topk_ivf_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query the materialized IVF index: identical semantics to ann_topk_ivf
    with a prebuilt quantizer, but the probe set prunes PARTITIONS of
    the written table (asserted in tests/test_similarity.py) — no
    per-query assignment scan. The probe set is ivf_probes, as in
    ann_topk_ivf. A query whose dimensionality differs from the stored
    vectors fails loud — zip_with over unequal arrays would otherwise
    yield NULL dot products and a silently-garbage top-k."""
    cents = load_ivf_quantizer(spark, index_path)
    if cents and len(cents[0][1]) != len(query_vec):
        raise ValueError(
            f"query vector has dim {len(query_vec)} but index "
            f"{index_path} stores dim {len(cents[0][1])} vectors"
        )
    probes = ivf_probes(cents, query_vec, n_probe)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    idx = spark.read.parquet(index_path)
    return (
        idx.where(F.col("ivf_cell").isin(probes))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def write_cp_index(
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_tables: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the cross-polytope multi-table index — the
    index-once/query-many form of the best-recall hash family
    (BENCH/ann_recall: 0.89 recall@10 at 29% scan). A row belongs to ONE
    bucket per table, so the layout is L directory trees: posexplode the
    one-pass bucket array and write partitioned by (cp_table, cp_bucket)
    — at query time each table's probe list prunes directories under its
    own tree. Only (id, vector) travel into the index (it is an index,
    not the table): the written size is L x the vector column, the
    standard multi-table LSH storage trade, and any other column comes
    from a broadcast-free id join back to the base table. Repartitioning
    by the partition keys keeps one writer per directory — no small-file
    explosion at cluster scale."""
    b = with_cp_buckets(embeddings, dim, n_tables, vec_col)
    (
        b.select(
            id_col,
            vec_col,
            F.posexplode("cp_buckets").alias("cp_table", "cp_bucket"),
        )
        .repartition("cp_table", "cp_bucket")
        .write.mode("overwrite")
        .partitionBy("cp_table", "cp_bucket")
        .parquet(path)
    )


def ann_topk_cp_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    n_tables: int = 12,
    m_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query the materialized cross-polytope index: identical semantics
    to ann_topk_cp (same query-directed probe sets, same exact-cosine
    rerank) but the OR-of-(table, bucket) predicate prunes PARTITIONS of
    the written trees (asserted in tests/test_similarity.py) instead of
    filtering a full scan. A vector probed by several tables appears
    once per tree, so candidates dedup by id before the rerank — a
    shuffle over the candidate set only, not the corpus. Dimension
    mismatches fail loud, same contract as ann_topk_ivf_indexed."""
    idx = spark.read.parquet(index_path)
    first = idx.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is not None and first["d"] != len(query_vec):
        raise ValueError(
            f"query vector has dim {len(query_vec)} but index "
            f"{index_path} stores dim {first['d']} vectors"
        )
    cond = None
    for t, probes in enumerate(cp_probes(query_vec, n_tables, m_probe)):
        c = (F.col("cp_table") == t) & F.col("cp_bucket").isin(probes)
        cond = c if cond is None else (cond | c)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        idx.where(cond)
        .dropDuplicates([id_col])
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket self-join (only
    same-bucket vectors meet) + exact cosine verify. The scale path for
    embedding dedup of a 100 TB corpus; brute force would be O(n^2).

    max_bucket bounds the worst case the same way lsh_candidate_pairs
    does for MinHash (functions/text.py): with only 2^n_planes buckets an
    angularly clustered corpus can drop a large fraction of all vectors
    into ONE bucket, making the same-bucket self-join O(n^2) inside a
    single key. Buckets above the cap are excluded from candidate
    generation (count them via lsh_bucket_sizes below — at cluster scale,
    re-run the oversized buckets with more planes rather than eating a
    quadratic join). Default None = exhaustive (the cap is OPT-IN, like
    minhash_dedup_pairs' — a silent default cap would drop near-dups of
    hot buckets with no signal to the caller); production jobs at corpus
    scale should pass a cap and watch lsh_bucket_sizes."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    b = with_lsh_bucket(embeddings, dim, n_planes, vec_col).select(
        F.col(id_col), F.col(vec_col), "lsh_bucket"
    )
    if max_bucket is not None:
        sizes = b.groupBy("lsh_bucket").agg(
            F.count(F.lit(1)).alias("_bucket_n")
        )
        b = b.join(
            sizes.where(F.col("_bucket_n") <= max_bucket), "lsh_bucket"
        ).drop("_bucket_n")
    x, y = b.alias("x"), b.alias("y")
    return (
        x.join(
            y,
            (F.col("x.lsh_bucket") == F.col("y.lsh_bucket"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.round(
                cosine(F.col(f"x.{vec_col}"), F.col(f"y.{vec_col}")), 6
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )
