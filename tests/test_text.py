"""Text dedup / analysis operators over the driver documents table."""

import pytest
from pyspark.sql import functions as F

from ecmwf_models_spark.functions import text as X


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df.cache().count()
    return df


def test_exact_dedup(spark):
    data = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z"), (4, "a b c")],
        ["doc_id", "text"],
    )
    out = X.exact_dedup(data).orderBy("keep_doc_id").collect()
    assert len(out) == 2
    assert out[0]["keep_doc_id"] == 1 and out[0]["n_copies"] == 3
    assert out[1]["keep_doc_id"] == 3 and out[1]["n_copies"] == 1


def test_shingles_and_tokens(spark):
    df = spark.createDataFrame([(1, "The quick brown fox jumps")], ["doc_id", "text"])
    row = df.select(
        X.tokens("text").alias("t"),
        X.shingles(X.tokens("text"), 3).alias("s"),
    ).first()
    assert row["t"] == ["the", "quick", "brown", "fox", "jumps"]
    assert row["s"] == [
        "the quick brown",
        "quick brown fox",
        "brown fox jumps",
    ]


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "completely different words entirely here now")],
        ["doc_id", "text"],
    )
    sigs = {r["doc_id"]: r["signature"] for r in
            X.minhash_signature(df, num_hashes=16).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_minhash_lsh_finds_near_dups(spark, docs):
    # plant a near-dup pair
    base = docs.limit(0)
    planted = spark.createDataFrame(
        [
            (9001, "spark window join filter agg scan table row value "
                   "batch stream sort hash merge column line part"),
            (9002, "spark window join filter agg scan table row value "
                   "batch stream sort hash merge column line PART"),
            (9003, "unrelated totally different text about weather "
                   "rainfall humidity sunshine clouds storms wind"),
        ],
        ["doc_id", "text"],
    )
    _ = base
    pairs = X.minhash_dedup_pairs(
        planted, num_hashes=32, bands=8, threshold=0.5
    ).collect()
    found = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs}
    assert (9001, 9002) in found
    assert all(9003 not in p for p in found)


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x")], ["doc_id", "text"]
    )
    out = X.ngram_jaccard_pairs(df, shingle_n=2, threshold=0.0).collect()
    assert len(out) == 1
    # shingle sets: {ab,bc,cd,de} vs {ab,bc,cd,dx}: inter 3, union 5
    assert abs(out[0]["jaccard"] - 0.6) < 1e-9


def test_simhash_near_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again today"),
            (2, "the quick brown fox jumps over the lazy dog again tomorrow"),
            (3, "entirely unrelated corpus of legal financial statements"),
        ],
        ["doc_id", "text"],
    )
    sh = {r["doc_id"]: r["simhash"] for r in X.simhash(df).collect()}
    assert sh[1] != 0
    ham12 = bin(sh[1] ^ sh[2]).count("1")
    ham13 = bin(sh[1] ^ sh[3]).count("1")
    assert ham12 < ham13
    pairs = X.simhash_near_pairs(df, max_hamming=ham12).collect()
    assert any(
        (r["doc_id_a"], r["doc_id_b"]) == (1, 2) for r in pairs
    )


def test_lang_id_on_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is here"),
            (2, "der hund und die katze ist das beste"),
            (3, "le chat et la maison est les grande"),
            (4, "qwerty zxcvb"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["pred_lang"] for r in X.lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr"
    assert out[4] == "und"


def test_quality_features(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox and the lazy dog."), (2, "!!! ??? ###")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in X.quality_features(df).collect()}
    assert out[1]["quality_score"] > out[2]["quality_score"]
    assert out[2]["punct_ratio"] > out[1]["punct_ratio"]
    assert out[1]["stopword_ratio"] > 0
    assert out[1]["n_tokens"] == 8


def test_token_count_modes(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42")], ["doc_id", "text"])
    r = df.select(
        X.token_count("text").alias("ws"),
        X.token_count("text", bpe=True).alias("bpe"),
    ).first()
    assert r["ws"] == 3          # hello, world, 42
    assert r["bpe"] == 5         # Hello , world ! 42


def test_fingerprint_stable_and_discriminative(spark, docs):
    fp = X.fingerprint(docs.limit(50))
    pdf = fp.toPandas()
    assert pdf["fingerprint"].notna().all()
    # identical text -> identical fingerprint
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "g h i j k l")],
        ["doc_id", "text"],
    )
    vals = {r["doc_id"]: r["fingerprint"] for r in X.fingerprint(df).collect()}
    assert vals[1] == vals[2] != vals[3]


def test_docs_scale_smoke(docs):
    # run the whole family over the real documents table
    assert X.exact_dedup(docs).count() > 0
    assert X.lang_id(docs).where(F.col("pred_lang") == "und").count() < docs.count()
    q = X.quality_features(docs)
    assert q.where(F.col("quality_score") < 0).count() == 0
    assert q.where(F.col("quality_score") > 1).count() == 0


def test_prefix_filter_bounds_candidates_with_universal_shingle(spark):
    """A shingle present in EVERY doc must not make candidate generation
    quadratic: with prefix filtering the universal (max-df) shingle sorts
    last and only enters prefixes of docs whose prefix spans it."""
    # 40 docs sharing one universal trigram; otherwise pairwise-disjoint
    rows = [
        (i, f"common shared shingle unique{i}a unique{i}b unique{i}c "
            f"unique{i}d unique{i}e unique{i}f unique{i}g")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = X.ngram_jaccard_pairs(df, threshold=0.8)
    # no pair is actually >= 0.8 similar
    assert out.count() == 0
    # and the internal candidate volume stays linear-ish: verify via the
    # prefix postings — the universal shingle appears in df=40 docs but
    # only in prefixes where rank <= |A| - ceil(0.8|A|) + 1 = 2 of 8,
    # i.e. never (it has max df, so rank 8 of 8 distinct-ordered).
    from pyspark.sql import Window
    sets = X.shingle_sets(df)
    inv = sets.select(
        "doc_id", F.size("sh").alias("set_n"), F.explode("sh").alias("shingle")
    )
    dfc = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = inv.join(dfc, "shingle")
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix = ranked.withColumn("_rk", F.row_number().over(w)).where(
        F.col("_rk")
        <= F.col("set_n") - F.ceil(F.lit(0.8) * F.col("set_n")) + 1
    )
    multi = (
        prefix.groupBy("shingle").agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1).count()
    )
    assert multi == 0  # no shingle indexed by >1 doc -> zero candidates


def test_prefix_filter_no_false_negatives(spark):
    """Prefix filtering must keep every true pair (exactness contract):
    compare against the brute-force share-any-shingle baseline."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "a completely different sentence about spark and data"),
        (4, "a completely different sentence about spark and metal"),
        (5, "unrelated text with nothing shared at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in X.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    # brute force: verify all pairs
    ids = [r[0] for r in rows]
    pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], ["doc_id_a", "doc_id_b"]
    )
    want = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in X.ngram_jaccard_verify(df, pairs, threshold=0.5).collect()
    }
    assert got == want and len(want) >= 2


def test_lsh_bucket_cap_drops_oversized_buckets(spark):
    """max_bucket bounds worst-case fan-out: 30 identical docs form one
    bucket of 30 -> capped run yields no pairs, uncapped yields 435."""
    same = [(i, "identical text shared by every doc here") for i in range(30)]
    df = spark.createDataFrame(same, ["doc_id", "text"])
    uncapped = X.minhash_dedup_pairs(df, threshold=0.9)
    assert uncapped.count() == 30 * 29 // 2
    capped = X.minhash_dedup_pairs(df, threshold=0.9, max_bucket=10)
    assert capped.count() == 0


def test_simhash_matches_bit_rule(docs):
    """60-bit simhash: recompute every doc's hash in python (md5 token
    hash, +1/-1 bit sums, positive sums set the bit)."""
    import hashlib
    import re

    got = {
        r["doc_id"]: r["simhash"]
        for r in X.simhash(docs).collect()
    }
    want = {}
    for r in docs.select("doc_id", "text").collect():
        toks = re.findall("[a-z0-9]+", r["text"].lower())
        if not toks:
            continue
        sums = [0] * 60
        for t in toks:
            h = int(hashlib.md5(f"0:{t}".encode()).hexdigest()[:15], 16)
            for b in range(60):
                sums[b] += 1 if (h >> b) & 1 else -1
        want[r["doc_id"]] = sum(1 << b for b in range(60) if sums[b] > 0)
    assert len(want) > 1
    assert got == want


def test_spread_widens_narrow_local_input(spark):
    """A createDataFrame input with narrow transforms carries 1-2
    partitions even when spark.sql.shuffle.partitions >= target — spread
    must still widen it (the shuffle-parts heuristic applies only to
    shuffle-DERIVED inputs, detected via the optimized logical plan)."""
    from pyspark.sql import functions as F

    df = (
        spark.createDataFrame([(i, f"doc {i}") for i in range(64)],
                              ["doc_id", "text"])
        .coalesce(1)
        .withColumn("up", F.upper("text"))  # narrow transform
    )
    target = spark.sparkContext.defaultParallelism
    out = X.spread(df)
    assert out.rdd.getNumPartitions() >= min(target, 64) or target <= 1

    # shuffle-derived input at >= target width is left alone (no extra
    # exchange): groupBy output already carries shuffle.partitions layout
    agg = df.groupBy("text").count()
    assert X.spread(agg) is agg
