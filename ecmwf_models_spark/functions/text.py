"""Text analysis + deduplication operators for large-scale training-data
pipelines, all Spark built-ins in the hot path (JVM-side, codegen'd).

Families:
  exact dedup          sha2(text) groupBy
  MinHash + LSH        word-shingles -> one md5 per shingle -> k
                       Kirsch-Mitzenmacher mins -> banded bucket join ->
                       verified Jaccard
  SimHash              60-bit sign-of-bit-sums fingerprint (md5 token hash)
  n-gram Jaccard       set-similarity join via shingle-inverted index
  language ID          stopword-hit n-gram heuristic (plain SQL)
  quality scoring      length / punctuation / stopword / uppercase ratios
  token counting       whitespace + BPE-ish regex
  fingerprinting       min-of-shingle-hash (winnowing-style, md5)

Every hash is md5-derived, so the DuckDB oracle reproduces each family
bit for bit: what the oracle grades is what runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_RE = r"[a-z0-9]+"
BPE_RE = r"\w+|[^\w\s]"

# tiny per-language stopword marker sets for the n-gram heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "y", "es", "los"],
    "zh": ["de", "shi", "le", "zai", "he"],
}

STOPWORDS = LANG_MARKERS["en"]


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Fan a NARROW input out to the session's parallelism before the
    CPU-heavy narrow transforms (tokenize -> shingle -> hash). A 100 TB
    corpus arrives in thousands of splits and this is a no-op; a small
    single-file parquet (one split under maxPartitionBytes) would
    otherwise run the entire shingle pipeline on ONE core — measured 4x
    of the whole MinHash wall-time at sf0.1. Shuffling the raw doc rows
    is negligible next to the shingle explosion they fan into.

    The width probe is df.inputFiles() — a pure plan traversal. NOT
    df.rdd.getNumPartitions(): under AQE, .rdd materializes the final
    physical plan, EXECUTING any upstream shuffle stages at
    plan-construction time (and that work is re-done by the real query
    — exchange reuse does not span query executions). A derived input
    with no file scans ([] inputFiles) splits two ways on the OPTIMIZED
    LOGICAL plan (analysis only — nothing executes): a plan with no
    wide operator (e.g. createDataFrame over a local collection plus
    narrow transforms) carries only 1-2 partitions and IS repartitioned;
    a shuffle-derived plan already carries
    spark.sql.shuffle.partitions-wide layout and is only repartitioned
    when that count is below target — unconditionally repartitioning it
    to defaultParallelism would ADD an exchange, and on a cluster where
    shuffle.partitions > cores it would actually REDUCE parallelism."""
    spark = df.sparkSession
    sc = spark.sparkContext
    target = sc.defaultParallelism if min_parts is None else min_parts
    if target <= 1:
        return df
    files = df.inputFiles()
    if len(files) >= target:
        return df
    if not files:
        # logical (pre-physical) plan string: wide operators mean the
        # input is shuffle-derived and already shuffle.partitions wide
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        wide_ops = (
            "Aggregate", "Join", "Window", "Sort", "Deduplicate",
            "RepartitionByExpression", "Intersect", "Except",
        )
        # "Repartition N, true" is a shuffle; ", false" is coalesce (narrow)
        import re

        wide = any(op in plan for op in wide_ops) or re.search(
            r"Repartition \d+, true", plan
        )
        if wide:
            try:
                shuffle_parts = int(
                    spark.conf.get("spark.sql.shuffle.partitions")
                )
            except (TypeError, ValueError):
                shuffle_parts = target  # "auto" etc. — assume wide enough
            if shuffle_parts >= target:
                return df
    return df.repartition(target)


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.split(F.lower(c), r"[^a-z0-9]+"), lambda t: t != ""
    )


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array column: built-ins only
    (transform over a sequence of start offsets + slice + concat)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


# ------------------------------------------------------------- exact dedup

def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One surviving doc_id (the min) per distinct text hash + group size.
    Hash-groupBy: partial aggregation map-side, scales linearly."""
    return (
        docs.withColumn("text_hash", F.sha2(F.col(text_col), 256))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ------------------------------------------------------------ MinHash/LSH

def portable_hash64(c: Column, seed: int | Column = 0) -> Column:
    """md5-derived 60-bit hash, bit-reproducible in any engine with md5:
    ('0x' || substr(md5(seed || ':' || s), 1, 15))::BIGINT in DuckDB.
    The md5 expression costs more per call than xxhash64, but MinHash
    hashes each shingle once (hash_pair) and SimHash each token once, so
    the shingle explode and the per-doc groupBy dominate (at sf0.1 on 4
    cores an xxhash64 variant ran MinHash ~10% faster and SimHash no
    faster). md5 is kept because DuckDB reproduces it: the oracle grades
    the path that runs."""
    s = F.lit(str(seed)) if isinstance(seed, int) else seed.cast("string")
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", s, c)), 1, 15), 16, 10
    ).cast("long")


def hash_pair(c: Column) -> tuple[Column, Column]:
    """(h1, h2) base hashes for Kirsch-Mitzenmacher seed derivation:
    h_i = h1 + i*h2 simulates k independent hash families from TWO base
    hashes without loss of MinHash/Bloom guarantees (Kirsch & Mitzenmacher,
    "Less Hashing, Same Performance", ESA 2006). Cuts per-shingle hashing
    k-fold: ONE md5 per shingle instead of k full hashes.

    Both 56-bit halves come from that md5;
    h1 + 31*h2 <= 32 * 2^56 = 2^61 < 2^63, so the arithmetic never
    overflows int64 in any engine (DuckDB raises on overflow; Spark wraps
    — staying under 2^63 keeps them identical)."""
    m = F.md5(c)
    h1 = F.conv(F.substring(m, 1, 14), 16, 10).cast("long")
    h2 = F.conv(F.substring(m, 17, 14), 16, 10).cast("long")
    return h1, h2


def shingle_sets(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    materialize: bool = False,
) -> DataFrame:
    """doc_id + distinct word-shingle set. With materialize=True the sets
    are computed ONCE and pinned (localCheckpoint) so a self-joining
    consumer doesn't re-run tokenize+shingle per join side — on a real
    cluster you'd write this to a temp table instead; the shape (one
    narrow row per doc) is the same."""
    sets = spread(docs).select(
        "doc_id",
        F.array_distinct(shingles(tokens(text_col), shingle_n)).alias("sh"),
    )
    return sets.localCheckpoint(eager=True) if materialize else sets


def minhash_signature_from_sets(
    sets: DataFrame, num_hashes: int = 32
) -> DataFrame:
    """doc_id + array<long> MinHash signature from shingle sets: explode
    once, then k independent families as min(hash(shingle, seed_i))
    aggregates — the canonical distributed MinHash.

    Deliberately NOT array_min(transform(shingles, ...)) over an array
    column: ProjectCollapse inlines the shingle expression into every
    lambda body, so a 32-seed transform re-computes it 32x (measured 100x+
    blowup with downstream banding). The aggregate form stays
    whole-stage-codegen'd and partial aggregation collapses each doc's
    shingles map-side before any shuffle.

    The k families are Kirsch-Mitzenmacher-derived (see hash_pair): each
    shingle is hashed ONCE, and family i is the arithmetic h1 + i*h2 —
    hashing cost is O(shingles), not O(shingles * k)."""
    sh = sets.select("doc_id", F.explode("sh").alias("_s"))
    h1, h2 = hash_pair(F.col("_s"))
    sh = sh.select("doc_id", h1.alias("_h1"), h2.alias("_h2"))
    per_doc = sh.groupBy("doc_id").agg(
        *[
            F.min(F.col("_h1") + F.lit(seed) * F.col("_h2")).alias(f"_h{seed}")
            for seed in range(num_hashes)
        ]
    )
    return per_doc.select(
        "doc_id",
        F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("signature"),
    )


def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    return minhash_signature_from_sets(
        shingle_sets(docs, text_col, shingle_n), num_hashes
    )


def minhash_profile(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """doc_id + HASHED shingle set (array<long>) + MinHash signature, in
    ONE aggregation pass and one materialization.

    Two scale/latency wins over the sets-then-signatures pipeline:
      * the dedup working set is arrays of int64 shingle hashes, not
        shingle strings — ~5-10x smaller to store, shuffle and intersect
        (Jaccard on 56-bit hashes equals Jaccard on strings up to a
        ~1e-12 within-doc collision probability, and the DuckDB oracle
        hashes identically so parity is exact either way);
      * one explode -> one groupBy -> one checkpoint instead of two
        checkpointed stages; at bench scale this halves fixed cost (jobs,
        plan compiles), at 100 TB it is one pass over the token stream.

    collect_set carries the distinct hash set; the signature mins ride the
    same (already Object-hash) aggregation for free."""
    sh = spread(docs).select(
        "doc_id", F.explode(shingles(tokens(text_col), shingle_n)).alias("_s")
    )
    h1, h2 = hash_pair(F.col("_s"))
    sh = sh.select("doc_id", h1.alias("_h1"), h2.alias("_h2"))
    prof = sh.groupBy("doc_id").agg(
        F.collect_set("_h1").alias("sh"),
        *[
            F.min(F.col("_h1") + F.lit(seed) * F.col("_h2")).alias(f"_h{seed}")
            for seed in range(num_hashes)
        ],
    ).select(
        "doc_id",
        "sh",
        F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("signature"),
    )
    return prof.localCheckpoint(eager=True) if materialize else prof


def _band_hashes(num_hashes: int, bands: int) -> Column:
    """array of per-band hashes over the `signature` column. Band width is
    resolved at plan time (num_hashes known), so each band hash is one
    flat expression — no lambda re-expansion."""
    r = num_hashes // bands
    cols = []
    for b in range(bands):
        parts = F.concat_ws(
            ",",
            *[F.col("signature")[b * r + j].cast("string") for j in range(r)],
        )
        cols.append(portable_hash64(parts, b))
    return F.array(*cols)


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    num_hashes: int = 32,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature, hash each band, self-join per (band, hash)
    bucket -> candidate pairs (doc_id_a < doc_id_b). Only same-bucket docs
    ever meet — shuffle proportional to bucket sizes, never all-pairs.

    max_bucket caps pathological buckets (e.g. thousands of byte-identical
    docs land in one bucket -> quadratic pairs): buckets larger than the
    cap are dropped from candidate generation. Exact duplicates are the
    cheap case (exact_dedup catches them); the cap bounds worst-case join
    fan-out at 100 TB. Pass signatures MATERIALIZED (localCheckpoint /
    temp table) or the signature pipeline runs once per join side."""
    banded = signatures.select(
        "doc_id",
        F.posexplode(_band_hashes(num_hashes, bands)).alias(
            "band", "band_hash"
        ),
    )
    if max_bucket is not None:
        sizes = banded.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).alias("_bucket_n")
        )
        banded = banded.join(
            sizes.where(F.col("_bucket_n") <= max_bucket),
            ["band", "band_hash"],
        ).drop("_bucket_n")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )


def jaccard_verify_sets(
    sets: DataFrame, pairs: DataFrame, threshold: float = 0.0
) -> DataFrame:
    """Exact Jaccard over precomputed shingle sets for candidate pairs."""
    j = (
        pairs.join(
            sets.select(
                F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a")
            ),
            "doc_id_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b")
            ),
            "doc_id_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
                6,
            ),
        )
    )
    return j.where(F.col("jaccard") >= threshold).select(
        "doc_id_a", "doc_id_b", "jaccard"
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature -> banded candidates ->
    exact Jaccard verification on candidates only.

    Hashed shingle sets + signatures are computed in ONE materialized pass
    (minhash_profile); round 1 ran the tokenize->shingle->32-min pipeline
    three times (both self-join sides + verify) — 158s at sf0.1, now
    bounded by one pass over the token stream."""
    prof = minhash_profile(docs, text_col, num_hashes, shingle_n)
    cands = lsh_candidate_pairs(
        prof.select("doc_id", "signature"), bands, num_hashes, max_bucket
    )
    return jaccard_verify_sets(prof.select("doc_id", "sh"), cands, threshold)


# ---------------------------------------------------------------- SimHash

# portable_hash64's width: the SimHash fingerprint has one bit per hash bit
SIMHASH_BITS = 60


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per doc in ONE aggregation: explode tokens, hash
    each with portable_hash64 (DuckDB-reproducible), then 60 conditional
    sums (+1 if token-hash bit set else -1) per doc — no per-bit
    posexplode (round 1 blew the token table up 64x before the groupBy),
    map-side combinable, whole-stage-codegen'd. A bit is set when its
    sum is positive."""
    tok = spread(docs).select(
        "doc_id", F.explode(tokens(text_col)).alias("tok")
    )
    tok = tok.withColumn("h", portable_hash64(F.col("tok"), 0))
    sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.getbit("h", F.lit(b)) == 1, 1).otherwise(-1)
            ).alias(f"_b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    acc = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        acc = acc + F.when(F.col(f"_b{b}") > 0, F.lit(1 << b)).otherwise(
            F.lit(0).cast("long")
        )
    return sums.select("doc_id", acc.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash. Candidate generation blocks on the four
    15-bit chunks of the 60-bit simhash (pigeonhole: <=3 differing bits
    over 4 chunks -> at least one chunk identical), then verifies full
    Hamming distance — no quadratic join."""
    w = SIMHASH_BITS // 4
    sh = simhash(docs, text_col)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", i * w).bitwiseAND(
                        F.lit((1 << w) - 1)
                    )
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cands.withColumn(
        "hamming", hamming64(F.col("sh_a"), F.col("sh_b")).cast("int")
    ).where(F.col("hamming") <= max_hamming).select(
        "doc_id_a", "doc_id_b", "hamming"
    )


# -------------------------------------------------------- n-gram Jaccard

def ngram_jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact Jaccard over word shingle SETS for given candidate pairs."""
    return jaccard_verify_sets(
        shingle_sets(docs, text_col, shingle_n), pairs, threshold
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact set-similarity join with PREFIX FILTERING (AllPairs/PPJoin
    family: Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06).

    Round 1 generated a candidate for every pair sharing ANY shingle —
    near-quadratic on natural text where stop-shingles bucket almost
    everything. Prefix filtering is the exact fix: order the shingle
    universe globally by (document frequency, shingle); a pair with
    J(A,B) >= t has |A∩B| >= ceil(t*|A|), so at least one common shingle
    must land in A's first |A| - ceil(t*|A|) + 1 shingles (pigeonhole) —
    and likewise for B. Indexing ONLY those prefixes makes candidate
    volume proportional to rare-shingle co-occurrence while provably
    keeping every true pair (no false negatives; verify removes false
    positives). A length filter (t*|A| <= |B| <= |A|/t) prunes further.

    At 100 TB: the df-count and df-join shuffle on `shingle` (well
    distributed), the per-doc prefix rank is a bounded window per doc_id,
    and the candidate self-join touches prefix postings only — the classic
    distributed AllPairs layout."""
    from pyspark.sql import Window

    sets = shingle_sets(docs, text_col, shingle_n, materialize=True)
    inv = sets.select(
        "doc_id", F.size("sh").alias("set_n"), F.explode("sh").alias("shingle")
    )
    df_counts = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = inv.join(df_counts, "shingle")
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix_len = (
        F.col("set_n") - F.ceil(F.lit(threshold) * F.col("set_n")) + 1
    )
    prefix = (
        ranked.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= prefix_len)
        .select("doc_id", "set_n", "shingle")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.set_n") >= F.lit(threshold) * F.col("a.set_n"))
            & (F.col("a.set_n") >= F.lit(threshold) * F.col("b.set_n")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    return jaccard_verify_sets(sets, cands, threshold)


# -------------------------------------------------------------- analysis

def token_count(text: Column | str, bpe: bool = False) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    if bpe:
        return F.size(F.regexp_extract_all(c, F.lit(BPE_RE), 0))
    return F.size(tokens(c))


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit counts (word-boundary regexp count)."""
    c = F.col(text) if isinstance(text, str) else text
    lowered = F.lower(c)
    out = {}
    for lang, words in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        out[lang] = F.size(F.regexp_extract_all(lowered, F.lit(pat), 0))
    return out


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Predicted language = argmax of marker-word hits ('und' on tie-less
    zero). Deterministic tie-break: language order as in LANG_MARKERS."""
    docs = spread(docs)  # per-language regexp scoring: CPU-heavy narrow
    scores = lang_scores(text_col)
    langs = list(scores.keys())
    struct = F.array(
        *[
            F.struct(
                scores[lang].alias("score"),
                F.lit(len(langs) - i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(struct)
    return docs.withColumn(
        "pred_lang",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / uppercase / digit ratios + a
    composite quality score in [0,1]. Pure column expressions."""
    docs = spread(docs)  # 6 regexp passes per doc: CPU-heavy narrow phase
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tok = token_count(c)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    n_upper = F.size(F.regexp_extract_all(c, F.lit(r"[A-Z]"), 0))
    n_digit = F.size(F.regexp_extract_all(c, F.lit(r"[0-9]"), 0))
    n_stop = F.size(
        F.regexp_extract_all(
            F.lower(c), F.lit(r"\b(" + "|".join(STOPWORDS) + r")\b"), 0
        )
    )
    safe = F.greatest(n_chars, F.lit(1)).cast("double")
    out = (
        docs.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tok)
        .withColumn("punct_ratio", F.round(n_punct / safe, 6))
        .withColumn("upper_ratio", F.round(n_upper / safe, 6))
        .withColumn("digit_ratio", F.round(n_digit / safe, 6))
        .withColumn(
            "stopword_ratio",
            F.round(n_stop / F.greatest(n_tok, F.lit(1)).cast("double"), 6),
        )
        .withColumn(
            "mean_token_len",
            F.round(
                n_chars / F.greatest(n_tok, F.lit(1)).cast("double"), 6
            ),
        )
    )
    score = (
        F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0)) * 0.4
        + F.col("stopword_ratio") * 0.3
        + (1 - F.least(F.col("punct_ratio") * 5, F.lit(1.0))) * 0.2
        + (1 - F.least(F.col("digit_ratio") * 5, F.lit(1.0))) * 0.1
    )
    return out.withColumn("quality_score", F.round(score, 6))


def fingerprint(
    docs: DataFrame, text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """Winnowing-style document fingerprint: minimum md5-derived hash over
    word shingles. md5 (not xxhash64) so external engines can reproduce it
    bit-for-bit (the DuckDB oracle)."""
    sh = shingles(tokens(text_col), shingle_n)
    h = F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("decimal(20,0)"),
    )
    return spread(docs).select(
        "doc_id", F.array_min(h).cast("decimal(20,0)").alias("fingerprint")
    )
