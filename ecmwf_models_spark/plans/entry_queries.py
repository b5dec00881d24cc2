"""Driver-contract queries: every implemented operator family from
SURVEY.md section 2 exercised over the driver testdata tables
(events / documents / embeddings / lineitem / orders / customer / nation),
each paired with an ANSI-SQL DuckDB oracle in ORACLES.

Conventions for oracle parity:
  * every computed column aliased identically in Spark and SQL;
  * float aggregates rounded to 6 decimals on both sides;
  * timestamps emitted as 'yyyy-MM-dd HH:mm:ss' strings (no tz ambiguity);
  * counts cast to bigint on both sides (DuckDB sum(int) is hugeint).

The events table stands in for the transcript bronze table
(user_id = conv_id, value = metric) — FIXTURES.md F6 mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import similarity as SIM
from ..functions import text as TXT
from ..operators import bucket as BKT
from ..operators import dedup as DD
from ..operators import gapfill as GF
from ..operators import masking as M


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fmt(c):
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


def R6(c):
    return F.round(c, 6)


def DEC(c):
    """Order-independent sum carrier: double -> decimal(38,18).

    Double summation is order-dependent (partition / AQE layout changes the
    float error, and round(.,6) then flips values sitting on a rounding
    boundary — the round-1 rollup_monthly_from_daily hash failure). Decimal
    addition is associative, so sums carried as decimal(38,18) are exact and
    identical at ANY parallelism. Spark's double->decimal cast goes through
    the shortest decimal representation (Double.toString); the DuckDB oracle
    mirrors it with CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18)) — verified
    bit-identical per row on the driver testdata."""
    return F.col(c).cast("decimal(38,18)") if isinstance(c, str) else c.cast(
        "decimal(38,18)"
    )


def DSUM(c):
    """sum(decimal) surfaced as double (exact sum, deterministic cast)."""
    return F.sum(DEC(c)).cast("double")


# DuckDB-side equivalent of DEC for oracle SQL strings
def _dec(expr: str) -> str:
    return f"CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,18))"


def _dsum(expr: str) -> str:
    return f"CAST(sum({_dec(expr)}) AS DOUBLE)"


# --------------------------------------------------------------- rollups
#
# These three entries execute the PRODUCTION metric path in
# operators/rollup.py — rollup_from_raw -> rollup_cascade -> finalize —
# not a semantic twin: the events table is shimmed to the transcript
# schema (user_id -> conv_id, value as the metric column) and the oracle
# mirrors the operator's int64 micro-unit fixed point exactly:
# sum = CAST(sum(CAST(floor(value*1e6 + 0.5) AS BIGINT)) AS DOUBLE)/1e6.
# finalize's float32 edge casts are widened back to double for hashing
# (f32 -> f64 widening is exact, and DuckDB applies the identical
# CAST(... AS REAL) rounding first).


def _rollup_tier_df(spark, sf_dir, tier: str):
    from ..operators.rollup import finalize, rollup_from_raw, rollup_cascade

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("conv_id"), "ts", "value"
    )
    out = rollup_from_raw(ev, "hourly", value_cols=("value",))
    if tier in ("daily", "monthly"):
        out = rollup_cascade(out, "daily", value_cols=("value",))
    if tier == "monthly":
        out = rollup_cascade(out, "monthly", value_cols=("value",))
    fin = finalize(out, value_cols=("value",))
    return fin.select(
        F.col("conv_id").alias("user_id"),
        _fmt("bucket_ts").alias("bucket_ts"),
        F.col("n_turns").alias("n_events"),
        F.col("value_sum"),
        F.col("value_avg").cast("double").alias("value_avg"),
        F.col("value_min").cast("double").alias("value_min"),
        F.col("value_max").cast("double").alias("value_max"),
        F.col("value_first").cast("double").alias("value_first"),
        F.col("value_last").cast("double").alias("value_last"),
    )


def q_rollup_hourly(spark, sf_dir):
    """A1/rollup tier-0 through operators/rollup.py rollup_from_raw +
    finalize (the BASELINE.json metric path, int64 micro-unit sums)."""
    return _rollup_tier_df(spark, sf_dir, "hourly")


def q_rollup_daily_from_hourly(spark, sf_dir):
    """A1 cascade tier through operators/rollup.py rollup_cascade."""
    return _rollup_tier_df(spark, sf_dir, "daily")


def q_rollup_monthly_from_daily(spark, sf_dir):
    """A1 two-level cascade through operators/rollup.py rollup_cascade."""
    return _rollup_tier_df(spark, sf_dir, "monthly")


def _oracle_rollup(trunc: str) -> str:
    # mirrors operators/rollup.py exactly: int64 micro sums
    # (floor(x*1e6+0.5), NaN -> NULL is vacuous here), count over the
    # same micro expression, float32 edge casts widened back to double
    micro = "CAST(floor(value * 1000000 + 0.5) AS BIGINT)"
    return f"""
    SELECT user_id,
           strftime(date_trunc('{trunc}', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
           count(*) AS n_events,
           CAST(sum({micro}) AS DOUBLE) / 1000000 AS value_sum,
           CAST(CAST(CAST(sum({micro}) AS DOUBLE) / 1000000 / count({micro})
                AS REAL) AS DOUBLE) AS value_avg,
           CAST(CAST(min(value) AS REAL) AS DOUBLE) AS value_min,
           CAST(CAST(max(value) AS REAL) AS DOUBLE) AS value_max,
           CAST(CAST(arg_min(value, ts) AS REAL) AS DOUBLE) AS value_first,
           CAST(CAST(arg_max(value, ts) AS REAL) AS DOUBLE) AS value_last
    FROM events GROUP BY 1, 2
    """


def q_bucket_6h(spark, sf_dir):
    """A2: assignment to the regular 6-hourly grid
    (operators/bucket.py bucket_col) — global per-bucket counts."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(BKT.bucket_col("ts", 6).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"), R6(DSUM("value")).alias("value_sum"))
        .select(_fmt("bucket").alias("bucket_ts"), "n_events", "value_sum")
    )


ORACLE_BUCKET_6H = """
SELECT strftime(make_timestamp(CAST(floor(epoch(ts)/21600)*21600 AS BIGINT)*1000000),
                '%Y-%m-%d %H:%M:%S') AS bucket_ts,
       count(*) AS n_events,
       round({dsum}, 6) AS value_sum
FROM events GROUP BY 1
""".format(dsum=_dsum("value"))


# ----------------------------------------------------------- dedup / sel

def q_dedup_latest_wins(spark, sf_dir):
    """S4/J4/I4: latest-writer-wins dedup per (user_id, event_type, day)
    through operators/dedup.py latest_final_wins, with ts as the ingest
    time. No ts repeats within a key in the testdata, so the operator's
    payload-hash tiebreak never decides and the oracle's event_id DESC
    tiebreak is vacuous."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    return DD.latest_final_wins(
        ev, keys=("user_id", "event_type", "day"), ingest_col="ts"
    ).select(
        "user_id", "event_type", _fmt("day").alias("day_ts"), "event_id", "value"
    )


ORACLE_DEDUP = """
SELECT user_id, event_type,
       strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day_ts,
       event_id, value
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY user_id, event_type, date_trunc('day', ts)
      ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_h_steps_selection(spark, sf_dir):
    """A2 selection grid: bin each event to the hourly image grid
    (operators/bucket.py with_ts_bucket), then keep the images at hours
    (0,6,12,18) with filter_h_steps (which needs minute = second = 0, so
    it selects on the binned ts, not the raw one)."""
    ev = BKT.with_ts_bucket(_t(spark, sf_dir, "events"), hours=1, out="hour_ts")
    return (
        BKT.filter_h_steps(ev, ts_col="hour_ts")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            R6(DSUM("value")).alias("value_sum"),
        )
    )


ORACLE_H_STEPS = """
SELECT event_type, count(*) AS n_events, round({dsum}, 6) AS value_sum
FROM events WHERE hour(ts) IN (0, 6, 12, 18) GROUP BY 1
""".format(dsum=_dsum("value"))


def q_gapfill_missing_buckets(spark, sf_dir):
    """J3 gap-fill: each user's hourly series made dense by
    operators/gapfill.py gap_fill (generated per-user timeline LEFT JOIN
    observed buckets); count the holes (n_turns == 0)."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("conv_id"),
        BKT.bucket_col("ts", 1).alias("ts_bucket"),
    )
    filled = GF.gap_fill(ev, value_cols=(), hours=1)
    present = F.col("n_turns") > 0
    return filled.groupBy(F.col("conv_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.count(F.when(present, 1)).alias("n_present"),
        F.count(F.when(~present, 1)).alias("n_missing"),
    )


ORACLE_GAPFILL = """
WITH per_bucket AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, count(*) AS n
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi,
         count(*) AS n_present
  FROM per_bucket GROUP BY 1
)
SELECT user_id,
       CAST(date_diff('hour', lo, hi) + 1 AS BIGINT) AS n_buckets,
       n_present,
       CAST(date_diff('hour', lo, hi) + 1 - n_present AS BIGINT) AS n_missing
FROM spans
"""


def q_point_read(spark, sf_dir):
    """S10 point query shape: one conversation's (= user's) full series
    by a key-pruned scan of the events. It does not run
    operators/pointread.py TsReader.read; clibench's DuckDB read check
    and tests/test_pointread.py grade that."""
    ev = _t(spark, sf_dir, "events")
    return ev.where(F.col("user_id") == 42).select(
        "event_id", _fmt("ts").alias("ts_s"), "event_type", "value"
    )


ORACLE_POINT_READ = """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type, value
FROM events WHERE user_id = 42
"""


def q_semijoin_active(spark, sf_dir):
    """P4/J2 subgrid gather: per-user event counts for users with at least
    one signup (broadcast left-semi join, operators/masking.py
    subgrid_gather)."""
    ev = _t(spark, sf_dir, "events")
    signups = ev.where(F.col("event_type") == "signup")
    return (
        M.subgrid_gather(ev, signups, key="user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


ORACLE_SEMIJOIN = """
SELECT user_id, count(*) AS n_events
FROM events
WHERE user_id IN (SELECT user_id FROM events WHERE event_type = 'signup')
GROUP BY 1
"""


def q_antijoin_orphans(spark, sf_dir):
    """North-star anti-join diff shape: customers with no orders
    (left_anti), per market segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


ORACLE_ANTIJOIN = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY 1
"""


def q_minmax_bounds(spark, sf_dir):
    """A6/A7: first/last date + row counts per event_type (the
    get_first_last_image_date analogue)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        _fmt(F.min("ts")).alias("first_ts"),
        _fmt(F.max("ts")).alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_MINMAX = """
SELECT event_type,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
       count(*) AS n_events
FROM events GROUP BY 1
"""


def q_version_coalesce(spark, sf_dir):
    """P8 expver coalesce: per (user, day) prefer the purchase-metric,
    fall back to the view-metric (operators/masking.py
    coalesce_versions)."""
    ev = _t(spark, sf_dir, "events")
    def _favg(et):
        cond = F.col("event_type") == et
        return R6(
            F.sum(F.when(cond, DEC("value"))).cast("double")
            / F.count(F.when(cond, F.col("value")))
        )

    g = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        _favg("purchase").alias("purchase_avg"),
        _favg("view").alias("view_avg"),
    )
    return M.coalesce_versions(g, "purchase_avg", "view_avg", "metric").select(
        "user_id", _fmt("day").alias("day_ts"), "metric"
    )


ORACLE_COALESCE = """
SELECT user_id,
       strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day_ts,
       coalesce(
         round(CAST(sum({dec}) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
               / count(value) FILTER (WHERE event_type = 'purchase'), 6),
         round(CAST(sum({dec}) FILTER (WHERE event_type = 'view') AS DOUBLE)
               / count(value) FILTER (WHERE event_type = 'view'), 6))
           AS metric
FROM events GROUP BY 1, 2
""".format(dec=_dec("value"))


def q_sortedness_check(spark, sf_dir):
    """O1 ordering invariant check (functions/scalar.py is_sorted_within):
    is event_id monotone when ordered by ts, per user?"""
    from ..functions.scalar import is_sorted_within

    ev = _t(spark, sf_dir, "events")
    return is_sorted_within(ev, ["user_id"], ["ts", "event_id"], "event_id")


ORACLE_SORTED = """
SELECT user_id,
       bool_and(prev IS NULL OR event_id >= prev) AS sorted
FROM (
  SELECT user_id, event_id,
         lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
) GROUP BY 1
"""


# --------------------------------------------------------------- TPC-ish

def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            R6(DSUM("l_quantity")).alias("sum_qty"),
            R6(DSUM("l_extendedprice")).alias("sum_base_price"),
            R6(DSUM(disc_price)).alias("sum_disc_price"),
            R6(DSUM(charge)).alias("sum_charge"),
            R6(DSUM("l_quantity") / n).alias("avg_qty"),
            R6(DSUM("l_extendedprice") / n).alias("avg_price"),
            R6(DSUM("l_discount") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round({q}, 6) AS sum_qty,
       round({p}, 6) AS sum_base_price,
       round({dp}, 6) AS sum_disc_price,
       round({ch}, 6) AS sum_charge,
       round({q} / count(*), 6) AS avg_qty,
       round({p} / count(*), 6) AS avg_price,
       round({d} / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY 1, 2
""".format(
    q=_dsum("l_quantity"),
    p=_dsum("l_extendedprice"),
    d=_dsum("l_discount"),
    dp=_dsum("l_extendedprice * (1 - l_discount)"),
    ch=_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)"),
)


def q_revenue_by_nation(spark, sf_dir):
    """J1-shaped dimension equi-joins, both broadcast (customer and nation
    are small dims)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            R6(DSUM("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


ORACLE_REVENUE = """
SELECT n_name, round({r}, 6) AS revenue, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
""".format(r=_dsum("o_totalprice"))


# ------------------------------------------------------------- text ops

def q_exact_dedup_docs(spark, sf_dir):
    """Exact dedup through functions/text.py exact_dedup (sha2-256)."""
    return TXT.exact_dedup(_t(spark, sf_dir, "documents"))


ORACLE_EXACT_DEDUP = """
SELECT sha256(text) AS text_hash, min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_token_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.sum(TXT.token_count("text")).cast("long").alias("total_tokens"),
        F.sum(TXT.token_count("text", bpe=True)).cast("long").alias(
            "total_bpe_tokens"
        ),
        R6(F.avg(TXT.token_count("text"))).alias("avg_tokens"),
    )


ORACLE_TOKEN_COUNTS = r"""
SELECT lang,
       CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
           AS total_tokens,
       CAST(sum(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT)
           AS total_bpe_tokens,
       round(avg(len(regexp_extract_all(lower(text), '[a-z0-9]+'))), 6)
           AS avg_tokens
FROM documents GROUP BY 1
"""


def q_quality_per_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    feats = TXT.quality_features(docs)
    n = F.count(F.lit(1))
    return feats.groupBy("source").agg(
        R6(DSUM("quality_score") / n).alias("avg_quality"),
        R6(DSUM("stopword_ratio") / n).alias("avg_stopword_ratio"),
        R6(DSUM("punct_ratio") / n).alias("avg_punct_ratio"),
        n.alias("n_docs"),
    )


ORACLE_QUALITY = r"""
WITH f AS (
  SELECT source,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok,
         greatest(length(text), 1)::DOUBLE AS safe_chars,
         len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digit,
         len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS n_stop
  FROM documents
), g AS (
  SELECT source,
         round(n_punct / safe_chars, 6) AS punct_ratio,
         round(n_digit / safe_chars, 6) AS digit_ratio,
         round(n_stop / greatest(n_tok, 1)::DOUBLE, 6) AS stopword_ratio,
         n_tok
  FROM f
)
SELECT source,
       round({qsum} / count(*), 6) AS avg_quality,
       round({ssum} / count(*), 6) AS avg_stopword_ratio,
       round({psum} / count(*), 6) AS avg_punct_ratio,
       count(*) AS n_docs
FROM g GROUP BY 1
""".format(
    qsum=_dsum(
        "round(least(n_tok / 50.0, 1.0) * 0.4 + stopword_ratio * 0.3"
        " + (1 - least(punct_ratio * 5, 1.0)) * 0.2"
        " + (1 - least(digit_ratio * 5, 1.0)) * 0.1, 6)"
    ),
    ssum=_dsum("stopword_ratio"),
    psum=_dsum("punct_ratio"),
)


def q_lang_id_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return TXT.lang_id(docs).groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


ORACLE_LANG_ID = r"""
WITH s AS (
  SELECT len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
         len(regexp_extract_all(lower(text), '\b(der|die|und|ist|das)\b')) AS s_de,
         len(regexp_extract_all(lower(text), '\b(le|la|et|est|les)\b')) AS s_fr,
         len(regexp_extract_all(lower(text), '\b(el|la|y|es|los)\b')) AS s_es,
         len(regexp_extract_all(lower(text), '\b(de|shi|le|zai|he)\b')) AS s_zh
  FROM documents
)
SELECT CASE
         WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
         WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
         WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
         WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
         WHEN s_es >= s_zh THEN 'es'
         ELSE 'zh'
       END AS pred_lang,
       count(*) AS n_docs
FROM s GROUP BY 1
"""


def q_fingerprint_docs(spark, sf_dir):
    """Winnowing-style fingerprint, md5-portable (functions/text.py
    fingerprint)."""
    docs = _t(spark, sf_dir, "documents")
    sh = TXT.shingles(TXT.tokens("text"), 3)
    h = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )
    return docs.select("doc_id", F.array_min(h).alias("fingerprint"))


ORACLE_FINGERPRINT = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN [array_to_string(toks[i:i+2], ' ')
                    for i in generate_series(1, len(toks) - 2)]
              ELSE [array_to_string(toks, ' ')]
         END AS shingles
  FROM t
)
SELECT doc_id,
       list_min([('0x' || substr(md5(sh), 1, 15))::BIGINT for sh in shingles])
           AS fingerprint
FROM s
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Set-similarity join via shingle inverted index + exact verify
    (functions/text.py ngram_jaccard_pairs)."""
    docs = _t(spark, sf_dir, "documents")
    return TXT.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.5)


ORACLE_NGRAM_JACCARD = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(toks) >= 3
              THEN [array_to_string(toks[i:i+2], ' ')
                    for i in generate_series(1, len(toks) - 2)]
              ELSE [array_to_string(toks, ' ')]
         END) AS sh
  FROM t
), inv AS (
  SELECT doc_id, unnest(sh) AS shingle FROM s
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM inv a JOIN inv b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b, jaccard FROM (
  SELECT c.doc_id_a, c.doc_id_b,
         round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))),
               6) AS jaccard
  FROM cand c
  JOIN s sa ON sa.doc_id = c.doc_id_a
  JOIN s sb ON sb.doc_id = c.doc_id_b
) WHERE jaccard >= 0.5
"""


# ------------------------------------------------------------ embeddings

def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k (functions/similarity.py topk_cosine),
    query = vec_id 0's embedding."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qvec = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    return SIM.topk_cosine(emb, qvec, k=10)


ORACLE_ANN_TOPK = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
FROM embeddings, q
ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


# ---------------------------------------------- md5-hash dedup (oracled)

def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pipeline (functions/text.py
    minhash_dedup_pairs): its hashes are md5-derived, so the ENTIRE
    pipeline (signature -> banding -> candidates -> verify) reproduces
    bit-for-bit in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return TXT.minhash_dedup_pairs(docs, num_hashes=32, bands=8, threshold=0.5)


_MH_SETS_CTE = """
t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), s0 AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN [array_to_string(toks[i:i+2], ' ')
                    for i in generate_series(1, len(toks) - 2)]
              ELSE [array_to_string(toks, ' ')]
         END AS sh0
  FROM t
), s AS (
  -- hashed shingle SETS (56-bit md5 halves), matching minhash_profile:
  -- Jaccard runs over int64 hash sets on both sides
  SELECT doc_id,
         list_distinct([('0x' || substr(md5(e), 1, 14))::BIGINT
                        for e in sh0]) AS sh
  FROM s0
)"""

# Kirsch-Mitzenmacher families over ONE md5 per shingle (h1 + i*h2, both
# 56-bit halves of the same digest) — mirrors functions/text.py hash_pair
_MH_SIG_COLS = ",\n         ".join(
    "list_min([('0x' || substr(md5(e), 1, 14))::BIGINT"
    " + %d * ('0x' || substr(md5(e), 17, 14))::BIGINT for e in sh0])"
    " AS h%d" % (seed, seed)
    for seed in range(32)
)

_MH_BAND_ROWS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, %d AS band, ('0x' || substr(md5('%d:' || %s), 1, 15))::BIGINT"
    " AS band_hash FROM sig"
    % (
        b,
        b,
        " || ',' || ".join(f"h{b * 4 + j}::VARCHAR" for j in range(4)),
    )
    for b in range(8)
)

ORACLE_MINHASH = f"""
WITH {_MH_SETS_CTE}, sig AS (
  SELECT doc_id,
         {_MH_SIG_COLS}
  FROM s0
), banded AS (
{_MH_BAND_ROWS}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b, jaccard FROM (
  SELECT c.doc_id_a, c.doc_id_b,
         round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))),
               6) AS jaccard
  FROM cand c
  JOIN s sa ON sa.doc_id = c.doc_id_a
  JOIN s sb ON sb.doc_id = c.doc_id_b
) WHERE jaccard >= 0.5
"""


_SH_BIT_SUMS = ",\n         ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(60)
)
_SH_ASSEMBLE = "\n         + ".join(
    f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(60)
)

def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS: quarter-width pigeonhole blocking (for
    hamming<=3 at least one of 4 chunks is identical — exact, no false
    negatives) + full Hamming verify. The oracle brute-forces all pairs,
    so this also PROVES the blocking loses nothing."""
    docs = _t(spark, sf_dir, "documents")
    return TXT.simhash_near_pairs(docs, max_hamming=3)


ORACLE_SIMHASH_PAIRS = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5('0:' || tok), 1, 15))::BIGINT AS h
  FROM tok
), s AS (
  SELECT doc_id,
         {_SH_BIT_SUMS}
  FROM h GROUP BY doc_id
), sh AS (
  SELECT doc_id, CAST({_SH_ASSEMBLE} AS BIGINT) AS simhash FROM s
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# ------------------------------------- scalar functions (F1-F8, P10)

def q_scalar_roundtrip(spark, sf_dir):
    """F3 filename datetime fmt, F4 template parse (with P10
    product/kind inference), F8 round3, and the YYYY/DOY dir mapping —
    build the reference-shaped filename from each event, parse it back,
    and emit the parsed fields (functions/scalar.py)."""
    from ..functions import scalar as SC

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 10)
    fname = F.concat(F.lit("ERA5_AN_"), SC.fname_ts(F.col("ts")), F.lit(".nc"))
    df = ev.select("event_id", fname.alias("fname"), "ts", "value")
    parsed = SC.parse_fname(F.col("fname"))
    return df.select(
        "event_id",
        "fname",
        parsed["product"].alias("product"),
        parsed["kind"].alias("kind"),
        _fmt(parsed["ts"]).alias("ts_parsed"),
        parsed["ext"].alias("ext"),
        SC.doy_dir(F.col("ts")).alias("doy_dir"),
        SC.round3(F.col("value")).alias("value3"),
    )


ORACLE_SCALAR = r"""
WITH f AS (
  SELECT event_id, 'ERA5_AN_' || strftime(ts, '%Y%m%d_%H%M') || '.nc' AS fname,
         ts, value
  FROM events WHERE user_id < 10
)
SELECT event_id, fname,
       regexp_extract(fname, '^([A-Z0-9-]+)_([A-Z]+)_(\d{8}_\d{4})\.(\w+)$', 1)
         AS product,
       regexp_extract(fname, '^([A-Z0-9-]+)_([A-Z]+)_(\d{8}_\d{4})\.(\w+)$', 2)
         AS kind,
       strftime(strptime(regexp_extract(fname,
           '^([A-Z0-9-]+)_([A-Z]+)_(\d{8}_\d{4})\.(\w+)$', 3),
           '%Y%m%d_%H%M'), '%Y-%m-%d %H:%M:%S') AS ts_parsed,
       regexp_extract(fname, '^([A-Z0-9-]+)_([A-Z]+)_(\d{8}_\d{4})\.(\w+)$', 4)
         AS ext,
       strftime(ts, '%Y') || '/' || lpad(CAST(dayofyear(ts) AS VARCHAR), 3, '0')
         AS doy_dir,
       round(value, 3) AS value3
FROM f
"""


def q_float_axes(spark, sf_dir):
    """F2/O2 float-precise axis construction (functions/scalar.py
    safe_sequence: integer arithmetic over scaled values) + O3 grid
    resolution: every step must be EXACTLY the nominal resolution."""
    from ..functions import scalar as SC

    ax = spark.range(1).select(
        F.posexplode(SC.safe_sequence(-3.0, 3.0, 0.25)).alias("i", "x")
    )
    w = Window.orderBy("i")
    return ax.select(
        F.col("i").cast("long").alias("i"),
        "x",
        (
            (F.col("i") == 0)
            | (F.col("x") - F.lag("x").over(w) == F.lit(0.25))
        ).alias("step_ok"),
    )


ORACLE_FLOAT_AXES = """
WITH ax AS (
  SELECT CAST(row_number() OVER (ORDER BY i) - 1 AS BIGINT) AS i,
         i / 1000000.0 AS x
  FROM generate_series(-3000000, 2999999, 250000) t(i)
)
SELECT i, x,
       (i = 0 OR (x - lag(x) OVER (ORDER BY i)) = 0.25) AS step_ok
FROM ax
"""


def q_mask_and_fill(spark, sf_dir):
    """P3 sea-point masking (value NULLed where the flag condition fails,
    operators/masking.py mask_by_flag) + P9 missing-variable fill
    (ensure_columns: absent column -> typed all-NULL column): per
    event_type, rows kept after masking and the filled column's
    non-null count (must be 0)."""
    import warnings

    from ..operators.masking import ensure_columns, mask_by_flag

    ev = _t(spark, sf_dir, "events").withColumn(
        "flag", (F.col("event_type") != "click").cast("int")
    )
    masked = mask_by_flag(ev, ["value"], "flag")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        filled = ensure_columns(masked, {"quality": "double"})
    return filled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_kept"),
        F.count("quality").alias("n_filled"),
    )


ORACLE_MASK_FILL = """
SELECT event_type,
       count(*) AS n_rows,
       count(CASE WHEN event_type != 'click' THEN value END) AS n_kept,
       count(CAST(NULL AS DOUBLE)) AS n_filled
FROM events GROUP BY 1
"""


# ------------------------------------- grid construction / bbox (P6/F1)

def q_grid_bbox(spark, sf_dir):
    """P6 bbox subset preserving GLOBAL gpi numbering + F1 longitude
    wrap roundtrip (grid.regular_grid / trafo_lon; reference
    grid.py:145-193, 13-29): the 1-degree grid cut to a bbox, with
    trafo_lon((lon+360) % 360) proving the 0..360 -> -180..180 wrap
    inverts the shift."""
    from ..grid import regular_grid, trafo_lon

    g = regular_grid(spark, resolution=1.0, bbox=(-10.0, -5.0, 10.0, 5.0))
    return g.select(
        "gpi",
        "lon",
        "lat",
        "cell",
        trafo_lon((F.col("lon") + 360) % 360).alias("lon_rt"),
    )


ORACLE_GRID_BBOX = """
WITH lon(i) AS (SELECT * FROM generate_series(0, 359)),
lat(j) AS (SELECT * FROM generate_series(0, 180)),
g AS (
  SELECT CAST(j * 360 + i AS BIGINT) AS gpi,
         CAST(i - 180 AS DOUBLE) AS lon,
         CAST(90 - j AS DOUBLE) AS lat
  FROM lat, lon
)
SELECT gpi, lon, lat,
       CAST(floor((lon + 180.0) / 5) * 36 + floor((lat + 90.0) / 5)
            AS INTEGER) AS cell,
       CASE WHEN ((lon + 360) % 360) > 180.0 THEN ((lon + 360) % 360) - 360.0
            ELSE ((lon + 360) % 360) END AS lon_rt
FROM g
WHERE lon BETWEEN -10 AND 10 AND lat BETWEEN -5 AND 5
"""


# ----------------------------------------- nearest-neighbour join (J1)

def _irregular_nodes() -> list[tuple[int, float]]:
    """Deterministic IRREGULAR 1-D grid over the events value range —
    uneven spacing so the nearest node is genuinely non-trivial."""
    import math

    return [(j, j * 10 + 3 * math.sin(j)) for j in range(50)]


def q_nearest_gpi(spark, sf_dir):
    """J1 with INEXACT keys: every event's value joined to the nearest
    node of an irregular grid (grid.py nearest_join — the kd-tree
    find_nearest_gpi of reference interface.py:146-148 as a bucketed
    band join + argmin, broadcast grid, no cross join)."""
    from ..grid import nearest_join

    ev = _t(spark, sf_dir, "events")
    dim = spark.createDataFrame(_irregular_nodes(), "gpi int, coord double")
    return nearest_join(
        ev, dim, value_col="value", key_cols=["event_id"]
    ).select("event_id", "nearest_gpi", R6(F.col("dist")).alias("dist"))


def _oracle_nearest() -> str:
    values = ",\n    ".join(
        f"({j}, {c!r})" for j, c in _irregular_nodes()
    )
    return f"""
WITH g(gpi, coord) AS (VALUES
    {values}
), c AS (
  SELECT e.event_id, g.gpi, abs(g.coord - e.value) AS dist
  FROM events e CROSS JOIN g
), r AS (
  SELECT event_id, gpi, dist,
         row_number() OVER (PARTITION BY event_id ORDER BY dist, gpi) AS rn
  FROM c
)
SELECT event_id, gpi AS nearest_gpi, round(dist, 6) AS dist
FROM r WHERE rn = 1
"""


# --------------------------------------------- request chunking (A4)

def q_request_chunks(spark, sf_dir):
    """A4 request chunking (operators/chunking.py; reference
    era5/download.py:34-100 split_chunk): chunk id = month-bounded
    windows of at most max_req_size/(n_vars*n_hsteps) days; per-chunk
    row counts and bounds. n_vars=10, n_hsteps=4 -> 25-day cap, so
    months genuinely split into two chunks."""
    from ..operators.chunking import with_chunk_id

    ev = _t(spark, sf_dir, "events")
    return (
        with_chunk_id(ev, "ts", n_vars=10, n_hsteps=4, max_req_size=1000)
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _fmt(F.min("ts")).alias("first_ts"),
            _fmt(F.max("ts")).alias("last_ts"),
        )
    )


ORACLE_CHUNKS = """
SELECT strftime(ts, '%Y-%m') || '/' ||
         CAST(CAST(floor((dayofmonth(ts) - 1) / 25) AS INTEGER) AS VARCHAR)
         AS chunk_id,
       count(*) AS n_rows,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events GROUP BY 1
"""


# ------------------------------------ codec roundtrip (UDF surface, S9)

def q_codec_roundtrip(spark, sf_dir):
    """Gorilla XOR + delta-of-delta codec END-TO-END through the Arrow
    UDF surface (codec.pack_cells applyInPandas -> unpack_cells
    mapInPandas): events become per-user series, are packed to blobs,
    unpacked again, and re-aggregated. The oracle aggregates the SAME
    stats from the raw table — any bit error in 5000 encoded
    timestamps/values would break the per-cell micro-sums / epoch
    bounds. float32 storage contract applied at the edge like silver."""
    from .. import codec

    ev = _t(spark, sf_dir, "events")
    silver_ish = ev.select(
        _portable_cell(F.col("user_id"), 8).alias("cell_id"),
        F.col("user_id").cast("string").alias("conv_id"),
        "ts",
        F.col("value").cast("float").alias("value"),
    )
    packed = codec.pack_cells(silver_ish, value_cols=("value",))
    unpacked = codec.unpack_cells(packed, value_cols=("value",))
    return unpacked.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(
            F.floor(F.col("value").cast("double") * 1e6 + F.lit(0.5)).cast(
                "long"
            )
        ).alias("v_micro_sum"),
        F.min(F.unix_micros("ts")).alias("ts_min_us"),
        F.max(F.unix_micros("ts")).alias("ts_max_us"),
    )


ORACLE_CODEC_ROUNDTRIP = """
SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 8
            AS INTEGER) AS cell_id,
       count(*) AS n_points,
       CAST(sum(CAST(floor(CAST(value::FLOAT AS DOUBLE) * 1e6 + 0.5)
                     AS BIGINT)) AS BIGINT) AS v_micro_sum,
       min(epoch_us(ts)) AS ts_min_us,
       max(epoch_us(ts)) AS ts_max_us
FROM events GROUP BY 1
"""


# --------------------------------------------- weighted remap (A1 var.)

def _portable_cell(col, n=64):
    return F.pmod(
        F.conv(
            F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(n),
    ).cast("int")


def q_remap_weighted(spark, sf_dir):
    """A1 variant: conservative weighted remap of the 64-cell grid onto a
    24-cell grid with a reusable broadcast weights table
    (operators/remap.py; reference extract.py:150-160,204-213 cdo
    gencon+remap with weight reuse). 64->24 does not divide evenly, so
    boundary cells genuinely split across two targets."""
    from ..operators.remap import conservative_weights_1d, remap_weighted

    ev = _t(spark, sf_dir, "events").withColumn(
        "cell_id", _portable_cell(F.col("user_id"))
    )
    w = conservative_weights_1d(spark, 64, 24)
    out = remap_weighted(ev, w, ("value",))
    return out.select(
        "dst_cell",
        R6(F.col("value_remap")).alias("value_remap"),
        R6(F.col("w_sum")).alias("w_sum"),
    )


def _oracle_remap() -> str:
    # the SAME weights as conservative_weights_1d(64, 24), inlined:
    # repr(float) round-trips to the identical IEEE double in DuckDB
    rows = []
    n_src, n_dst = 64, 24
    for i in range(n_src):
        lo, hi = i / n_src, (i + 1) / n_src
        j0 = int(lo * n_dst)
        j1 = min(int(hi * n_dst - 1e-12), n_dst - 1)
        for j in range(j0, j1 + 1):
            overlap = max(0.0, min(hi, (j + 1) / n_dst) - max(lo, j / n_dst))
            wv = overlap * n_src
            if wv > 0:
                rows.append(f"({i}, {j}, {wv!r})")
    values = ",\n    ".join(rows)
    return f"""
WITH w(src_cell, dst_cell, wt) AS (VALUES
    {values}
), f AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
              % 64 AS INTEGER) AS cell_id,
         value
  FROM events
)
SELECT dst_cell,
       round({_dsum('wt * value')}, 6) AS value_remap,
       round({_dsum('wt')}, 6) AS w_sum
FROM f JOIN w ON f.cell_id = w.src_cell
GROUP BY 1
"""


def q_remap_con2(spark, sf_dir):
    """A1 variant, `con2`: TRUE second-order conservative remap
    (operators/remap.py conservative_weights_1d_2nd + remap_con2;
    reference method list era5/download.py:290-298). The gridded source
    field is the per-cell exact mean (micro-int quantized — identical
    double in DuckDB); the sub-cell gradient is a neighbor central
    difference, one-sided at the ring boundary. 64->24 splits boundary
    cells, so the w2 gradient term genuinely moves values vs plain con."""
    from ..operators.remap import conservative_weights_1d_2nd, remap_con2

    ev = _t(spark, sf_dir, "events").withColumn(
        "cell_id", _portable_cell(F.col("user_id"))
    )
    micro = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    fld = ev.groupBy("cell_id").agg(
        (
            F.sum(micro).cast("double") / 1000000 / F.count("value")
        ).alias("val")
    )
    w = conservative_weights_1d_2nd(spark, 64, 24)
    out = remap_con2(fld, w, "val", n_src=64)
    return out.select(
        "dst_cell",
        R6(F.col("val_remap")).alias("val_remap"),
        R6(F.col("w_sum")).alias("w_sum"),
    )


def _oracle_remap_con2() -> str:
    # the SAME (w, w2) as conservative_weights_1d_2nd(64, 24), inlined;
    # repr(float) round-trips to the identical IEEE double in DuckDB
    rows = []
    n_src, n_dst = 64, 24
    for i in range(n_src):
        lo, hi = i / n_src, (i + 1) / n_src
        c_i = (lo + hi) / 2
        j0 = int(lo * n_dst)
        j1 = min(int(hi * n_dst - 1e-12), n_dst - 1)
        for j in range(j0, j1 + 1):
            a = max(lo, j / n_dst)
            b = min(hi, (j + 1) / n_dst)
            overlap = max(0.0, b - a)
            if overlap <= 0:
                continue
            wv = overlap * n_src
            rows.append(f"({i}, {j}, {wv!r}, {wv * ((a + b) / 2 - c_i)!r})")
    values = ",\n    ".join(rows)
    # gradient: same central/one-sided difference as remap_con2, h = 1/64
    return f"""
WITH w(src_cell, dst_cell, wt, wt2) AS (VALUES
    {values}
), fld AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
              % 64 AS INTEGER) AS cell_id,
         CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000 / count(value) AS val
  FROM events GROUP BY 1
), g AS (
  SELECT cell_id, val,
         CASE
           WHEN lag(val) OVER o IS NOT NULL
                AND lead(val) OVER o IS NOT NULL
             THEN (lead(val) OVER o - lag(val) OVER o) / (2 * 0.015625)
           WHEN lead(val) OVER o IS NOT NULL
             THEN (lead(val) OVER o - val) / 0.015625
           WHEN lag(val) OVER o IS NOT NULL
             THEN (val - lag(val) OVER o) / 0.015625
           ELSE 0.0
         END AS grad
  FROM fld
  WINDOW o AS (ORDER BY cell_id)
)
SELECT dst_cell,
       round({_dsum('wt * val + wt2 * grad')}, 6) AS val_remap,
       round({_dsum('wt')}, 6) AS w_sum
FROM g JOIN w ON g.cell_id = w.src_cell
GROUP BY 1
"""


# -------------------------------- 2-D bilinear / nearest remap (A1 var.)
#
# Source field: regular 8x8 (lat, lon) grid (gpi = i*8 + j) holding the
# per-cell exact mean metric (micro-int quantized, identical double in
# DuckDB). Destination: a 30x30 quarter-degree point grid reaching 7.25
# — PAST the source extent at 7.0 — so boundary clamping is exercised.
# The oracle recomputes the closed-form weights with the identical IEEE
# arithmetic (quarter-step coords keep ty/tx exact binary fractions).

_ND = 30  # 30x30 dst grid, coords k*0.25 in [0, 7.25]


def _src_field_8x8(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "cell_id", _portable_cell(F.col("user_id"))
    )
    micro = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    return ev.groupBy("cell_id").agg(
        (
            F.sum(micro).cast("double") / 1000000 / F.count("value")
        ).alias("val")
    )


def _dst_points_quarter(spark):
    return spark.range(_ND * _ND).select(
        F.col("id").cast("int").alias("gpi"),
        (F.expr("id div 30") * F.lit(0.25)).alias("lat"),
        ((F.col("id") % 30) * F.lit(0.25)).alias("lon"),
    )


def _apply_remap_entry(spark, sf_dir, weights):
    """Shared apply+rounding tail of every 2-D remap entry: weighted
    re-agg of the 8x8 field through the given weights table."""
    from ..operators.remap import remap_weighted

    out = remap_weighted(_src_field_8x8(spark, sf_dir), weights, ("val",))
    return out.select(
        "dst_cell",
        R6(F.col("val_remap")).alias("val_remap"),
        R6(F.col("w_sum")).alias("w_sum"),
    )


def q_remap_bilinear(spark, sf_dir):
    """A1 variant, 2-D: bilinear interpolation of the 8x8 cell field onto
    a 30x30 quarter-step destination grid via a reusable weights table
    (operators/remap.py bilinear_weights_2d + remap_weighted; reference
    era5/download.py:290-298 `bil`, applied at extract.py:150-160)."""
    from ..operators.remap import bilinear_weights_2d

    w = bilinear_weights_2d(
        _dst_points_quarter(spark), 0.0, 1.0, 8, 0.0, 1.0, 8
    )
    return _apply_remap_entry(spark, sf_dir, w)


def q_remap_nearest(spark, sf_dir):
    """A1 variant, 2-D: nearest-node remap (`nn` in the reference method
    list) through the same weights-table apply path."""
    from ..operators.remap import nearest_weights_2d

    w = nearest_weights_2d(
        _dst_points_quarter(spark), 0.0, 1.0, 8, 0.0, 1.0, 8
    )
    return _apply_remap_entry(spark, sf_dir, w)


# SQL twin of operators/remap._cell_fractions — the shared preamble of
# every 2-D remap oracle (clamped base cell + in-cell fractions)
_ORACLE_P_FRACTIONS = """p AS (
  SELECT dst_cell,
         least(greatest(floor(lat / 1.0), 0), 6) AS i0,
         least(greatest(floor(lon / 1.0), 0), 6) AS j0,
         least(greatest(lat / 1.0 - least(greatest(floor(lat / 1.0), 0), 6),
                        0.0), 1.0) AS ty,
         least(greatest(lon / 1.0 - least(greatest(floor(lon / 1.0), 0), 6),
                        0.0), 1.0) AS tx
  FROM d
)"""

_ORACLE_FIELD_AND_DST = """
f AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
              % 64 AS INTEGER) AS cell_id,
         value
  FROM events
), fld AS (
  SELECT cell_id,
         CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000 / count(value) AS val
  FROM f GROUP BY 1
), d AS (
  SELECT CAST(g AS INTEGER) AS dst_cell,
         (g // 30) * 0.25 AS lat,
         (g % 30) * 0.25 AS lon
  FROM generate_series(0, 899) t(g)
)"""

ORACLE_REMAP_BILINEAR = f"""
WITH {_ORACLE_FIELD_AND_DST}, {_ORACLE_P_FRACTIONS}, w AS (
  SELECT dst_cell, CAST(i0 * 8 + j0 AS INTEGER) AS src_cell,
         (1.0 - ty) * (1.0 - tx) AS wt FROM p
  UNION ALL
  SELECT dst_cell, CAST(i0 * 8 + j0 + 1 AS INTEGER),
         (1.0 - ty) * tx FROM p
  UNION ALL
  SELECT dst_cell, CAST((i0 + 1) * 8 + j0 AS INTEGER),
         ty * (1.0 - tx) FROM p
  UNION ALL
  SELECT dst_cell, CAST((i0 + 1) * 8 + j0 + 1 AS INTEGER),
         ty * tx FROM p
), wp AS (SELECT * FROM w WHERE wt > 0)
SELECT dst_cell,
       round({_dsum('wt * val')}, 6) AS val_remap,
       round({_dsum('wt')}, 6) AS w_sum
FROM wp JOIN fld ON wp.src_cell = fld.cell_id
GROUP BY 1
"""

ORACLE_REMAP_NEAREST = f"""
WITH {_ORACLE_FIELD_AND_DST}, w AS (
  SELECT dst_cell,
         CAST(least(greatest(floor(lat / 1.0 + 0.5), 0), 7) * 8
              + least(greatest(floor(lon / 1.0 + 0.5), 0), 7)
              AS INTEGER) AS src_cell,
         1.0 AS wt
  FROM d
)
SELECT dst_cell,
       round({_dsum('wt * val')}, 6) AS val_remap,
       round({_dsum('wt')}, 6) AS w_sum
FROM w JOIN fld ON w.src_cell = fld.cell_id
GROUP BY 1
"""


def q_remap_bicubic(spark, sf_dir):
    """A1 variant, 2-D: bicubic (Catmull-Rom) remap (`bic` in the
    reference method list, era5/download.py:290-298) — 16-node stencil,
    edge-clamped, through the same weights-table apply path."""
    from ..operators.remap import bicubic_weights_2d

    w = bicubic_weights_2d(
        _dst_points_quarter(spark), 0.0, 1.0, 8, 0.0, 1.0, 8
    )
    return _apply_remap_entry(spark, sf_dir, w)


def q_remap_idw(spark, sf_dir):
    """A1 variant, 2-D: inverse-distance remap (`dis` in the reference
    method list, era5/download.py:290-298) through the same weights-table
    apply path. The quarter-step dst grid hits source nodes exactly at
    integer coords, exercising the d == 0 whole-weight branch."""
    from ..operators.remap import idw_weights_2d

    w = idw_weights_2d(
        _dst_points_quarter(spark), 0.0, 1.0, 8, 0.0, 1.0, 8
    )
    return _apply_remap_entry(spark, sf_dir, w)


def q_remap_laf(spark, sf_dir):
    """A1 variant, 2-D: largest-area-fraction remap for categorical
    fields (`laf` in the reference method list) — each dst point takes
    the category of the max-weight contributing src cell, ties to the
    lower src_cell. Weight ties are real on the quarter grid (ty or tx
    == 0.5 gives equal corner pairs), so the tie-break is exercised."""
    from ..operators.remap import bilinear_weights_2d, remap_laf

    w = bilinear_weights_2d(
        _dst_points_quarter(spark), 0.0, 1.0, 8, 0.0, 1.0, 8
    )
    fact = _src_field_8x8(spark, sf_dir).select(
        "cell_id", (F.col("cell_id") % 7).cast("int").alias("cat")
    )
    out = remap_laf(fact, w, "cat")
    return out.select(
        "dst_cell", "cat_laf", R6(F.col("laf_w")).alias("laf_w")
    )


# The bicubic oracle rebuilds the 16-node Catmull-Rom stencil from two
# offset tables; the per-axis kernel polynomials are written in the SAME
# left-associative form as bicubic_weights_2d, so every weight is
# bit-identical IEEE arithmetic in both engines.
ORACLE_REMAP_BICUBIC = f"""
WITH {_ORACLE_FIELD_AND_DST}, {_ORACLE_P_FRACTIONS}, o(k) AS (VALUES (-1), (0), (1), (2)),
ky AS (
  SELECT p.*, o.k AS a,
         CASE o.k
           WHEN -1 THEN -0.5*ty*ty*ty + ty*ty - 0.5*ty
           WHEN  0 THEN  1.5*ty*ty*ty - 2.5*ty*ty + 1.0
           WHEN  1 THEN -1.5*ty*ty*ty + 2.0*ty*ty + 0.5*ty
           ELSE          0.5*ty*ty*ty - 0.5*ty*ty
         END AS wy
  FROM p, o
), k2 AS (
  SELECT ky.*, o.k AS b,
         CASE o.k
           WHEN -1 THEN -0.5*tx*tx*tx + tx*tx - 0.5*tx
           WHEN  0 THEN  1.5*tx*tx*tx - 2.5*tx*tx + 1.0
           WHEN  1 THEN -1.5*tx*tx*tx + 2.0*tx*tx + 0.5*tx
           ELSE          0.5*tx*tx*tx - 0.5*tx*tx
         END AS wx
  FROM ky, o
), w AS (
  SELECT dst_cell,
         CAST(least(greatest(i0 + a, 0), 7) * 8
              + least(greatest(j0 + b, 0), 7) AS INTEGER) AS src_cell,
         wy * wx AS wt
  FROM k2
), wp AS (SELECT * FROM w WHERE wt <> 0)
SELECT dst_cell,
       round({_dsum('wt * val')}, 6) AS val_remap,
       round({_dsum('wt')}, 6) AS w_sum
FROM wp JOIN fld ON wp.src_cell = fld.cell_id
GROUP BY 1
"""


# The IDW oracle recomputes the 4 corner distances and the FIXED-ORDER
# normalizer ((1/d1 + 1/d2) + 1/d3) + 1/d4 — SQL + is left-associative,
# matching idw_weights_2d's explicit parenthesization, and sqrt / + / /
# are correctly-rounded IEEE ops in both engines.
ORACLE_REMAP_IDW = f"""
WITH {_ORACLE_FIELD_AND_DST}, {_ORACLE_P_FRACTIONS}, pd AS (
  SELECT dst_cell, i0, j0,
         sqrt(ty * ty + tx * tx) AS d1,
         sqrt(ty * ty + (1.0 - tx) * (1.0 - tx)) AS d2,
         sqrt((1.0 - ty) * (1.0 - ty) + tx * tx) AS d3,
         sqrt((1.0 - ty) * (1.0 - ty) + (1.0 - tx) * (1.0 - tx)) AS d4
  FROM p
), pn AS (
  SELECT *, least(d1, d2, d3, d4) AS dmin,
         ((1.0 / d1 + 1.0 / d2) + 1.0 / d3) + 1.0 / d4 AS norm
  FROM pd
), w AS (
  SELECT dst_cell, CAST(i0 * 8 + j0 AS INTEGER) AS src_cell,
         CASE WHEN dmin = 0 THEN (CASE WHEN d1 = 0 THEN 1.0 ELSE 0.0 END)
              ELSE (1.0 / d1) / norm END AS wt FROM pn
  UNION ALL
  SELECT dst_cell, CAST(i0 * 8 + j0 + 1 AS INTEGER),
         CASE WHEN dmin = 0 THEN (CASE WHEN d2 = 0 THEN 1.0 ELSE 0.0 END)
              ELSE (1.0 / d2) / norm END FROM pn
  UNION ALL
  SELECT dst_cell, CAST((i0 + 1) * 8 + j0 AS INTEGER),
         CASE WHEN dmin = 0 THEN (CASE WHEN d3 = 0 THEN 1.0 ELSE 0.0 END)
              ELSE (1.0 / d3) / norm END FROM pn
  UNION ALL
  SELECT dst_cell, CAST((i0 + 1) * 8 + j0 + 1 AS INTEGER),
         CASE WHEN dmin = 0 THEN (CASE WHEN d4 = 0 THEN 1.0 ELSE 0.0 END)
              ELSE (1.0 / d4) / norm END FROM pn
), wp AS (SELECT * FROM w WHERE wt > 0)
SELECT dst_cell,
       round({_dsum('wt * val')}, 6) AS val_remap,
       round({_dsum('wt')}, 6) AS w_sum
FROM wp JOIN fld ON wp.src_cell = fld.cell_id
GROUP BY 1
"""

ORACLE_REMAP_LAF = f"""
WITH {_ORACLE_FIELD_AND_DST}, {_ORACLE_P_FRACTIONS}, w AS (
  SELECT dst_cell, CAST(i0 * 8 + j0 AS INTEGER) AS src_cell,
         (1.0 - ty) * (1.0 - tx) AS wt FROM p
  UNION ALL
  SELECT dst_cell, CAST(i0 * 8 + j0 + 1 AS INTEGER),
         (1.0 - ty) * tx FROM p
  UNION ALL
  SELECT dst_cell, CAST((i0 + 1) * 8 + j0 AS INTEGER),
         ty * (1.0 - tx) FROM p
  UNION ALL
  SELECT dst_cell, CAST((i0 + 1) * 8 + j0 + 1 AS INTEGER),
         ty * tx FROM p
), wp AS (SELECT * FROM w WHERE wt > 0),
cat AS (SELECT cell_id, CAST(cell_id % 7 AS INTEGER) AS cat FROM fld),
ranked AS (
  SELECT wp.dst_cell, cat.cat, wp.wt,
         row_number() OVER (PARTITION BY wp.dst_cell
                            ORDER BY wp.wt DESC, wp.src_cell ASC) AS rn
  FROM wp JOIN cat ON wp.src_cell = cat.cell_id
)
SELECT dst_cell, cat AS cat_laf, round(wt, 6) AS laf_w
FROM ranked WHERE rn = 1
"""


# ------------------------------------------- landmask derivation (A3/P5)

def q_landmask_derive(spark, sf_dir):
    """A3/P5: derive the active-entity mask dimension from the data
    (operators/masking.py derive_entity_mask; reference
    make_era5_land_definition_file utils.py:179-256): land=1.0 where the
    per-user mean metric >= threshold, the excluded band (the lat<-60
    Antarctica cut) -> NULL."""
    from ..operators.masking import derive_entity_mask

    ev = _t(spark, sf_dir, "events")
    return derive_entity_mask(
        ev,
        "user_id",
        "value",
        threshold=49.0,
        exclude_zone=F.col("user_id") % 10 >= 8,
    )


ORACLE_LANDMASK = """
WITH a AS (
  SELECT user_id, {s} / count(value) AS ref
  FROM events GROUP BY 1
)
SELECT user_id,
       CASE WHEN user_id % 10 >= 8 THEN NULL
            WHEN ref >= 49.0 THEN 1.0 ELSE 0.0 END AS land
FROM a
""".format(s=_dsum("value"))


# ------------------------------------------------- LUT resolution (P2)

_LUT_REQUEST = [
    "text_length",              # dl_name
    "Tool call indicator",      # long_name
    "n_turns",                  # short_name
    "bucket_ts",                # short_name
    "conversation_identifier",  # dl_name
]


def q_lut_resolve(spark, sf_dir):
    """P2 name-resolution LUT: resolve a mixed dl/long/short request list
    through the broadcast alias table (functions/lut.py resolve_names;
    reference utils.py:92-144 lookup + era5_lut.csv)."""
    from ..functions import lut as LUT

    return LUT.resolve_names(spark, _LUT_REQUEST).select(
        "requested", "matched_kind", "dl_name", "long_name", "short_name",
        "is_default",
    )


def _oracle_lut_resolve() -> str:
    from ..functions import lut as LUT

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    lut_values = ",\n    ".join(
        f"({q(r['dl_name'])}, {q(r['long_name'])}, {q(r['short_name'])},"
        f" {int(r['default'])})"
        for r in LUT.load_var_table()
    )
    req_values = ", ".join(f"({q(n)})" for n in _LUT_REQUEST)
    return f"""
WITH lut(dl_name, long_name, short_name, is_default) AS (VALUES
    {lut_values}
), req(requested) AS (VALUES {req_values}),
aliases AS (
  SELECT dl_name, long_name, short_name, is_default,
         'dl_name' AS matched_kind, dl_name AS alias FROM lut
  UNION ALL
  SELECT dl_name, long_name, short_name, is_default,
         'long_name', long_name FROM lut
  UNION ALL
  SELECT dl_name, long_name, short_name, is_default,
         'short_name', short_name FROM lut
)
SELECT requested, matched_kind, dl_name, long_name, short_name, is_default
FROM req LEFT JOIN aliases ON requested = alias
"""


# -------------------------------------------- non-SQL-expressible (rows only)


def q_ann_topk_ivf(spark, sf_dir):
    """IVF-Flat approximate top-k (functions/similarity.py ann_topk_ivf):
    deterministic seed centroids, zero-shuffle map-side assignment,
    n_probe inverted lists scanned. The oracle recomputes centroids,
    assignment (argmax cosine, ties to lower cid) and the probe set
    entirely in SQL from the same table — no literals to inline."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qvec = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    return SIM.ann_topk_ivf(emb, qvec, k=10, n_centroids=16, n_probe=4)


ORACLE_ANN_IVF = """
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
c AS (SELECT vec_id AS cid, e AS ce FROM b ORDER BY vec_id LIMIT 16),
q AS (SELECT e AS qv FROM b WHERE vec_id = 0),
probe AS (
  SELECT cid FROM c, q
  ORDER BY list_dot_product(ce, qv)
           / (sqrt(list_dot_product(ce, ce))
              * sqrt(list_dot_product(qv, qv))) DESC, cid ASC
  LIMIT 4
),
assign AS (
  SELECT b.vec_id, b.e, c.cid,
         row_number() OVER (
           PARTITION BY b.vec_id
           ORDER BY list_dot_product(b.e, c.ce)
                    / (sqrt(list_dot_product(b.e, b.e))
                       * sqrt(list_dot_product(c.ce, c.ce))) DESC,
                    c.cid ASC
         ) AS rn
  FROM b, c
),
cells AS (SELECT vec_id, e, cid FROM assign WHERE rn = 1)
SELECT vec_id,
       round(list_dot_product(e, qv)
             / (sqrt(list_dot_product(e, e))
                * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
FROM cells, q
WHERE cid IN (SELECT cid FROM probe)
ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs through the production
    LSH-blocked self-join + exact-cosine verify
    (functions/similarity.py cosine_near_dup_pairs) — the 100 TB
    embedding-dedup path; the oracle reproduces the SAME approximate
    semantics (identical inlined hyperplanes, identical buckets).
    Threshold 0.35 / 4 planes are sized to the synthetic corpus (max
    pairwise cosine ~0.51), so blocking and verify both do real work
    and the result is non-empty."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return SIM.cosine_near_dup_pairs(
        emb, threshold=0.35, n_planes=4, dim=64
    ).select("id_a", "id_b", "cos_sim")


def _oracle_neardup(
    n_planes: int = 4, dim: int = 64, thr: float = 0.35
) -> str:
    """Inline the SAME deterministic hyperplanes (similarity._hyperplane)
    as SQL literals: bucket ids and the blocked self-join are then exact
    arithmetic in DuckDB."""
    from ..functions.similarity import _hyperplane

    planes = [_hyperplane(dim, i) for i in range(n_planes)]
    plane_lits = ",\n    ".join(
        "[" + ", ".join(repr(x) for x in p) + "]" for p in planes
    )
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, pl[{i + 1}]) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    return f"""
WITH p AS (SELECT [
    {plane_lits}
] AS pl),
b AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, {bucket} AS bucket
  FROM embeddings, p
),
pairs AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         round(list_dot_product(x.e, y.e)
               / (sqrt(list_dot_product(x.e, x.e))
                  * sqrt(list_dot_product(y.e, y.e))), 6) AS cos_sim
  FROM b x JOIN b y
    ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {thr}
"""


# ------------------------------------- real PNG decode features (oracle)

def q_image_decode_features(spark, sf_dir):
    """End-to-end REAL image decode, value-oracled: gen_media ships
    genuine PNG bytes (pure-stdlib codec, functions/png.py, scanline
    filter cycling over all five types, alternating truecolor and
    PALETTE encodings of the same pixels — the PLTE path is graded by
    the same oracle), image_features inflates + unfilters them inside
    the mapInPandas batch, then nearest-resizes to 4x4 and
    channel-pools. The oracle recomputes every feature and the mean
    luminance from the closed-form pixel value
    (id*31 + y*7 + x*13 + c*97) % 256 — so a wrong byte anywhere in
    decode shows up as a value-hash mismatch, not just a row count."""
    from ..functions.multimodal import gen_media, image_features

    m = gen_media(spark, n=90, width=16, height=12)
    f = image_features(m, resize_to=(4, 4))
    return f.select(
        "media_id",
        F.posexplode("feat").alias("pos", "feat_v"),
        "mean_lum",
    ).select(
        "media_id",
        F.col("pos").cast("int").alias("pos"),
        F.round("feat_v", 6).alias("feat_v"),
        F.round("mean_lum", 6).alias("mean_lum"),
    )


# pixel formula mirrored in SQL; resize grid at (w=16,h=12)->(4,4) is
# y=3i, x=4j; channel pool = avg over c. Integer sums are exact in
# float64, so round(.,6) matches the UDF bit-for-bit.
ORACLE_IMAGE_DECODE = """
WITH imgs AS (
  SELECT g AS media_id FROM generate_series(0, 89) t(g) WHERE g % 3 = 0
), lum AS (
  SELECT i.media_id,
         round(avg(CAST((i.media_id*31 + y.y*7 + x.x*13 + c.c*97) % 256
                        AS DOUBLE)), 6) AS mean_lum
  FROM imgs i,
       generate_series(0, 11) y(y),
       generate_series(0, 15) x(x),
       generate_series(0, 2) c(c)
  GROUP BY i.media_id
), feat AS (
  SELECT i.media_id,
         CAST(p.i * 4 + p.j AS INTEGER) AS pos,
         round(avg(CAST((i.media_id*31 + (p.i*3)*7 + (p.j*4)*13 + c.c*97)
                        % 256 AS DOUBLE)), 6) AS feat_v
  FROM imgs i,
       (SELECT a.a AS i, b.b AS j
        FROM generate_series(0, 3) a(a), generate_series(0, 3) b(b)) p,
       generate_series(0, 2) c(c)
  GROUP BY i.media_id, p.i, p.j
)
SELECT f.media_id, f.pos, f.feat_v, l.mean_lum
FROM feat f JOIN lum l ON f.media_id = l.media_id
"""


def q_image_decode_features_jpeg(spark, sf_dir):
    """End-to-end REAL baseline-JPEG decode, value-oracled: gen_media
    (fmt="jpeg") ships genuine JFIF bytes — pure-stdlib codec
    (functions/jpeg.py: Annex-K Huffman entropy decode, dequant,
    vectorized IDCT, chroma upsample, YCbCr->RGB), cycling 4:2:0 / 4:4:4
    / 4:2:2 subsampling, restart intervals and 8/16-bit DQT — of a
    BLOCK-constant gray-valued pattern (mid*31 + (y//8)*7 + (x//8)*13)
    % 256. A constant 8x8 block survives unit quantization bit-exactly
    and R=G=B gives Cb=Cr=128 exactly, so the decode of this
    lossy-in-general format is value-exact and the oracle recomputes
    every feature closed-form — a wrong bit anywhere in the Huffman /
    IDCT / upsample / color-convert chain is a value-hash mismatch."""
    from ..functions.multimodal import gen_media, image_features

    m = gen_media(spark, n=90, width=16, height=12, fmt="jpeg")
    f = image_features(m, resize_to=(4, 4))
    return f.select(
        "media_id",
        F.posexplode("feat").alias("pos", "feat_v"),
        "mean_lum",
    ).select(
        "media_id",
        F.col("pos").cast("int").alias("pos"),
        F.round("feat_v", 6).alias("feat_v"),
        F.round("mean_lum", 6).alias("mean_lum"),
    )


# block-constant pattern mirrored in SQL; resize grid at
# (w=16,h=12)->(4,4) samples y=3i, x=4j, so the sampled block is
# (floor(3i/8), floor(4j/8)); channel pool averages three identical
# channels. Integer block values are exact in float64.
ORACLE_IMAGE_DECODE_JPEG = """
WITH imgs AS (
  SELECT g AS media_id FROM generate_series(0, 89) t(g) WHERE g % 3 = 0
), lum AS (
  SELECT i.media_id,
         round(avg(CAST((i.media_id*31 + (y.y // 8)*7 + (x.x // 8)*13)
                        % 256 AS DOUBLE)), 6) AS mean_lum
  FROM imgs i,
       generate_series(0, 11) y(y),
       generate_series(0, 15) x(x)
  GROUP BY i.media_id
), feat AS (
  SELECT i.media_id,
         CAST(p.i * 4 + p.j AS INTEGER) AS pos,
         round(CAST((i.media_id*31 + ((p.i*3) // 8)*7 + ((p.j*4) // 8)*13)
                    % 256 AS DOUBLE), 6) AS feat_v
  FROM imgs i,
       (SELECT a.a AS i, b.b AS j
        FROM generate_series(0, 3) a(a), generate_series(0, 3) b(b)) p
)
SELECT f.media_id, f.pos, f.feat_v, l.mean_lum
FROM feat f JOIN lum l ON f.media_id = l.media_id
"""


# ------------------------------------ real WAV decode features (oracle)

def q_audio_decode_features(spark, sf_dir):
    """End-to-end REAL audio decode, value-oracled: gen_media ships
    genuine RIFF/WAVE bytes (pure-stdlib codec functions/wav.py,
    alternating PCM16 and IEEE-float32 storage of the same integer
    waveform — both lossless under the signed-16-bit scale contract),
    audio_features parses the container, windows to 25 ms and computes
    mean amplitude / energy / zero crossings as exact integer sums. The
    oracle recomputes every window feature from the closed-form sample
    value ((mid*37 + 11*i) % 201) - 100 — a wrong byte anywhere in the
    RIFF parse or sample scaling is a value-hash mismatch."""
    from ..functions.multimodal import audio_features, gen_media

    m = gen_media(spark, n=90)
    f = audio_features(m, win_ms=25)
    return f.select(
        "media_id",
        "win_idx",
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("energy", 6).alias("energy"),
        F.col("zero_cross").cast("int").alias("zero_cross"),
    )


# sample formula mirrored in SQL; every clip is a whole number of
# 400-sample windows (1200/1600/2000 by id), so window sums are exact
# integer sums in float64 on both engines
ORACLE_AUDIO_DECODE = """
WITH auds AS (
  SELECT g AS media_id FROM generate_series(0, 89) t(g) WHERE g % 3 = 1
), params AS (
  SELECT media_id, 1200 + ((media_id // 3) % 3) * 400 AS n FROM auds
), samp AS (
  SELECT p.media_id, i.i AS i,
         CAST(((p.media_id*37 + 11*i.i) % 201) - 100 AS DOUBLE) AS s
  FROM params p, generate_series(0, 1999) i(i)
  WHERE i.i < p.n
), w AS (
  SELECT media_id, CAST(i // 400 AS INTEGER) AS win_idx, i, s FROM samp
), feat AS (
  SELECT media_id, win_idx,
         round(avg(s), 6) AS mean_amp,
         round(avg(s*s), 6) AS energy
  FROM w GROUP BY media_id, win_idx
), zc AS (
  SELECT a.media_id, a.win_idx,
         CAST(sum(CASE WHEN a.s * b.s < 0 THEN 1 ELSE 0 END)
              AS INTEGER) AS zero_cross
  FROM w a JOIN w b
    ON a.media_id = b.media_id AND b.i = a.i + 1
  WHERE (a.i % 400) < 399
  GROUP BY a.media_id, a.win_idx
)
SELECT f.media_id, f.win_idx, f.mean_amp, f.energy, z.zero_cross
FROM feat f JOIN zc z
  ON f.media_id = z.media_id AND f.win_idx = z.win_idx
"""


# ------------------------------------ real GIF decode features (oracle)

def q_video_decode_features(spark, sf_dir):
    """End-to-end REAL video frame decode, value-oracled: gen_media
    ships genuine animated-GIF bytes (pure-stdlib codec
    functions/gif.py: full LZW decompression, frame compositing), each
    frame a solid closed-form palette color, video_frame_features
    decodes, samples every 2nd frame and emits per-frame channel means.
    The oracle recomputes every sampled frame's color from the palette
    formula — a wrong bit anywhere in the LZW walk or compositing is a
    value-hash mismatch."""
    from ..functions.multimodal import gen_media, video_frame_features

    m = gen_media(spark, n=90)
    f = video_frame_features(m, every_k=2)
    return f.select(
        "media_id",
        "frame_idx",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


# frame f of clip mid is solid palette index (mid*13 + f*7) % 16 with
# palette entry[j][c] = (j*17 + c*47 + 3) % 256; solid frames make each
# channel mean the exact palette value
ORACLE_VIDEO_DECODE = """
WITH vids AS (
  SELECT g AS media_id, (g % 8) + 1 AS n
  FROM generate_series(0, 89) t(g) WHERE g % 3 = 2
), fr AS (
  SELECT v.media_id, CAST(u.f AS INTEGER) AS frame_idx,
         ((v.media_id*13 + u.f*7) % 16) AS j
  FROM vids v, unnest(range(0, v.n, 2)) AS u(f)
)
SELECT media_id, frame_idx,
       round(CAST((j*17 + 3) % 256 AS DOUBLE), 6) AS mean_r,
       round(CAST((j*17 + 50) % 256 AS DOUBLE), 6) AS mean_g,
       round(CAST((j*17 + 97) % 256 AS DOUBLE), 6) AS mean_b
FROM fr
"""


# --------------------------------------- 2-D conservative remap (con/con2)

_SRC_GRID_2D = (-60.0, 15.0, 8, 0.0, 15.0, 8)   # 8x8 edges, row-major gpi
_DST_GRID_2D = (-60.0, 24.0, 5, 0.0, 24.0, 5)   # 5x5, same domain


def _dense_field_8x8(spark, sf_dir):
    """The 8x8 events field gap-filled to the DENSE grid (val 0.0 where a
    cell has no events) — remap_con2_2d's documented one-row-per-cell
    precondition; the oracle mirrors with generate_series LEFT JOIN."""
    fld = _src_field_8x8(spark, sf_dir)
    full = spark.range(64).select(F.col("id").cast("int").alias("cell_id"))
    return full.join(fld, "cell_id", "left").select(
        "cell_id", F.coalesce("val", F.lit(0.0)).alias("val")
    )


_ORACLE_DENSE_FIELD = """
f AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
              % 64 AS INTEGER) AS cell_id,
         value
  FROM events
), fld0 AS (
  SELECT cell_id,
         CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000 / count(value) AS val
  FROM f GROUP BY 1
), fld AS (
  SELECT CAST(g AS INTEGER) AS cell_id, coalesce(val, 0.0) AS val
  FROM generate_series(0, 63) t(g) LEFT JOIN fld0 ON g = fld0.cell_id
)"""


def q_remap_con_2d(spark, sf_dir):
    """A1 variant: TRUE 2-D area-overlap conservative remap (`con` in the
    reference CDO method list, era5/download.py:290-298) with spherical
    cos-lat area weighting, 8x8 -> 5x5 lat/lon grids over one domain
    (operators/remap.py conservative_weights_2d + remap_weighted). The
    oracle applies the SAME deterministic driver-built weights as SQL
    literals (the _hyperplane-inlining precedent); the weight MATH is
    independently pytest-proven (partition of unity, mass conservation —
    tests/test_remap.py)."""
    from ..operators.remap import conservative_weights_2d, remap_weighted

    w = conservative_weights_2d(spark, _SRC_GRID_2D, _DST_GRID_2D).select(
        "src_cell", "dst_cell", "w"
    )
    out = remap_weighted(_dense_field_8x8(spark, sf_dir), w, ("val",))
    return out.select(
        "dst_cell",
        R6(F.col("val_remap")).alias("val_remap"),
        R6(F.col("w_sum")).alias("w_sum"),
    )


def q_remap_con2_2d(spark, sf_dir):
    """A1 variant: 2-D SECOND-order conservative remap (`con2`,
    era5/download.py:290-298): per-cell lat/lon gradients from neighbor
    cell means anchored at cos-weighted centroids, entering through the
    w2lat/w2lon gradient weights — linear fields remap exactly
    (tests/test_remap.py). Weights + centroids are driver-built literals
    in the oracle; gradients and the aggregation are recomputed in SQL
    from the same field, so the whole distributed apply path is
    value-verified."""
    from ..operators.remap import (
        cell_centroids_2d,
        conservative_weights_2d,
        remap_con2_2d,
    )

    w = conservative_weights_2d(spark, _SRC_GRID_2D, _DST_GRID_2D)
    cen = cell_centroids_2d(spark, _SRC_GRID_2D)
    out = remap_con2_2d(
        _dense_field_8x8(spark, sf_dir), w, cen, "val", nlon=8
    )
    return out.select(
        "dst_cell",
        R6(F.col("val_remap")).alias("val_remap"),
        R6(F.col("w_sum")).alias("w_sum"),
    )


def _values_rows(rows) -> str:
    return ",\n    ".join(
        "(" + ", ".join(repr(x) for x in r) + ")" for r in rows
    )


def _oracle_remap_con_2d() -> str:
    w_rows = _con2d_weight_rows()
    return f"""
WITH {_ORACLE_DENSE_FIELD},
w(src_cell, dst_cell, wt, w2lat, w2lon) AS (VALUES
    {_values_rows(w_rows)}
)
SELECT dst_cell,
       round({_dsum('wt * val')}, 6) AS val_remap,
       round({_dsum('wt')}, 6) AS w_sum
FROM w JOIN fld ON w.src_cell = fld.cell_id
GROUP BY 1
"""


def _con2d_weight_rows():
    """The SAME weight table conservative_weights_2d builds, as plain
    python rows — a spark-free re-derivation (oracle strings must build
    without a session); tests/test_remap.py asserts row-for-row equality
    with the builder so the twins cannot drift."""
    import math

    lat0s, dlats, nlats, lon0s, dlons, nlons = _SRC_GRID_2D
    lat0d, dlatd, nlatd, lon0d, dlond, nlond = _DST_GRID_2D

    def sinr(x):
        return math.sin(math.radians(x))

    def latc(a_deg, b_deg):
        a, b = math.radians(a_deg), math.radians(b_deg)
        return math.degrees(
            (b * math.sin(b) + math.cos(b) - a * math.sin(a) - math.cos(a))
            / (math.sin(b) - math.sin(a))
        )

    lat_pairs, lon_pairs = [], []
    for i in range(nlats):
        lo, hi = lat0s + i * dlats, lat0s + (i + 1) * dlats
        cs = latc(lo, hi)
        for I in range(nlatd):
            LO, HI = lat0d + I * dlatd, lat0d + (I + 1) * dlatd
            a, b = max(lo, LO), min(hi, HI)
            if b > a:
                lat_pairs.append((i, I, sinr(b) - sinr(a), latc(a, b), cs))
    for j in range(nlons):
        lo, hi = lon0s + j * dlons, lon0s + (j + 1) * dlons
        cs = (lo + hi) / 2
        for J in range(nlond):
            LO, HI = lon0d + J * dlond, lon0d + (J + 1) * dlond
            c, d = max(lo, LO), min(hi, HI)
            if d > c:
                lon_pairs.append((j, J, d - c, (c + d) / 2, cs))
    rows = []
    for i, I, aw, clat_ov, clat_s in lat_pairs:
        dst_lat_area = sinr(lat0d + (I + 1) * dlatd) - sinr(
            lat0d + I * dlatd
        )
        for j, J, lw, clon_ov, clon_s in lon_pairs:
            w = (aw * lw) / (dst_lat_area * dlond)
            rows.append(
                (
                    i * nlons + j,
                    I * nlond + J,
                    w,
                    w * (clat_ov - clat_s),
                    w * (clon_ov - clon_s),
                )
            )
    return rows


def _con2d_centroid_rows():
    import math

    lat0, dlat, nlat, lon0, dlon, nlon = _SRC_GRID_2D

    def latc(a_deg, b_deg):
        a, b = math.radians(a_deg), math.radians(b_deg)
        return math.degrees(
            (b * math.sin(b) + math.cos(b) - a * math.sin(a) - math.cos(a))
            / (math.sin(b) - math.sin(a))
        )

    return [
        (i * nlon + j, latc(lat0 + i * dlat, lat0 + (i + 1) * dlat),
         lon0 + (j + 0.5) * dlon)
        for i in range(nlat)
        for j in range(nlon)
    ]


def _oracle_remap_con2_2d() -> str:
    w_rows = _con2d_weight_rows()
    c_rows = _con2d_centroid_rows()
    return f"""
WITH {_ORACLE_DENSE_FIELD},
w(src_cell, dst_cell, wt, w2lat, w2lon) AS (VALUES
    {_values_rows(w_rows)}
),
cen(cell_id, clat, clon) AS (VALUES
    {_values_rows(c_rows)}
),
g AS (
  SELECT fld.cell_id, val, clat, clon,
         fld.cell_id // 8 AS i, fld.cell_id % 8 AS j
  FROM fld JOIN cen ON fld.cell_id = cen.cell_id
), gl AS (
  SELECT cell_id, val, clat, clon,
         lag(val)  OVER wy AS fly, lead(val)  OVER wy AS fdy,
         lag(clat) OVER wy AS cly, lead(clat) OVER wy AS cdy,
         lag(val)  OVER wx AS flx, lead(val)  OVER wx AS fdx,
         lag(clon) OVER wx AS clx, lead(clon) OVER wx AS cdx
  FROM g
  WINDOW wy AS (PARTITION BY j ORDER BY i),
         wx AS (PARTITION BY i ORDER BY j)
), gg AS (
  SELECT cell_id, val,
         CASE WHEN fly IS NOT NULL AND fdy IS NOT NULL
                THEN (fdy - fly) / (cdy - cly)
              WHEN fdy IS NOT NULL THEN (fdy - val) / (cdy - clat)
              WHEN fly IS NOT NULL THEN (val - fly) / (clat - cly)
              ELSE 0.0 END AS glat,
         CASE WHEN flx IS NOT NULL AND fdx IS NOT NULL
                THEN (fdx - flx) / (cdx - clx)
              WHEN fdx IS NOT NULL THEN (fdx - val) / (cdx - clon)
              WHEN flx IS NOT NULL THEN (val - flx) / (clon - clx)
              ELSE 0.0 END AS glon
  FROM gl
)
SELECT dst_cell,
       round({_dsum('wt * val + w2lat * glat + w2lon * glon')}, 6)
         AS val_remap,
       round({_dsum('wt')}, 6) AS w_sum
FROM gg JOIN w ON gg.cell_id = w.src_cell
GROUP BY 1
"""


# ------------------------------------------------- sessionization (batch)

def q_sessionize_gaps(spark, sf_dir):
    """Gap-based sessionization through the production sessionizer
    (operators/sessions.py sessionize_batch). events shimmed to the
    transcript schema (user_id -> conv_id, event_type as the text payload
    so length() is engine-portable)."""
    from ..operators.sessions import sessionize_batch

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("conv_id"),
        "ts",
        F.col("event_type").alias("text"),
    )
    s = sessionize_batch(ev, gap_hours=6.0)
    return s.select(
        "conv_id",
        _fmt(F.col("session_start")).alias("session_start"),
        _fmt(F.col("session_end")).alias("session_end"),
        "n_turns",
        "text_len_sum",
    )


ORACLE_SESSIONIZE = """
WITH t AS (
  SELECT user_id AS conv_id, ts, event_type AS text FROM events
), g AS (
  SELECT conv_id, ts, text,
         CASE WHEN epoch_us(ts)
                   - lag(epoch_us(ts)) OVER (PARTITION BY conv_id
                                             ORDER BY ts)
                   > 21600000000
              THEN 1 ELSE 0 END AS is_new
  FROM t
), s AS (
  SELECT conv_id, ts, text,
         sum(is_new) OVER (PARTITION BY conv_id ORDER BY ts) AS sess
  FROM g
)
SELECT conv_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(length(text)) AS DOUBLE) AS text_len_sum
FROM s GROUP BY conv_id, sess
"""


# ------------------------------------------- cross-polytope multi-table ANN


def q_ann_topk_cp(spark, sf_dir):
    """Cross-polytope multi-table ANN top-k (functions/similarity.py
    ann_topk_cp): bucket = signed argmax coordinate of a deterministic
    pseudo-random rotation per table, query-directed probing (the
    m_probe signed axes with the largest rotated-query projections).
    The ANN family for near-random corpora — measured 0.89 recall@10 at
    29% scan on sf0.1 (BENCH/ann_recall.json). Gate config is a
    small 2-table/3-probe instance; the oracle inlines the rotation
    columns as literals and reproduces bucketing, probing and ranking
    value-exactly."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qvec = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    return SIM.ann_topk_cp(emb, qvec, k=10, n_tables=2, m_probe=3)


def _oracle_ann_cp(
    n_tables: int = 2, m_probe: int = 3, dim: int = 64
) -> str:
    """Inline the SAME quantized rotations (similarity._cp_rotation) as a
    (table, coord, weights) VALUES relation; bucket = arg_max over the
    per-coordinate projections, probes = top-m signed axes of the
    query's projections — all exact arithmetic DuckDB reproduces."""
    from ..functions.similarity import _cp_rotation

    rows = []
    for t in range(n_tables):
        rot = _cp_rotation(dim, t)
        for j in range(dim):
            w = ", ".join(repr(float(x)) for x in rot[:, j])
            rows.append(f"({t}, {j}, [{w}]::DOUBLE[])")
    vals = ",\n  ".join(rows)
    return f"""
WITH rot(t, j, w) AS (VALUES
  {vals}
),
b AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
proj AS (
  SELECT b.vec_id, r.t, r.j, list_dot_product(b.e, r.w) AS p
  FROM b CROSS JOIN rot r
),
bkt AS (
  SELECT vec_id, t,
         arg_max(j * 2 + CASE WHEN p > 0 THEN 1 ELSE 0 END, abs(p)) AS bucket
  FROM proj GROUP BY vec_id, t
),
qp AS (SELECT t, j, p FROM proj WHERE vec_id = 0),
signed AS (
  SELECT t, j * 2 + 1 AS bucket, p AS v FROM qp
  UNION ALL
  SELECT t, j * 2 AS bucket, -p AS v FROM qp
),
probes AS (
  SELECT t, bucket FROM (
    SELECT t, bucket,
           row_number() OVER (PARTITION BY t ORDER BY v DESC, bucket) AS rn
    FROM signed
  ) WHERE rn <= {m_probe}
),
cand AS (
  SELECT DISTINCT bkt.vec_id
  FROM bkt JOIN probes
    ON bkt.t = probes.t AND bkt.bucket = probes.bucket
),
q AS (SELECT e AS qv FROM b WHERE vec_id = 0)
SELECT b.vec_id,
       round(list_dot_product(e, qv)
             / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qv, qv))),
             6) AS cos_sim
FROM b JOIN cand ON b.vec_id = cand.vec_id CROSS JOIN q
ORDER BY cos_sim DESC, b.vec_id LIMIT 10
"""


QUERIES = {
    "rollup_hourly": q_rollup_hourly,
    "rollup_daily_from_hourly": q_rollup_daily_from_hourly,
    "rollup_monthly_from_daily": q_rollup_monthly_from_daily,
    "bucket_6h": q_bucket_6h,
    "dedup_latest_wins": q_dedup_latest_wins,
    "h_steps_selection": q_h_steps_selection,
    "gapfill_missing_buckets": q_gapfill_missing_buckets,
    "point_read": q_point_read,
    "semijoin_active": q_semijoin_active,
    "minmax_bounds": q_minmax_bounds,
    "version_coalesce": q_version_coalesce,
    "sortedness_check": q_sortedness_check,
    "tpch_q1": q_tpch_q1,
    "revenue_by_nation": q_revenue_by_nation,
    "exact_dedup_docs": q_exact_dedup_docs,
    "token_counts": q_token_counts,
    "quality_per_source": q_quality_per_source,
    "lang_id_counts": q_lang_id_counts,
    "fingerprint_docs": q_fingerprint_docs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "ann_topk": q_ann_topk,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "lut_resolve": q_lut_resolve,
    "landmask_derive": q_landmask_derive,
    "remap_weighted": q_remap_weighted,
    "remap_con2": q_remap_con2,
    "remap_bilinear": q_remap_bilinear,
    "remap_nearest": q_remap_nearest,
    "remap_idw": q_remap_idw,
    "remap_laf": q_remap_laf,
    "remap_bicubic": q_remap_bicubic,
    "scalar_roundtrip": q_scalar_roundtrip,
    "float_axes": q_float_axes,
    "mask_and_fill": q_mask_and_fill,
    "request_chunks": q_request_chunks,
    "codec_roundtrip": q_codec_roundtrip,
    "nearest_gpi": q_nearest_gpi,
    "grid_bbox": q_grid_bbox,
    "simhash_pairs": q_simhash_pairs,
    "embedding_neardup": q_embedding_neardup,
    "ann_topk_ivf": q_ann_topk_ivf,
    "image_decode_features": q_image_decode_features,
    "image_decode_features_jpeg": q_image_decode_features_jpeg,
    "audio_decode_features": q_audio_decode_features,
    "video_decode_features": q_video_decode_features,
    "sessionize_gaps": q_sessionize_gaps,
    "remap_con_2d": q_remap_con_2d,
    "remap_con2_2d": q_remap_con2_2d,
    "ann_topk_cp": q_ann_topk_cp,
    "antijoin_orphans": q_antijoin_orphans,
}

ORACLES = {
    "rollup_hourly": _oracle_rollup("hour"),
    "rollup_daily_from_hourly": _oracle_rollup("day"),
    "rollup_monthly_from_daily": _oracle_rollup("month"),
    "bucket_6h": ORACLE_BUCKET_6H,
    "dedup_latest_wins": ORACLE_DEDUP,
    "h_steps_selection": ORACLE_H_STEPS,
    "gapfill_missing_buckets": ORACLE_GAPFILL,
    "point_read": ORACLE_POINT_READ,
    "semijoin_active": ORACLE_SEMIJOIN,
    "minmax_bounds": ORACLE_MINMAX,
    "version_coalesce": ORACLE_COALESCE,
    "sortedness_check": ORACLE_SORTED,
    "tpch_q1": ORACLE_TPCH_Q1,
    "revenue_by_nation": ORACLE_REVENUE,
    "exact_dedup_docs": ORACLE_EXACT_DEDUP,
    "token_counts": ORACLE_TOKEN_COUNTS,
    "quality_per_source": ORACLE_QUALITY,
    "lang_id_counts": ORACLE_LANG_ID,
    "fingerprint_docs": ORACLE_FINGERPRINT,
    "ngram_jaccard_pairs": ORACLE_NGRAM_JACCARD,
    "ann_topk": ORACLE_ANN_TOPK,
    "minhash_lsh_pairs": ORACLE_MINHASH,
    "lut_resolve": _oracle_lut_resolve(),
    "landmask_derive": ORACLE_LANDMASK,
    "remap_weighted": _oracle_remap(),
    "remap_con2": _oracle_remap_con2(),
    "remap_bilinear": ORACLE_REMAP_BILINEAR,
    "remap_nearest": ORACLE_REMAP_NEAREST,
    "remap_idw": ORACLE_REMAP_IDW,
    "remap_laf": ORACLE_REMAP_LAF,
    "remap_bicubic": ORACLE_REMAP_BICUBIC,
    "scalar_roundtrip": ORACLE_SCALAR,
    "float_axes": ORACLE_FLOAT_AXES,
    "mask_and_fill": ORACLE_MASK_FILL,
    "request_chunks": ORACLE_CHUNKS,
    "codec_roundtrip": ORACLE_CODEC_ROUNDTRIP,
    "nearest_gpi": _oracle_nearest(),
    "grid_bbox": ORACLE_GRID_BBOX,
    "simhash_pairs": ORACLE_SIMHASH_PAIRS,
    "embedding_neardup": _oracle_neardup(),
    "ann_topk_ivf": ORACLE_ANN_IVF,
    "image_decode_features": ORACLE_IMAGE_DECODE,
    "image_decode_features_jpeg": ORACLE_IMAGE_DECODE_JPEG,
    "audio_decode_features": ORACLE_AUDIO_DECODE,
    "video_decode_features": ORACLE_VIDEO_DECODE,
    "sessionize_gaps": ORACLE_SESSIONIZE,
    "remap_con_2d": _oracle_remap_con_2d(),
    "remap_con2_2d": _oracle_remap_con2_2d(),
    "ann_topk_cp": _oracle_ann_cp(),
    "antijoin_orphans": ORACLE_ANTIJOIN,
}
