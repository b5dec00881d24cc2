"""Retention-tier rollups: hourly -> daily -> monthly continuous aggregates.

The reference's downsample is CDO regridding with reusable weights
(reference extract.py:150-160,204-213); the graft re-expresses it as
cascading temporal rollups (BASELINE.json metric). The design constraint is
EXACT re-aggregation: monthly-from-daily must equal monthly-from-raw. So
every tier carries the decomposable state

    (sum int64-micro, count int64, min, max, first-by-ts, last-by-ts)

and derives avg = sum/count only at the edge, cast to float32 there (the
reference's float32 storage contract, era5/reshuffle.py:240; test tolerance
rtol=1e-5, tests/tests_era5/test_era5_reshuffle.py:75-77).

Sums are carried as FIXED-POINT int64 micro-units (value * 1e6, rounded
half-up), NOT double and NOT high-precision decimal:

  * integer addition is associative -> tier outputs are bit-identical at
    any partitioning / task order / AQE layout (double accumulation flips
    rounding-boundary values between runs — the round-1 monthly hash
    failure);
  * int64 is Spark's primitive fast path: the whole rollup state stays in
    HashAggregate's primitive mutable buffers inside whole-stage codegen.
    decimal(38,18) (the round-1 fix) was also associative but precision>18
    forces the BigDecimal slow path — measured ~2x slower with heavy GC on
    the 7.5M-row cascade;
  * quantization error is <=0.5e-6 per input row, far inside the
    reference's rtol=1e-5 float32 golden tolerance, and is applied
    identically on the DuckDB oracle side (floor(x*1e6 + 0.5)), so value
    hashes still match bit-for-bit.

Overflow bound: int64 holds |sum| < 9.2e18, i.e. ~9.2e12 in value units at
MICRO=1e6. Groups here are per (conv_id, bucket); even a 1e6-turn
conversation-month of 32k-char turns sums to ~3.2e16 micro — five orders
of magnitude of headroom. Raise/lower MICRO per metric if a deployment
needs a different range/precision trade.

Spark-first: plain hash aggregation — partial (map-side) + final, fully
whole-stage-codegen'd, no UDFs. first/last use min_by/max_by on the bucket
timestamp, which re-aggregates exactly (min_by over min_by composes).
Each cascade step groups by a coarser bucket of the SAME key prefix
(conv_id, ...), so the one conv_id exchange under tier 0 clusters every
later tier: the whole cascade moves the narrow raw rows once and never
re-shuffles aggregate state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TIERS = ("hourly", "daily", "monthly")
_TRUNC = {"hourly": "hour", "daily": "day", "monthly": "month"}

METRICS = ("text_len", "tool_call")

# fixed-point scale for carried sums: 6 decimal digits
MICRO = 1_000_000


def to_micro(c):
    """double -> int64 micro-units, round-half-up. floor(x*1e6 + 0.5) is
    IEEE-deterministic and expressible identically in ANSI SQL, so the
    DuckDB oracle reproduces the exact same int64. NULL stays NULL; NaN is
    mapped to NULL explicitly — Spark's long cast turns NaN into 0, which
    would silently add 0 to the sum while still bumping the count (and the
    DuckDB oracle errors on CAST(NaN AS BIGINT)). Codec round-trips keep
    NaN bit-exact, so NaN-bearing unpacked data must be excluded from the
    sum like the reference's masked fill values."""
    col = F.col(c) if isinstance(c, str) else c
    col = col.cast("double")
    col = F.when(F.isnan(col), F.lit(None)).otherwise(col)
    return F.floor(col * MICRO + F.lit(0.5)).cast("long")


def _nan_to_null(c):
    """Shared NaN guard for EVERY carried statistic: Spark sorts NaN
    greater than any double, so an unguarded max/min_by/max_by would
    surface NaN even though the sum/cnt exclude it. One NaN-bearing row
    must be invisible to all six statistics (the reference's masked
    fill-value contract), not just to the mean."""
    col = F.col(c) if isinstance(c, str) else c
    col = col.cast("double")
    return F.when(F.isnan(col), F.lit(None)).otherwise(col)


def _agg_state(value_cols):
    aggs = [F.count(F.lit(1)).alias("n_turns")]
    for c in value_cols:
        v = _nan_to_null(c)
        # min_by/max_by skip NULL-valued rows, so a NaN row on the
        # bucket's ts boundary never becomes first/last. Exact-ts ties
        # inside one bucket go by min_by/max_by encounter order; a
        # struct (ts, turn_idx) key would break them stably but plans
        # SortAggregate instead of the codegen'd HashAggregate.
        ts = F.when(v.isNotNull(), F.col("ts"))
        aggs += [
            F.sum(to_micro(c)).alias(f"{c}_sum"),
            # count the same NaN-nulled expression the sum uses, so
            # avg = sum/cnt stays consistent when NaN rows are present
            F.count(to_micro(c)).alias(f"{c}_cnt"),
            F.min(v).alias(f"{c}_min"),
            F.max(v).alias(f"{c}_max"),
            F.min_by(v, ts).alias(f"{c}_first"),
            F.max_by(v, ts).alias(f"{c}_last"),
        ]
    return aggs


def rollup_from_raw(
    silver: DataFrame,
    tier: str = "hourly",
    value_cols: tuple[str, ...] = METRICS,
) -> DataFrame:
    """Tier-0 rollup straight from turn-grain rows, hash-repartitioned
    by conv_id first (narrow columns only, AQE-sized). At transcript
    grain the hourly tier barely reduces, so raw rows cost no more to
    shuffle than partial states, and HashPartitioning(conv_id) satisfies
    ClusteredDistribution(conv_id, bucket) for this tier and every later
    rollup_cascade: the CLI chain plans one rollup exchange, not one per
    tier (plan-asserted in tests/test_plans.py)."""
    base = silver.select("conv_id", "ts", *value_cols).repartition("conv_id")
    b = F.date_trunc(_TRUNC[tier], F.col("ts")).alias("bucket_ts")
    return base.groupBy("conv_id", b).agg(*_agg_state(value_cols))


def rollup_cascade(
    lower: DataFrame,
    to_tier: str,
    value_cols: tuple[str, ...] = METRICS,
) -> DataFrame:
    """Tier k -> tier k+1 by re-aggregating carried state. Exact:
    sum(sum), sum(cnt), min(min), max(max), first = min_by(first, bucket),
    last = max_by(last, bucket)."""
    b = F.date_trunc(_TRUNC[to_tier], F.col("bucket_ts")).alias("bucket_ts")
    aggs = [F.sum("n_turns").alias("n_turns")]
    for c in value_cols:
        aggs += [
            F.sum(f"{c}_sum").alias(f"{c}_sum"),
            F.sum(f"{c}_cnt").alias(f"{c}_cnt"),
            F.min(f"{c}_min").alias(f"{c}_min"),
            F.max(f"{c}_max").alias(f"{c}_max"),
            # Mirror the tier-0 NaN guard: an all-NaN lower bucket carries
            # NULL first/last, and bucket_ts is never NULL, so an unguarded
            # min_by/max_by could pick that NULL over a sibling bucket's
            # real value. Ordering by a ts nulled-out alongside the value
            # keeps NaN rows invisible at every tier.
            F.min_by(
                f"{c}_first",
                F.when(F.col(f"{c}_first").isNotNull(), F.col("bucket_ts")),
            ).alias(f"{c}_first"),
            F.max_by(
                f"{c}_last",
                F.when(F.col(f"{c}_last").isNotNull(), F.col("bucket_ts")),
            ).alias(f"{c}_last"),
        ]
    return lower.groupBy("conv_id", b).agg(*aggs)


def finalize(df: DataFrame, value_cols: tuple[str, ...] = METRICS) -> DataFrame:
    """Derive means, convert micro sums back to value units, and apply the
    float32 edge cast: one projection (each withColumn would re-analyse
    the plan so far). Replaced columns keep their place; the means follow
    the input's columns, in value_cols order."""
    cols = {}
    for c in value_cols:
        cols[f"{c}_avg"] = (
            F.col(f"{c}_sum").cast("double") / MICRO / F.col(f"{c}_cnt")
        ).cast("float")
        cols[f"{c}_sum"] = F.col(f"{c}_sum").cast("double") / MICRO
        for suffix in ("min", "max", "first", "last"):
            cols[f"{c}_{suffix}"] = F.col(f"{c}_{suffix}").cast("float")
    return df.withColumns(cols)


def rollup_tiers(
    silver: DataFrame,
    value_cols: tuple[str, ...] = METRICS,
) -> dict[str, DataFrame]:
    """The one cascade (the CLI writes it tier by tier): rollup_from_raw
    -> rollup_cascade -> rollup_cascade behind rollup_from_raw's one
    exchange, all three tiers pipelined in one stage. Returns raw-state
    tier DataFrames (finalize() for serving).

    Cluster note: partitioning by conversation holds at any executor
    count and any tier — this is the 100 TB plan shape (one narrow-row
    shuffle total instead of three wide-state ones). A pathological
    mega-conversation concentrates its groups in one task; group count
    per task stays bounded by the same keys-per-task argument as the
    shuffle-partition sizing rule (session.py).
    """
    hourly = rollup_from_raw(silver, "hourly", value_cols)
    daily = rollup_cascade(hourly, "daily", value_cols)
    monthly = rollup_cascade(daily, "monthly", value_cols)
    return {"hourly": hourly, "daily": daily, "monthly": monthly}
