"""Sequential streaming rollup: the sorted-run physical plan for the
retention tiers.

WHY THIS EXISTS. `rollup.rollup_tiers` is the declarative cascade —
hash aggregation behind one conv_id exchange. At transcript grain the
hourly tier barely reduces (~one turn per hour bucket), so the
post-shuffle HashAggregate builds a hash map with nearly one group per
input row: pure random-access memory traffic. This box's own probe
(BENCH/bw_probe.py `rand` leg) shows random access saturating at ~8
cores (0.98x best-of 8->32) while sequential STREAM bandwidth still
scales 1.7x — which is exactly the measured shape of the flat
rollup-cascade phase in BENCH/BASELINE.md. On a real cluster the same
asymmetry holds per socket: hash aggregation over ~row-cardinality
groups is the wrong physical operator for data that is ALREADY SORTED
by the group key.

The silver table gives us that order for free: reshuffle() writes each
cell partition sorted by (conv_id, ts, turn_idx) (the O1 invariant,
reference src/ecmwf_models/era5/reshuffle.py:118-125 cell files), so
rows of any (conv_id, date_trunc(tier, ts)) group are CONTIGUOUS in
file order. This operator aggregates those runs with one sequential
pass — numpy `reduceat` inside an Arrow-batched mapInPandas — and no
wide shuffle at all:

  * per input split, closed runs are FINAL rows (no other split can
    hold their group);
  * only the first and last run of each split are PARTIAL (the group
    may continue across the split/partition boundary);
  * partial rows (2 per split + nothing else) are merged by a
    Kb-scale groupBy and unioned back.

Net data movement: zero bytes of the big table are exchanged; the only
shuffle carries ~2 rows per input split. Results are bit-identical to
`rollup_from_raw(order_cols=("ts", "turn_idx"))` at any tier (int64
micro-unit sums are associative; min/max combine order-independently;
first/last carry composite (ts, turn_idx) order keys so exact-ts ties
resolve to the stable-turn-order winner on both paths — not to
min_by's encounter-order tie rule).

PRECONDITION (checked, not assumed): within each input partition, all
rows of a conv_id must be contiguous (file order sorted by (conv_id,
ts) per file; different files in a packed partition may hold different
conv ranges in any order). Unsalted silver satisfies this by
construction — repartitionByRange(cell, conv) puts a conv in exactly
one file. Salted silver (reshuffle salt_segment_hours) can split one
conv across segment files which Spark's bin-packing may interleave;
the operator detects any conv reappearing after closing (a per-split
seen-set over run starts) and raises rather than emit a silently
wrong aggregate — fall back to rollup_tiers for such inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .rollup import METRICS, MICRO, TIERS

# numpy datetime64 truncation unit per tier — identical to
# F.date_trunc under the session's UTC timezone (session.py sets
# spark.sql.session.timeZone=UTC, and Spark hands pandas UDFs
# tz-naive datetimes already converted to the session zone).
_NP_UNIT = {"hourly": "h", "daily": "D", "monthly": "M"}

_SENTINEL = np.iinfo(np.int64).max


def _state_schema(value_cols, first_last: bool) -> StructType:
    fields = [
        StructField("conv_id", StringType()),
        StructField("bucket_ts", TimestampType()),
        StructField("n_turns", LongType()),
    ]
    for c in value_cols:
        fields += [
            StructField(f"{c}_sum", LongType()),
            StructField(f"{c}_cnt", LongType()),
            StructField(f"{c}_min", DoubleType()),
            StructField(f"{c}_max", DoubleType()),
        ]
        if first_last:
            fields += [
                StructField(f"{c}_first", DoubleType()),
                StructField(f"{c}_last", DoubleType()),
                # composite (ts, turn_idx) order keys for merging partial
                # runs across splits — turn_idx breaks exact-ts ties the
                # same way rollup_from_raw(order_cols=("ts", "turn_idx"))
                # does; dropped after the merge
                StructField(f"_{c}_first_ts", LongType()),
                StructField(f"_{c}_first_idx", LongType()),
                StructField(f"_{c}_last_ts", LongType()),
                StructField(f"_{c}_last_idx", LongType()),
            ]
    fields.append(StructField("_partial", BooleanType()))
    return StructType(fields)


def _batch_runs(pdf, bucket_unit, value_cols, first_last):
    """Vectorized run aggregation over one Arrow batch.

    Returns (keys, states) where every array has one element per
    contiguous (conv_id, bucket) run, in batch order."""
    conv = pdf["conv_id"].to_numpy(dtype=object)
    ts64 = pdf["_ts"].to_numpy(dtype="datetime64[ns]")
    tidx = pdf["_idx"].to_numpy(dtype="int64")
    bucket = ts64.astype(f"datetime64[{bucket_unit}]").view("int64")
    n = len(conv)

    new_run = np.empty(n, dtype=bool)
    new_run[0] = True
    if n > 1:
        # object-array != is a C loop over PyObject_RichCompare —
        # ~O(100ns)/row, the only per-row cost in this operator
        np.not_equal(conv[1:], conv[:-1], out=new_run[1:])
        # within a conv, rows must be (ts, turn_idx)-sorted (the O1
        # silver invariant) — position-based first/last picks depend
        # on it, so violations raise rather than mis-aggregate
        ts_i8_chk = ts64.view("int64")
        ordered = (ts_i8_chk[1:] > ts_i8_chk[:-1]) | (
            (ts_i8_chk[1:] == ts_i8_chk[:-1]) & (tidx[1:] >= tidx[:-1])
        )
        if not np.all(new_run[1:] | ordered):
            raise ValueError(
                "stream_rollup: rows are not (ts, turn_idx)-sorted "
                "within a conv_id — input is not O1-invariant silver; "
                "use rollup.rollup_tiers for this input"
            )
        new_run[1:] |= bucket[1:] != bucket[:-1]
    starts = np.flatnonzero(new_run)

    out = {
        "conv_id": conv[starts],
        "bucket": bucket[starts],
        "n_turns": np.diff(starts, append=n).astype("int64"),
    }
    idx = np.arange(n, dtype="int64")
    ts_i8 = ts64.view("int64")
    for c in value_cols:
        v = pdf[c].to_numpy(dtype="float64", na_value=np.nan)
        valid = ~np.isnan(v)
        micro = np.where(valid, np.floor(v * MICRO + 0.5), 0.0).astype(
            "int64"
        )
        out[f"{c}_sum"] = np.add.reduceat(micro, starts)
        out[f"{c}_cnt"] = np.add.reduceat(valid.astype("int64"), starts)
        mn = np.minimum.reduceat(np.where(valid, v, np.inf), starts)
        mx = np.maximum.reduceat(np.where(valid, v, -np.inf), starts)
        empty = out[f"{c}_cnt"] == 0
        out[f"{c}_min"] = np.where(empty, np.nan, mn)
        out[f"{c}_max"] = np.where(empty, np.nan, mx)
        if first_last:
            fidx = np.minimum.reduceat(
                np.where(valid, idx, _SENTINEL), starts
            )
            lidx = np.maximum.reduceat(np.where(valid, idx, -1), starts)
            safe_f = np.where(empty, 0, fidx)
            safe_l = np.where(empty, 0, lidx)
            out[f"{c}_first"] = np.where(empty, np.nan, v[safe_f])
            out[f"{c}_last"] = np.where(empty, np.nan, v[safe_l])
            out[f"_{c}_first_ts"] = np.where(empty, 0, ts_i8[safe_f])
            out[f"_{c}_first_idx"] = np.where(empty, 0, tidx[safe_f])
            out[f"_{c}_last_ts"] = np.where(empty, 0, ts_i8[safe_l])
            out[f"_{c}_last_idx"] = np.where(empty, 0, tidx[safe_l])
    return out


def _combine_into(carry: dict, run0: dict, value_cols, first_last):
    """Fold batch run 0 (same group) into the carried open run —
    scalar python, executed at most once per Arrow batch."""
    carry["n_turns"] += run0["n_turns"]
    for c in value_cols:
        carry[f"{c}_sum"] += run0[f"{c}_sum"]
        cnt_new = run0[f"{c}_cnt"]
        carry[f"{c}_cnt"] += cnt_new
        for k, pick in ((f"{c}_min", min), (f"{c}_max", max)):
            a, b = carry[k], run0[k]
            if np.isnan(a):
                carry[k] = b
            elif not np.isnan(b):
                carry[k] = pick(a, b)
        if first_last and cnt_new:
            # key-ordered combine on the composite (ts, turn_idx) —
            # robust even across an unsorted batch boundary
            new_fk = (run0[f"_{c}_first_ts"], run0[f"_{c}_first_idx"])
            new_lk = (run0[f"_{c}_last_ts"], run0[f"_{c}_last_idx"])
            if np.isnan(carry[f"{c}_first"]) or new_fk < (
                carry[f"_{c}_first_ts"],
                carry[f"_{c}_first_idx"],
            ):
                carry[f"{c}_first"] = run0[f"{c}_first"]
                carry[f"_{c}_first_ts"], carry[f"_{c}_first_idx"] = new_fk
            if np.isnan(carry[f"{c}_last"]) or new_lk >= (
                carry[f"_{c}_last_ts"],
                carry[f"_{c}_last_idx"],
            ):
                carry[f"{c}_last"] = run0[f"{c}_last"]
                carry[f"_{c}_last_ts"], carry[f"_{c}_last_idx"] = new_lk


def _make_mapper(tier, value_cols, first_last, emit_rows=65_536):
    bucket_unit = _NP_UNIT[tier]
    state_cols = ["conv_id", "bucket", "n_turns"]
    for c in value_cols:
        state_cols += [f"{c}_sum", f"{c}_cnt", f"{c}_min", f"{c}_max"]
        if first_last:
            state_cols += [
                f"{c}_first",
                f"{c}_last",
                f"_{c}_first_ts",
                f"_{c}_first_idx",
                f"_{c}_last_ts",
                f"_{c}_last_idx",
            ]

    def to_pdf(chunks, partial_first, partial_last):
        cols = {
            k: np.concatenate([ch[k] for ch in chunks]) for k in state_cols
        }
        m = len(cols["conv_id"])
        pdf = pd.DataFrame(
            {
                "conv_id": cols["conv_id"],
                "bucket_ts": cols["bucket"]
                .astype(f"datetime64[{bucket_unit}]")
                .astype("datetime64[ns]"),
                "n_turns": cols["n_turns"],
            }
        )
        for c in value_cols:
            cnt = cols[f"{c}_cnt"]
            none = cnt == 0
            # SQL sum over zero non-null rows is NULL, not 0 — match
            # the hash path's F.sum exactly
            s = pd.array(cols[f"{c}_sum"], dtype="Int64")
            s[none] = pd.NA
            pdf[f"{c}_sum"] = s
            pdf[f"{c}_cnt"] = cnt
            for suf in ("min", "max", "first", "last"):
                if suf in ("first", "last") and not first_last:
                    continue
                # NaN here means exactly "no valid value in the run"
                # (data NaNs were excluded row-wise); the nullable
                # Float64 dtype turns it into a true SQL NULL — a raw
                # float64 column would ship NaN as a VALUE through
                # Arrow, unlike the cascade's NULL.
                pdf[f"{c}_{suf}"] = pd.array(
                    cols[f"{c}_{suf}"], dtype="Float64"
                )
            if first_last:
                for suf in ("first_ts", "first_idx", "last_ts", "last_idx"):
                    arr = pd.array(cols[f"_{c}_{suf}"], dtype="Int64")
                    arr[none] = pd.NA
                    pdf[f"_{c}_{suf}"] = arr
        flags = np.zeros(m, dtype=bool)
        if m:
            flags[0] = partial_first
            flags[-1] |= partial_last
        pdf["_partial"] = flags
        return pdf

    not_contiguous = ValueError(
        "stream_rollup: conv_id rows are not contiguous within an "
        "input split (salted silver, or input not cluster-sorted by "
        "(conv_id, ts)) — use rollup.rollup_tiers for this input"
    )

    def mapper(batches):
        carry = None  # open run: dict of python scalars
        chunks, buffered = [], 0
        first_open = True  # next closed run is the split's first
        seen = set()  # convs fully closed in this split (the guard)
        tail = None  # (ts, turn_idx) of the split's last row so far
        for pdf in batches:
            if not len(pdf):
                continue
            runs = _batch_runs(pdf, bucket_unit, value_cols, first_last)
            m = len(runs["conv_id"])
            rconv = runs["conv_id"]

            # _batch_runs checks (ts, turn_idx) order only inside the
            # batch: a batch continuing the open conv must not start
            # before the carried tail key (an earlier bucket implies an
            # earlier ts), or the carry would close and its bucket be
            # emitted twice, both runs FINAL
            edge = pdf.iloc[[0, -1]]
            edge_ts = edge["_ts"].to_numpy(dtype="datetime64[ns]")
            edge_ts = edge_ts.view("int64")
            edge_idx = edge["_idx"].to_numpy(dtype="int64")
            if (
                carry is not None
                and rconv[0] == carry["conv_id"]
                and (edge_ts[0], edge_idx[0]) < tail
            ):
                raise not_contiguous
            tail = (edge_ts[1], edge_idx[1])

            # contiguity guard. factorize codes are ordered by first
            # appearance, so a non-decreasing code sequence over the
            # (ordered) runs <=> no conv reappears within this batch.
            codes, uniq = pd.factorize(rconv)
            if m > 1 and not np.all(np.diff(codes) >= 0):
                raise not_contiguous
            uniq_set = set(uniq)
            if seen and not seen.isdisjoint(uniq_set):
                raise not_contiguous
            prev_conv = carry["conv_id"] if carry is not None else None
            if (
                prev_conv is not None
                and prev_conv in uniq_set
                and rconv[0] != prev_conv
            ):
                # the open conv was displaced then reappeared
                raise not_contiguous
            seen.update(u for u in uniq_set if u != rconv[-1])
            if prev_conv is not None and rconv[0] != prev_conv:
                seen.add(prev_conv)

            start_j = 0
            if (
                carry is not None
                and rconv[0] == carry["conv_id"]
                and runs["bucket"][0] == carry["bucket"]
            ):
                run0 = {k: runs[k][0] for k in state_cols}
                _combine_into(carry, run0, value_cols, first_last)
                start_j = 1

            if m > start_j:
                if carry is not None:
                    # the carried run closes ahead of this batch's runs
                    chunks.append(
                        {k: _scalar_arr(carry[k], k) for k in state_cols}
                    )
                    buffered += 1
                # emit runs[start_j : m-1]; keep runs[m-1] open
                if m - 1 > start_j:
                    chunks.append(
                        {k: runs[k][start_j : m - 1] for k in state_cols}
                    )
                    buffered += m - 1 - start_j
                carry = {k: runs[k][m - 1] for k in state_cols}
            # else: the whole batch folded into the carried run

            if buffered >= emit_rows:
                yield to_pdf(chunks, first_open, False)
                first_open = False
                chunks, buffered = [], 0
        if carry is not None:
            chunks.append({k: _scalar_arr(carry[k], k) for k in state_cols})
            buffered += 1
        if buffered:
            yield to_pdf(chunks, first_open, True)

    return mapper


def _scalar_arr(v, key):
    if key == "conv_id":
        return np.array([v], dtype=object)
    if isinstance(v, (np.floating, float)):
        return np.array([v], dtype="float64")
    return np.array([v], dtype="int64")


def stream_rollup_states(
    silver: DataFrame,
    tier: str = "monthly",
    value_cols: tuple[str, ...] = METRICS,
    ts_col: str = "ts",
    first_last: bool = True,
    idx_col: str = "turn_idx",
) -> DataFrame:
    """The tagged (pre-merge) run states: one row per contiguous
    (conv_id, bucket) run per input split, `_partial` marking the <=2
    runs per split that may continue elsewhere. idx_col is the exact-ts
    tie-breaker for first/last — the stable turn ordering of the
    BASELINE input_hint, matching
    rollup_from_raw(order_cols=(ts_col, idx_col))."""
    if tier not in TIERS:
        raise ValueError(f"tier must be one of {TIERS}")
    narrow = silver.select(
        "conv_id",
        F.col(ts_col).alias("_ts"),
        F.col(idx_col).cast("long").alias("_idx"),
        *value_cols,
    )
    schema = _state_schema(value_cols, first_last)
    return narrow.mapInPandas(
        _make_mapper(tier, value_cols, first_last), schema
    )


def merge_stream_states(
    tagged: DataFrame,
    value_cols: tuple[str, ...] = METRICS,
    first_last: bool = True,
) -> DataFrame:
    """FINAL rows pass through untouched (no shuffle); PARTIAL rows —
    ~2 per input split — are re-aggregated by key and unioned back.
    first/last merge orders by the carried first/last row timestamps,
    with the same null guard as rollup.rollup_cascade."""
    ts_cols = [
        f"_{c}_{suf}_{k}"
        for c in value_cols
        for suf in ("first", "last")
        for k in ("ts", "idx")
        if first_last
    ]
    finals = tagged.filter(~F.col("_partial")).drop("_partial", *ts_cols)
    partials = tagged.filter(F.col("_partial"))
    aggs = [F.sum("n_turns").alias("n_turns")]
    for c in value_cols:
        aggs += [
            F.sum(f"{c}_sum").alias(f"{c}_sum"),
            F.sum(f"{c}_cnt").alias(f"{c}_cnt"),
            F.min(f"{c}_min").alias(f"{c}_min"),
            F.max(f"{c}_max").alias(f"{c}_max"),
        ]
        if first_last:
            aggs += [
                F.min_by(
                    f"{c}_first",
                    F.when(
                        F.col(f"{c}_first").isNotNull(),
                        F.struct(
                            F.col(f"_{c}_first_ts"),
                            F.col(f"_{c}_first_idx"),
                        ),
                    ),
                ).alias(f"{c}_first"),
                F.max_by(
                    f"{c}_last",
                    F.when(
                        F.col(f"{c}_last").isNotNull(),
                        F.struct(
                            F.col(f"_{c}_last_ts"),
                            F.col(f"_{c}_last_idx"),
                        ),
                    ),
                ).alias(f"{c}_last"),
            ]
    merged = partials.groupBy("conv_id", "bucket_ts").agg(*aggs)
    return finals.unionByName(merged)


def stream_rollup(
    silver: DataFrame,
    tier: str = "monthly",
    value_cols: tuple[str, ...] = METRICS,
    ts_col: str = "ts",
    first_last: bool = True,
    persist: bool = True,
    idx_col: str = "turn_idx",
) -> DataFrame:
    """One-call sequential rollup: sorted-run mapInPandas -> tiny
    partial merge. Bit-identical to the finalize-ready state rows of
    `rollup_from_raw(silver, tier, order_cols=("ts", "turn_idx"))`
    (and to `rollup_tiers` wherever (conv_id, bucket, ts) has no
    exact-ts ties).

    persist=True caches the tagged states so the final/partial split
    reads the sequential pass once instead of recomputing it per
    branch (executor-local storage; on a cluster this is
    MEMORY_AND_DISK on each executor). The cache is tier-sized (the
    AGGREGATED rows), not input-sized."""
    tagged = stream_rollup_states(
        silver, tier, value_cols, ts_col, first_last, idx_col
    )
    if persist:
        tagged = tagged.persist()
    return merge_stream_states(tagged, value_cols, first_last)
