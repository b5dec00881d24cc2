"""Gap-based conversation sessionization.

A session closes when a conv's next turn comes more than `gap_hours`
after its previous one. Run it over the silver: reshuffle and
extend_silver have already deduped each (conv_id, turn_idx) to its
latest final and put late turns in place, so a re-delivered turn is
counted once and a late turn lands in the session its ts belongs to.
Run again after an extend, it reflects the extend.
The gap rule is engine-native; the reference's nearest notion is the
per-gpi time-series bookkeeping of update_ts (reference
era5/reshuffle.py:254-308).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize_batch(
    df: DataFrame, gap_hours: float = 6.0, text_col: str = "text"
) -> DataFrame:
    """One row per (conv_id, session): start, end, turns and the summed
    text length, as pure SQL windows (the oracle-able form):

        is_new     = (ts - lag(ts) over (partition by conv order by ts))
                     > gap
        session_id = sum(is_new) over (partition by conv order by ts)
        sessions   = group by (conv, session_id):
                     min(ts), max(ts), count(*), sum(length(text))

    Every conv's last session is emitted too, still open or not.

    Scale shape: one shuffle on conv_id shared by the two windows and
    the aggregation (same partitioning, Catalyst reuses the exchange);
    the running sum's default RANGE frame makes tied timestamps land in
    the same session deterministically."""
    gap_us = int(gap_hours * 3600 * 1_000_000)
    w = Window.partitionBy("conv_id").orderBy("ts")
    # cast handles TIMESTAMP_NTZ inputs (the session tz is UTC, get_spark,
    # so the cast is the identity on wall-clock values; the gap is a
    # difference, tz-shift-invariant regardless)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    is_new = (ts_us - F.lag(ts_us).over(w) > gap_us).cast("long")
    sess = F.sum(F.coalesce(is_new, F.lit(0))).over(w)  # RANGE frame
    return (
        df.withColumn("_sess", sess)
        .groupBy("conv_id", "_sess")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length(text_col).cast("double")).alias(
                "text_len_sum"
            ),
        )
        .drop("_sess")
    )
