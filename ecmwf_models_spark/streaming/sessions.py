"""Custom stateful streaming operator: conversation sessionization.

The reference's closest notion is the incremental-append contract
(update_ts, reference era5/reshuffle.py:254-308) — state lives in
overview.yml between runs. Here the engine-native generalization is an
arbitrary per-key state machine over the turn stream, built on
`applyInPandasWithState`: for every conv_id we maintain the open session
(start, last_ts, n_turns, text_len_sum) and EMIT a closed-session row
whenever a new turn arrives more than `gap_hours` after the previous one.

State survives across availableNow micro-batch runs via the streaming
checkpoint (the overview.yml role), so ingest can stop and resume and
sessions still close correctly across the boundary.

Scale notes: state is one tiny tuple per ACTIVE conv (not per turn);
grouping shuffles only the new micro-batch's rows; inside the function
everything is numpy change-point math over the batch — no per-row Python.
"""

from __future__ import annotations

import numpy as np

SESSION_SCHEMA = (
    "conv_id string, session_start timestamp, session_end timestamp, "
    "n_turns long, text_len_sum double"
)
# epoch-microsecond longs: GroupState rows must be flat + fixed-width
STATE_SCHEMA = "start_us long, last_us long, n_turns long, text_len_sum double"


def _close_rows(conv_id, starts, ends, counts, sums):
    import pandas as pd

    return pd.DataFrame(
        {
            "conv_id": conv_id,
            "session_start": pd.to_datetime(starts, unit="us"),
            "session_end": pd.to_datetime(ends, unit="us"),
            "n_turns": counts,
            "text_len_sum": sums,
        }
    )


def make_sessionizer(gap_hours: float = 6.0):
    """Returns fn(key, pdf_iter, state) for applyInPandasWithState."""
    gap_us = int(gap_hours * 3600 * 1_000_000)

    def fn(key, pdfs, state):
        import pandas as pd

        (conv_id,) = key
        ts_list, len_list = [], []
        for pdf in pdfs:
            ts_list.append(
                pdf["ts"].astype("datetime64[us]").astype(np.int64).to_numpy()
            )
            len_list.append(
                pdf["text"].str.len().fillna(0).to_numpy(dtype=np.float64)
            )
        ts = np.concatenate(ts_list) if ts_list else np.empty(0, np.int64)
        if len(ts) == 0:
            return
        tl = np.concatenate(len_list)
        order = np.argsort(ts, kind="stable")
        ts, tl = ts[order], tl[order]

        if state.exists:
            start_us, last_us, n_turns, tl_sum = state.get
        else:
            start_us, last_us, n_turns, tl_sum = int(ts[0]), None, 0, 0.0

        # boundaries: first turn of a new session (gap to predecessor)
        prev = np.concatenate(
            ([last_us if last_us is not None else ts[0]], ts[:-1])
        )
        new_session = (ts - prev) > gap_us
        seg_starts = np.flatnonzero(new_session)

        if len(seg_starts) == 0:
            # everything extends the open session; last_us is monotone
            # (max guard) so an out-of-order batch cannot move the gap
            # reference point backwards and mis-split a later batch
            new_last = int(ts[-1]) if last_us is None else max(
                int(ts[-1]), int(last_us)
            )
            state.update(
                (
                    int(start_us),
                    new_last,
                    int(n_turns + len(ts)),
                    float(tl_sum + tl.sum()),
                )
            )
            return

        bounds = np.concatenate(([0], seg_starts, [len(ts)]))
        closed_starts, closed_ends, closed_counts, closed_sums = [], [], [], []
        # segment 0 closes the carried-over session
        first_hi = bounds[1]
        closed_starts.append(start_us)
        closed_ends.append(ts[first_hi - 1] if first_hi > 0 else last_us)
        closed_counts.append(n_turns + first_hi)
        closed_sums.append(tl_sum + float(tl[:first_hi].sum()))
        # middle segments are complete sessions
        for i in range(1, len(bounds) - 2):
            lo, hi = bounds[i], bounds[i + 1]
            closed_starts.append(ts[lo])
            closed_ends.append(ts[hi - 1])
            closed_counts.append(hi - lo)
            closed_sums.append(float(tl[lo:hi].sum()))
        # last segment stays open in state; same monotone guard as the
        # no-split branch — a late batch (all rows older than the previous
        # last_us) with an internal gap must not move the gap reference
        # point backwards, or a later on-time batch could double-open
        lo = bounds[-2]
        new_last = int(ts[-1]) if last_us is None else max(
            int(ts[-1]), int(last_us)
        )
        state.update(
            (int(ts[lo]), new_last, int(len(ts) - lo), float(tl[lo:].sum()))
        )
        yield _close_rows(
            conv_id,
            np.asarray(closed_starts, np.int64),
            np.asarray(closed_ends, np.int64),
            closed_counts,
            closed_sums,
        )

    return fn


def sessionize_stream(bronze_stream, gap_hours: float = 6.0):
    """bronze turn stream -> closed-session stream (append mode).

    Preliminary rows are dropped up front (final-over-preliminary, as in
    the batch reshuffle's dedup): a prelim duplicate of an already-seen
    turn would otherwise inflate n_turns/text_len_sum with sentinel
    PRELIM text.

    Ordering: gap detection sorts within the batch, and the state guard
    below never moves last_us backward, so a late batch can extend but
    never corrupt an open session. A late turn counts toward the session
    open when it arrives; an emitted session is never revised. The tiers
    take late turns through the silver upsert and re-roll
    (streaming/ingest.py), not through this operator."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    import pyspark.sql.functions as F

    if "is_prelim" in bronze_stream.columns:
        bronze_stream = bronze_stream.where(
            ~F.coalesce(F.col("is_prelim"), F.lit(False))
        )
    return bronze_stream.groupBy("conv_id").applyInPandasWithState(
        make_sessionizer(gap_hours),
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_batch(df, gap_hours: float = 6.0, text_col: str = "text"):
    """BATCH twin of the stateful sessionizer — gap-based session
    assignment as pure SQL windows, the oracle-able form:

        is_new     = (ts - lag(ts) over (partition by conv order by ts))
                     > gap
        session_id = sum(is_new) over (partition by conv order by ts)
        sessions   = group by (conv, session_id):
                     min(ts), max(ts), count(*), sum(length(text))

    Semantics equal the streaming path's (tests/test_sessionize.py
    asserts stateful == batch on the same input) with one structural
    difference: batch sees the whole input, so it also emits each conv's
    final, still-open session — the streaming operator keeps that one in
    state until a later turn closes it.

    Scale shape: one shuffle on conv_id shared by the two windows and
    the aggregation (same partitioning, Catalyst reuses the exchange);
    the running sum's default RANGE frame makes tied timestamps land in
    the same session deterministically. Reference parity: sessions are
    the transcript-domain analogue of the reference's per-gpi time-series
    segmentation contract (reference era5/reshuffle.py:254-308 resume
    bookkeeping); the gap rule itself is engine-native."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    gap_us = int(gap_hours * 3600 * 1_000_000)
    w = Window.partitionBy("conv_id").orderBy("ts")
    # cast handles TIMESTAMP_NTZ inputs (session tz is UTC, session.py:63,
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


def run_sessionize_available_now(
    spark,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap_hours: float = 6.0,
) -> None:
    """One availableNow pass of the sessionizer; rerunning after new files
    land resumes per-conv state from the checkpoint (update_ts contract)."""
    from .ingest import stream_bronze

    q = (
        sessionize_stream(stream_bronze(spark, input_dir), gap_hours)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
