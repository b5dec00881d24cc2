"""Temporal bucketing to the regular sub-daily grid.

The reference's temporal resolution is a *generated* regular grid — exactly
h_steps hours per day, default (0, 6, 12, 18) (tstamps_for_daterange,
reference interface.py:361-386,647-672; default interface.py:268). Two
operators fall out:

  * with_ts_bucket  — assign each observed row to its grid bucket
                      (floor to the step; pure integer epoch arithmetic,
                      whole-stage-codegen'd, no UDF).
  * filter_h_steps  — keep only rows already on configured hours
                      (selection, not averaging — the reference never
                      averages over time).

The generated-not-observed timestamp set is built per conv by
operators/gapfill.py gap_fill, not as one global timeline.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

STEP_HOURS = 6


def bucket_col(ts: Column | str, hours: int = STEP_HOURS) -> Column:
    c = F.col(ts) if isinstance(ts, str) else ts
    secs = hours * 3600
    return F.timestamp_seconds(
        F.floor(F.unix_timestamp(c) / secs).cast("long") * secs
    )


def with_ts_bucket(
    df: DataFrame, ts_col: str = "ts", hours: int = STEP_HOURS,
    out: str = "ts_bucket",
) -> DataFrame:
    return df.withColumn(out, bucket_col(ts_col, hours))


def filter_h_steps(
    df: DataFrame,
    h_steps: Sequence[int] = (0, 6, 12, 18),
    ts_col: str = "ts",
) -> DataFrame:
    """Keep rows whose hour is exactly in h_steps (and minute/second zero),
    mirroring the reference's sub-daily selection grid."""
    c = F.col(ts_col)
    return df.where(
        F.hour(c).isin(list(h_steps))
        & (F.minute(c) == 0)
        & (F.second(c) == 0)
    )

