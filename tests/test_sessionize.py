"""Gap-based conversation sessionization (operators/sessions.py): a
session closes when the next turn comes more than the gap after the
previous one. Over the silver, a re-delivered final counts once and a
late turn joins the session its ts belongs to."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ecmwf_models_spark.operators.reshuffle import reshuffle
from ecmwf_models_spark.operators.sessions import sessionize_batch


def _bronze_rows(spark, rows):
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    return df.withColumn("is_prelim", F.lit(False)).withColumn(
        "ingest_ts", F.col("ts")
    )


def T(s):
    return dt.datetime.fromisoformat(s)


def _sessions(df):
    return sorted(
        (r["conv_id"], r["session_start"], r["session_end"], r["n_turns"],
         r["text_len_sum"])
        for r in sessionize_batch(df, gap_hours=6).collect()
    )


def test_sessionize_multi_session_single_batch(spark):
    rows = [
        ("C", i, "user", "x" * (i + 1), None,
         T("2010-01-01 00:00:00") + dt.timedelta(hours=10 * i))
        for i in range(5)
    ]  # every consecutive pair gapped by 10h > 6h -> 5 sessions
    s = _sessions(_bronze_rows(spark, rows))
    assert len(s) == 5
    assert [r[3] for r in s] == [1, 1, 1, 1, 1]
    assert [r[4] for r in s] == [1.0, 2.0, 3.0, 4.0, 5.0]
    assert all(r[1] == r[2] for r in s)


def test_sessionize_silver_counts_redelivery_once_and_late_in_place(spark):
    """A re-delivered final of turn 1 and a late turn 3 (ts between turns
    1 and 2, ingested last): over the silver, A's first session holds
    turns 0, 1 (revised text) and 3, and its second only turn 2."""
    first = _bronze_rows(spark, [
        ("A", 0, "user", "aaaa", None, T("2010-01-01 00:00:00")),
        ("A", 1, "assistant", "bbbbbb", None, T("2010-01-01 00:30:00")),
        ("A", 2, "user", "cc", None, T("2010-01-02 10:00:00")),
        ("B", 0, "user", "dddd", None, T("2010-01-01 05:00:00")),
    ])
    later = _bronze_rows(spark, [
        ("A", 1, "assistant", "REVISED", None, T("2010-01-01 00:30:00")),
        ("A", 3, "user", "late", None, T("2010-01-01 02:00:00")),
    ]).withColumn("ingest_ts", F.lit(T("2010-01-03 00:00:00")))
    silver = reshuffle(first.unionByName(later), n_cells=4)
    assert _sessions(silver) == [
        ("A", T("2010-01-01 00:00:00"), T("2010-01-01 02:00:00"), 3, 15.0),
        ("A", T("2010-01-02 10:00:00"), T("2010-01-02 10:00:00"), 1, 2.0),
        ("B", T("2010-01-01 05:00:00"), T("2010-01-01 05:00:00"), 1, 4.0),
    ]
