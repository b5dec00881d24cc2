"""stream_rollup (sorted-run sequential rollup) vs the hash cascade.

The contract is BIT-IDENTITY: stream_rollup's state rows must equal
rollup_from_raw's for every tier, on the same silver input, including
NaN-bearing rows and all-NaN buckets (the reference's masked fill-value
contract, tests/tests_era5/test_era5_reshuffle.py:75-77 golden points).
The physical plan is what differs: no wide shuffle, one sequential
mapInPandas pass plus a ~2-rows-per-split partial merge.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ecmwf_models_spark.operators.reshuffle import reshuffle, write_silver
from ecmwf_models_spark.operators.rollup import TIERS, rollup_from_raw
from ecmwf_models_spark.operators.rollup_stream import (
    merge_stream_states,
    stream_rollup,
    stream_rollup_states,
)


@pytest.fixture(scope="module")
def silver(bronze):
    df = reshuffle(bronze, n_cells=16, num_partitions=8)
    df.cache().count()
    return df


def _collect_sorted(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return (
        pdf[cols]
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )


def _assert_identical(stream_df, hash_df):
    got = _collect_sorted(stream_df)
    want = _collect_sorted(hash_df)
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" or str(g.dtype) == "Float64":
            ga = g.astype("float64").to_numpy()
            wa = w.astype("float64").to_numpy()
            # bit-identity modulo NULL representation
            assert np.array_equal(ga, wa, equal_nan=True), c
        else:
            assert g.equals(w) or (g.to_numpy() == w.to_numpy()).all(), c


@pytest.mark.parametrize("tier", TIERS)
def test_stream_rollup_bit_identical_to_hash(silver, tier):
    _assert_identical(
        stream_rollup(silver, tier), rollup_from_raw(silver, tier, order_cols=("ts", "turn_idx"))
    )


def test_stream_rollup_many_splits_and_tiny_batches(spark, bronze, tmp_path):
    """Cross-split partial merge + cross-Arrow-batch carry.

    Writing silver then reading it back with a tiny maxPartitionBytes
    slices files into many input splits, and a tiny Arrow batch size
    forces the carry/open-run path on nearly every batch boundary."""
    out = str(tmp_path / "silver")
    write_silver(reshuffle(bronze, n_cells=16, num_partitions=8), out)
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    split_key = "spark.sql.files.maxPartitionBytes"
    old_batch, old_split = spark.conf.get(batch_key), spark.conf.get(split_key)
    try:
        spark.conf.set(batch_key, "64")
        spark.conf.set(split_key, str(64 * 1024))
        silver = spark.read.parquet(out)
        assert silver.rdd.getNumPartitions() > 4  # the point of the test
        tagged = stream_rollup_states(silver, "hourly")
        n_partial = tagged.filter(F.col("_partial")).count()
        assert n_partial > 0  # boundary runs actually exercised
        _assert_identical(
            merge_stream_states(tagged),
            rollup_from_raw(silver, "hourly", order_cols=("ts", "turn_idx")),
        )
    finally:
        spark.conf.set(batch_key, old_batch)
        spark.conf.set(split_key, old_split)


def test_stream_rollup_nan_and_null_buckets(spark):
    """NaN and NULL rows are invisible to every statistic; an all-NaN
    bucket carries NULL min/max/first/last and zero cnt — exactly the
    hash cascade's NaN guard (rollup.py _nan_to_null)."""
    rows = []
    base = pd.Timestamp("2024-03-01 00:00:00")
    # conv a: mixed NaN; conv b: an all-NaN hour then a real hour
    for i, v in enumerate([1.5, np.nan, 2.5, None]):
        rows.append(("a", i, base + pd.Timedelta(minutes=10 * i), v))
    rows.append(("b", 0, base, np.nan))
    rows.append(("b", 1, base + pd.Timedelta(minutes=1), np.nan))
    rows.append(("b", 2, base + pd.Timedelta(hours=1), 7.0))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "m"])
    df = spark.createDataFrame(pdf).repartition(1).sortWithinPartitions(
        "conv_id", "ts", "turn_idx"
    )
    got = _collect_sorted(stream_rollup(df, "hourly", value_cols=("m",)))
    want = _collect_sorted(rollup_from_raw(df, "hourly", value_cols=("m",), order_cols=("ts", "turn_idx")))
    for c in got.columns:
        ga = got[c].to_numpy()
        wa = want[c].to_numpy()
        if got[c].dtype.kind == "f" or str(got[c].dtype) == "Float64":
            ga = got[c].astype("float64").to_numpy()
            wa = want[c].astype("float64").to_numpy()
            assert np.array_equal(ga, wa, equal_nan=True), c
        else:
            assert (ga == wa).all(), c
    # the all-NaN hour of conv b: present with cnt 0 and NULL stats
    b0 = got[(got.conv_id == "b")].sort_values("bucket_ts").iloc[0]
    assert b0["m_cnt"] == 0 and b0["n_turns"] == 2
    assert pd.isna(b0["m_min"]) and pd.isna(b0["m_first"])


def test_stream_rollup_rejects_non_contiguous(spark):
    """A conv reappearing after closing must raise, not silently emit a
    wrong aggregate (the salted-silver / unsorted-input guard)."""
    pdf = pd.DataFrame(
        {
            "conv_id": ["a", "b", "a"],
            "turn_idx": [0, 0, 1],
            "ts": pd.to_datetime(
                ["2024-03-01", "2024-03-01", "2024-03-02"]
            ),
            "m": [1.0, 2.0, 3.0],
        }
    )
    df = spark.createDataFrame(pdf).coalesce(1)
    with pytest.raises(Exception, match="not contiguous"):
        stream_rollup(df, "daily", value_cols=("m",)).collect()


def test_stream_rollup_rejects_unsorted_across_batches(spark):
    """Each Arrow batch sorted, but the open conv steps back into an
    earlier hour across the batch boundary: without the carried tail key
    hour 09 would be emitted twice, both runs FINAL."""
    hours = ["08:10", "09:10", "10:10", "09:20", "09:40", "11:00"]
    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * len(hours),
            "turn_idx": range(len(hours)),
            "ts": pd.to_datetime([f"2024-03-01 {h}" for h in hours]),
            "m": np.arange(len(hours), dtype="float64"),
        }
    )
    df = spark.createDataFrame(pdf).coalesce(1)
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch = spark.conf.get(batch_key)
    try:
        spark.conf.set(batch_key, "3")
        with pytest.raises(Exception, match="not contiguous"):
            stream_rollup(df, "hourly", value_cols=("m",)).collect()
        # the same rows sorted pass the guard, across the same boundary
        ok = df.orderBy("ts", "turn_idx").coalesce(1)
        got = stream_rollup(ok, "hourly", value_cols=("m",)).collect()
        assert sorted(r["n_turns"] for r in got) == [1, 1, 1, 3]
    finally:
        spark.conf.set(batch_key, old_batch)


def test_stream_rollup_fixed_point_rounding(spark):
    """floor(x*1e6 + 0.5) half-up rounding matches to_micro exactly on
    boundary values (incl. negative halves)."""
    vals = [0.0000005, -0.0000005, 1.9999995, 123.4567894999]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(vals),
            "turn_idx": range(len(vals)),
            "ts": pd.to_datetime("2024-03-01")
            + pd.to_timedelta(range(len(vals)), unit="m"),
            "m": vals,
        }
    )
    df = spark.createDataFrame(pdf).coalesce(1).sortWithinPartitions("ts")
    got = stream_rollup(df, "hourly", value_cols=("m",)).collect()[0]
    want = rollup_from_raw(df, "hourly", value_cols=("m",), order_cols=("ts", "turn_idx")).collect()[0]
    assert got["m_sum"] == want["m_sum"]
