"""Gap-fill + rollup tiers vs an independent pandas oracle.

Models the reference goldens: exact point values at fixed keys
(test_era5_reshuffle.py:135-140, rtol=1e-5 on float32) and the exactness
of re-aggregation (monthly-from-daily == monthly-from-raw)."""

import datetime as dt
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ecmwf_models_spark.operators.dedup import latest_final_wins
from ecmwf_models_spark.operators.gapfill import gap_fill
from ecmwf_models_spark.operators.reshuffle import derive_metrics, reshuffle
from ecmwf_models_spark.operators.rollup import (
    finalize,
    rollup_cascade,
    rollup_from_raw,
    rollup_tiers,
)


@pytest.fixture(scope="module")
def silver(bronze):
    df = reshuffle(bronze, n_cells=16, num_partitions=8)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def oracle_pdf(bronze):
    pdf = latest_final_wins(bronze).toPandas()
    pdf["text_len"] = pdf["text"].str.len().astype("float32")
    pdf["tool_call"] = pdf["tool"].notna().astype("float32")
    return pdf


def test_gapfill_dense_grid(spark, silver, oracle_pdf):
    filled = gap_fill(silver).toPandas()
    # dense: every conv has a contiguous 6-hourly grid between its ends
    for conv, g in filled.groupby("conv_id"):
        ts = g["ts_bucket"].sort_values()
        steps = ts.diff().dropna().unique()
        assert len(steps) == 1 and steps[0] == pd.Timedelta(hours=6), conv
    # bucket sums match a pandas oracle for a fixed conv
    conv = "conv-000003"
    o = oracle_pdf[oracle_pdf.conv_id == conv].copy()
    o["ts_bucket"] = o["ts"].dt.floor("6h")
    osum = o.groupby("ts_bucket")["text_len"].sum()
    got = (
        filled[filled.conv_id == conv]
        .dropna(subset=["text_len"])
        .set_index("ts_bucket")["text_len"]
        .sort_index()
    )
    np.testing.assert_allclose(got.values, osum.sort_index().values, rtol=1e-5)
    # gaps are NULL metrics with n_turns == 0
    gaps = filled[filled.n_turns == 0]
    assert gaps["text_len"].isna().all()


def test_hourly_rollup_exact_points(silver, oracle_pdf):
    hourly = finalize(rollup_from_raw(silver, "hourly")).toPandas()
    o = oracle_pdf.copy()
    o["bucket_ts"] = o["ts"].dt.floor("h")
    conv = "conv-000001"
    for bucket, g in o[o.conv_id == conv].groupby("bucket_ts"):
        row = hourly[(hourly.conv_id == conv) & (hourly.bucket_ts == bucket)]
        assert len(row) == 1
        np.testing.assert_allclose(
            row["text_len_avg"].iloc[0], g["text_len"].mean(), rtol=1e-5
        )
        assert row["n_turns"].iloc[0] == len(g)
        assert row["text_len_min"].iloc[0] == g["text_len"].min()
        assert row["text_len_max"].iloc[0] == g["text_len"].max()
        g_sorted = g.sort_values("ts")
        np.testing.assert_allclose(
            row["text_len_first"].iloc[0], g_sorted["text_len"].iloc[0], rtol=1e-5
        )
        np.testing.assert_allclose(
            row["text_len_last"].iloc[0], g_sorted["text_len"].iloc[-1], rtol=1e-5
        )


def test_cascade_equals_direct(silver):
    """monthly-from-daily-from-hourly == monthly-from-raw, exactly."""
    tiers = rollup_tiers(silver)
    monthly_cascaded = finalize(tiers["monthly"]).toPandas()
    monthly_direct = finalize(rollup_from_raw(silver, "monthly")).toPandas()

    key = ["conv_id", "bucket_ts"]
    a = monthly_cascaded.sort_values(key).reset_index(drop=True)
    b = monthly_direct.sort_values(key).reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    for c in a.columns:
        if a[c].dtype.kind == "f":
            np.testing.assert_allclose(a[c].values, b[c].values, rtol=1e-6)
        else:
            assert (a[c].values == b[c].values).all(), c


def test_daily_from_hourly_equals_daily_from_raw(silver):
    hourly = rollup_from_raw(silver, "hourly")
    via = finalize(rollup_cascade(hourly, "daily")).toPandas()
    direct = finalize(rollup_from_raw(silver, "daily")).toPandas()
    key = ["conv_id", "bucket_ts"]
    a = via.sort_values(key).reset_index(drop=True)
    b = direct.sort_values(key).reset_index(drop=True)
    for c in a.columns:
        if a[c].dtype.kind == "f":
            np.testing.assert_allclose(a[c].values, b[c].values, rtol=1e-6)
        else:
            assert (a[c].values == b[c].values).all(), c


def test_float32_edge_contract(silver):
    out = finalize(rollup_from_raw(silver, "daily"))
    dt = dict(out.dtypes)
    for c in ("text_len_avg", "text_len_min", "text_len_max",
              "text_len_first", "text_len_last"):
        assert dt[c] == "float", c
    # finalize converts micro sums back to value units
    assert dt["text_len_sum"] == "double"
    assert dt["text_len_cnt"] == "bigint"
    # carried state stays exact AND order-independent: int64 micro-unit
    # sums (associative addition -> bit-stable at any partitioning, and
    # Spark's primitive HashAggregate fast path), counts long
    raw = dict(rollup_from_raw(silver, "daily").dtypes)
    assert raw["text_len_sum"] == "bigint"
    assert raw["text_len_cnt"] == "bigint"


def test_finalize_column_order(silver):
    """finalize keeps each carried column in its place and appends the
    means, in METRICS order: the column order of every tier file."""
    state = [
        f"{c}_{s}"
        for c in ("text_len", "tool_call")
        for s in ("sum", "cnt", "min", "max", "first", "last")
    ]
    for raw in (
        rollup_from_raw(silver, "hourly"),
        rollup_cascade(rollup_from_raw(silver, "hourly"), "daily"),
    ):
        assert finalize(raw).columns == [
            "conv_id", "bucket_ts", "n_turns", *state,
            "text_len_avg", "tool_call_avg",
        ]


def test_monthly_tier_bit_stable_across_parallelism(spark, bronze):
    """The round-1 driver failure mode: double sums flipped rounding
    boundaries between partitionings. int64 micro sums are associative,
    so the monthly tier must be BIT-identical at any parallelism/layout."""
    outs = []
    for parts in (3, 17):
        silver = reshuffle(bronze, n_cells=16, num_partitions=parts)
        monthly = finalize(
            rollup_cascade(
                rollup_cascade(rollup_from_raw(silver, "hourly"), "daily"),
                "monthly",
            )
        )
        pdf = monthly.toPandas().sort_values(
            ["conv_id", "bucket_ts"]
        ).reset_index(drop=True)
        outs.append(pdf)
    a, b = outs
    assert list(a.columns) == list(b.columns)
    for c in a.columns:
        if a[c].dtype.kind == "f":
            # bit-identical, not just close
            import numpy as np

            np.testing.assert_array_equal(
                a[c].values.view("uint8" if a[c].dtype.itemsize == 1 else "uint%d" % (a[c].dtype.itemsize * 8)),
                b[c].values.view("uint8" if b[c].dtype.itemsize == 1 else "uint%d" % (b[c].dtype.itemsize * 8)),
            )
        else:
            assert (a[c].values == b[c].values).all(), c


def test_nan_metric_excluded_from_sum_and_count(spark):
    """A NaN metric row must contribute to neither sum nor cnt (Spark's
    long cast would silently turn NaN into +0 while F.count still counted
    the row, deflating averages). NULL behaves the same; real values
    aggregate normally."""
    import math

    from ecmwf_models_spark.operators.rollup import finalize, rollup_from_raw

    rows = [
        ("c1", dt.datetime(2024, 1, 1, 0, 5), 2.0, 1.0),
        ("c1", dt.datetime(2024, 1, 1, 0, 15), float("nan"), 0.0),
        ("c1", dt.datetime(2024, 1, 1, 0, 25), None, 1.0),
        ("c1", dt.datetime(2024, 1, 1, 0, 35), 4.0, 0.0),
    ]
    silver = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, text_len double, tool_call double"
    )
    out = finalize(rollup_from_raw(silver, "hourly")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_turns"] == 4
    assert r["text_len_cnt"] == 2
    assert r["text_len_sum"] == 6.0
    assert math.isclose(r["text_len_avg"], 3.0, rel_tol=1e-6)


def test_nan_metric_excluded_from_all_carried_stats(spark):
    """Spark sorts NaN GREATER than any double, so an unguarded max (or a
    min_by/max_by whose boundary-ts row is the NaN one) would surface
    NaN even while sum/cnt exclude it. All six carried statistics must
    treat a NaN row as absent: here the NaN row holds both the max value
    slot (by NaN ordering) and the last-ts slot."""
    import math

    from ecmwf_models_spark.operators.rollup import finalize, rollup_from_raw

    rows = [
        # NULL on the bucket's FIRST timestamp: must not become first
        ("c1", dt.datetime(2024, 1, 1, 0, 1), None, 1.0),
        ("c1", dt.datetime(2024, 1, 1, 0, 5), 2.0, 1.0),
        ("c1", dt.datetime(2024, 1, 1, 0, 35), 4.0, 0.0),
        # NaN on the bucket's LAST timestamp: poisons max and max_by
        # without the shared guard
        ("c1", dt.datetime(2024, 1, 1, 0, 55), float("nan"), 0.0),
    ]
    silver = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, text_len double, tool_call double"
    )
    r = finalize(rollup_from_raw(silver, "hourly")).collect()[0]
    assert r["n_turns"] == 4
    assert r["text_len_min"] == 2.0
    assert r["text_len_max"] == 4.0 and not math.isnan(r["text_len_max"])
    assert r["text_len_first"] == 2.0
    assert r["text_len_last"] == 4.0 and not math.isnan(r["text_len_last"])
    assert r["text_len_cnt"] == 2 and r["text_len_sum"] == 6.0


def test_to_micro_rounds_half_up_at_boundaries(spark):
    """Sums carry floor(x*1e6 + 0.5): halves round UP, also negative
    ones (-0.5 micro -> 0, not -1), the same int64 the DuckDB oracle
    computes."""
    vals = [0.0000005, -0.0000005, 1.9999995, 123.4567894999]
    rows = [
        ("c", dt.datetime(2024, 3, 1, 0, i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, m double")
    r = rollup_from_raw(df, "hourly", value_cols=("m",)).collect()[0]
    # 1 + 0 + 2_000_000 + 123_456_789
    assert r["m_sum"] == 125_456_790
    assert r["m_cnt"] == 4


def test_all_nan_hour_invisible_to_cascade_first_last(spark):
    """An ALL-NaN lowest-tier bucket carries NULL first/last after the
    tier-0 guard, but its bucket_ts is never NULL — so an unguarded
    cascade min_by/max_by ordered on bucket_ts alone would pick that
    NULL over a sibling hour's real value. Here the all-NaN hour sits on
    BOTH day boundaries (hour 0 and hour 23) so it would win both the
    daily first pick and the daily last pick without the cascade guard."""
    import math

    from ecmwf_models_spark.operators.rollup import (
        finalize,
        rollup_cascade,
        rollup_from_raw,
    )

    rows = [
        # hour 0: every metric row NaN -> first/last NULL at tier 0
        ("c1", dt.datetime(2024, 1, 1, 0, 5), float("nan"), 0.0),
        ("c1", dt.datetime(2024, 1, 1, 0, 55), float("nan"), 0.0),
        # hour 12: real values
        ("c1", dt.datetime(2024, 1, 1, 12, 5), 2.0, 1.0),
        ("c1", dt.datetime(2024, 1, 1, 12, 35), 4.0, 0.0),
        # hour 23: all NaN again -> poisons the daily LAST pick too
        ("c1", dt.datetime(2024, 1, 1, 23, 50), float("nan"), 1.0),
    ]
    silver = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, text_len double, tool_call double"
    )
    hourly = rollup_from_raw(silver, "hourly")
    daily = finalize(rollup_cascade(hourly, "daily")).collect()
    assert len(daily) == 1
    r = daily[0]
    assert r["n_turns"] == 5
    assert r["text_len_cnt"] == 2 and r["text_len_sum"] == 6.0
    assert r["text_len_first"] == 2.0 and not math.isnan(r["text_len_first"])
    assert r["text_len_last"] == 4.0 and not math.isnan(r["text_len_last"])
    # monthly-from-daily must stay clean as well
    monthly = finalize(rollup_cascade(rollup_cascade(hourly, "daily"), "monthly")).collect()[0]
    assert monthly["text_len_first"] == 2.0 and monthly["text_len_last"] == 4.0
