"""Masking / projection / scalar-function operators (SURVEY 2.2, 2.8)."""

import pytest
from pyspark.sql import functions as F

from ecmwf_models_spark.functions import scalar as S
from ecmwf_models_spark.grid import grid_resolution_check, regular_grid, trafo_lon
from ecmwf_models_spark.operators import masking as M
from ecmwf_models_spark.synth import gen_conv_dim


def test_mask_by_flag(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 1), (2, 20.0, 0), (3, 30.0, 1)], ["id", "v", "lsm"]
    )
    out = M.mask_by_flag(df, ["v"], "lsm").collect()
    vals = {r["id"]: r["v"] for r in out}
    assert vals[1] == 10.0 and vals[2] is None and vals[3] == 30.0
    assert "lsm" not in M.mask_by_flag(df, ["v"], "lsm").columns
    assert "lsm" in M.mask_by_flag(df, ["v"], "lsm", keep_flag=True).columns


def test_mask_roles(spark, bronze):
    from ecmwf_models_spark.operators.reshuffle import derive_metrics

    df = derive_metrics(bronze)
    out = M.mask_roles(df, ["text_len"], ["assistant"])
    assert out.where(
        (F.col("role") != "assistant") & F.col("text_len").isNotNull()
    ).count() == 0
    assert out.where(
        (F.col("role") == "assistant") & F.col("text_len").isNull()
    ).count() == 0


def test_subgrid_gather(spark, bronze):
    dim = gen_conv_dim(spark, 50).where("is_active")
    out = M.subgrid_gather(bronze, dim)
    kept = set(r[0] for r in out.select("conv_id").distinct().collect())
    active = set(r[0] for r in dim.select("conv_id").collect())
    assert kept <= active
    assert out.count() < bronze.count()


def test_derive_entity_mask(spark):
    """A3/P5 landmask derivation: threshold on the per-key mean, excluded
    zone -> NULL (make_era5_land_definition_file semantics)."""
    df = spark.createDataFrame(
        [(1, 0.9), (1, 0.7), (2, 0.1), (2, 0.2), (90, 0.9), (91, 0.0)],
        ["key", "lsm"],
    )
    mask = M.derive_entity_mask(
        df, "key", "lsm", threshold=0.5, exclude_zone=F.col("key") >= 90
    )
    got = {r["key"]: r["land"] for r in mask.collect()}
    assert got[1] == 1.0          # mean 0.8 >= 0.5 -> land
    assert got[2] == 0.0          # mean 0.15 < 0.5 -> sea
    assert got[90] is None and got[91] is None  # Antarctica band -> NULL
    # the active subgrid keeps only land==1 keys
    active = {r["key"] for r in M.active_keys(mask, "key").collect()}
    assert active == {1}


def test_coalesce_versions(spark):
    df = spark.createDataFrame(
        [(1, 5.0, 3.0), (2, None, 7.0), (3, None, None)],
        ["id", "v_final", "v_prelim"],
    )
    out = {r["id"]: r["v"] for r in
           M.coalesce_versions(df, "v_final", "v_prelim", "v").collect()}
    assert out[1] == 5.0 and out[2] == 7.0 and out[3] is None


def test_ensure_columns_warns(spark):
    df = spark.createDataFrame([(1,)], ["id"])
    with pytest.warns(UserWarning, match="missing"):
        out = M.ensure_columns(df, {"v": "float", "id": "bigint"})
    assert dict(out.dtypes)["v"] == "float"
    assert out.first()["v"] is None


def test_trafo_lon(spark):
    df = spark.createDataFrame([(0.0,), (180.0,), (180.25,), (359.75,)], ["lon"])
    out = [r[0] for r in df.select(trafo_lon(F.col("lon"))).collect()]
    assert out == [0.0, 180.0, -179.75, -0.25]


def test_regular_grid_and_resolution(spark):
    g = regular_grid(spark, resolution=1.0, bbox=(-10, -5, 10, 5))
    pdf = g.toPandas()
    assert len(pdf) == 21 * 11
    # global gpi numbering preserved under bbox cut (reference grid.py:182-191)
    full = regular_grid(spark, resolution=1.0)
    sub = full.where(
        (F.col("lon").between(-10, 10)) & (F.col("lat").between(-5, 5))
    ).toPandas()
    assert set(pdf["gpi"]) == set(sub["gpi"])
    assert grid_resolution_check(g, "lon") == 1.0


def test_grid_resolution_irregular_raises(spark):
    bad = spark.createDataFrame([(0.0,), (1.0,), (3.0,)], ["lon"])
    with pytest.raises(ValueError, match="Grid not regular"):
        grid_resolution_check(bad, "lon")


def test_safe_sequence(spark):
    row = spark.range(1).select(
        S.safe_sequence(0.0, 1.0, 0.25).alias("a")
    ).first()
    assert row["a"] == [0.0, 0.25, 0.5, 0.75]


def test_fname_parse_roundtrip(spark):
    df = spark.range(1).select(
        F.lit("ERA5_AN_20100101_0600.nc").alias("fname"),
        F.to_timestamp(F.lit("2010-01-01 06:00:00")).alias("ts"),
    )
    row = df.select(
        S.parse_fname(F.col("fname")).alias("p"),
        S.fname_ts(F.col("ts")).alias("f"),
        S.doy_dir(F.col("ts")).alias("d"),
    ).first()
    assert row["p"]["product"] == "ERA5"
    assert row["p"]["kind"] == "AN"
    assert row["p"]["ext"] == "nc"
    assert row["p"]["ts"] == row["ts"] if "ts" in row else True
    assert row["f"] == "20100101_0600"
    assert row["d"] == "2010/001"


def test_is_sorted_within(spark):
    """v checked in pos order per k: group a decreases (10 then 5)."""
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 5), ("b", 1, 1), ("b", 2, 2)],
        ["k", "pos", "v"],
    )
    checked = S.is_sorted_within(df, ["k"], ["pos"], "v")
    out = {r["k"]: r["sorted"] for r in checked.collect()}
    assert out["a"] is False and out["b"] is True


def test_nearest_join_matches_bruteforce(spark):
    """J1 inexact keys: bucketed band join + argmin == brute-force nearest
    (ties -> lower gpi), and the grid side broadcasts."""
    import contextlib
    import io
    import math

    from ecmwf_models_spark.grid import nearest_join

    nodes = [(j, j * 10 + 3 * math.sin(j)) for j in range(30)]
    dim = spark.createDataFrame(nodes, "gpi int, coord double")
    # -80 and 500 sit many bucket-widths beyond the grid extent: the
    # clamp must still join them to the end nodes (kd-tree contract),
    # not silently drop them
    vals = [(i, float(v)) for i, v in enumerate(
        [0.0, 4.9, 5.1, 142.7, 289.0, 13.0, 296.5, 250.0, -80.0, 500.0]
    )]
    df = spark.createDataFrame(vals, "row_id int, value double")

    out = {
        r["row_id"]: (r["nearest_gpi"], r["dist"])
        for r in nearest_join(
            df, dim, value_col="value", key_cols=["row_id"]
        ).collect()
    }
    for rid, v in vals:
        best = min(nodes, key=lambda n: (abs(n[1] - v), n[0]))
        assert out[rid][0] == best[0], (rid, v, out[rid], best)
        assert abs(out[rid][1] - abs(best[1] - v)) < 1e-12

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        nearest_join(df, dim, value_col="value", key_cols=["row_id"]).explain(
            "simple"
        )
    assert "BroadcastHashJoin" in buf.getvalue()
