"""End-to-end slice: bronze -> dedup -> reshuffle -> silver -> point read.

Models the reference's golden reshuffle round-trip
(tests/tests_era5/test_era5_reshuffle.py:108-146): run the pipeline on a
small fixture, assert exact point values, sortedness, and prelim exclusion.
"""

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from ecmwf_models_spark.operators.dedup import drop_prelim, latest_final_wins
from ecmwf_models_spark.operators.pointread import TsReader, cell_id_for
from ecmwf_models_spark.operators.reshuffle import reshuffle, write_silver


def test_dedup_drops_sentinel(bronze):
    out = latest_final_wins(bronze)
    assert out.where(F.col("text") == "PRELIM-99").count() == 0
    # exactly one row per (conv_id, turn_idx)
    assert (
        out.groupBy("conv_id", "turn_idx").count().where("count > 1").count()
        == 0
    )
    # and dedup never invents or loses keys
    assert (
        out.select("conv_id", "turn_idx").distinct().count()
        == bronze.select("conv_id", "turn_idx").distinct().count()
    )
    # P7 ingest-time policy: every turn has a final row, so dropping the
    # preliminary rows leaves one row per turn and no sentinel
    finals = drop_prelim(bronze)
    assert finals.where("is_prelim OR text = 'PRELIM-99'").count() == 0
    assert finals.count() == out.count()


def test_latest_final_wins_ranks_as_reshuffle(spark):
    """The window dedup keeps the row the reshuffle keeps: a NULL
    ingest_ts ranks by its ts, and a NULL is_prelim counts as final."""
    t0, t1 = dt.datetime(2024, 1, 1, 0), dt.datetime(2024, 1, 1, 6)
    df = spark.createDataFrame(
        [
            # a final ingested at t0 against a final at t1 with no ingest_ts
            ("c1", 0, "user", "ingested-t0", None, t0, False, t0),
            ("c1", 0, "user", "null-ingest-t1", None, t1, False, None),
            # a NULL-prelim row against a final ingested later
            ("c2", 0, "user", "null-prelim", None, t0, None, t0),
            ("c2", 0, "user", "final-later", None, t0, False, t1),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string,"
        " ts timestamp, is_prelim boolean, ingest_ts timestamp",
    )

    def survivors(frame):
        return {tuple(r) for r in frame.select("conv_id", "text").collect()}

    kept = survivors(latest_final_wins(df))
    assert kept == survivors(reshuffle(df, n_cells=4))
    assert kept == {("c1", "null-ingest-t1"), ("c2", "final-later")}


def test_drop_prelim_keeps_null_prelim_as_final(spark):
    """drop_prelim drops only rows flagged preliminary: a turn whose
    is_prelim is NULL is a final, as latest_final_wins keeps it."""
    t0 = dt.datetime(2024, 1, 1, 0)
    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "null-prelim", None, t0, None, t0),
            ("c1", 1, "user", "final", None, t0, False, t0),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string,"
        " ts timestamp, is_prelim boolean, ingest_ts timestamp",
    )

    def turns(frame):
        return sorted(r["turn_idx"] for r in frame.collect())

    assert turns(drop_prelim(df)) == turns(latest_final_wins(df)) == [0, 1]


def test_reshuffle_roundtrip(tmp_path, spark, bronze):
    path = str(tmp_path / "silver")
    silver = reshuffle(bronze, n_cells=16, num_partitions=8)
    write_silver(silver, path)

    back = spark.read.parquet(path)
    base = latest_final_wins(bronze)
    assert back.count() == base.count()

    # prelim sentinel must not leak (test_era5_reshuffle.py:61-74 analogue)
    assert back.where(F.col("text") == "PRELIM-99").count() == 0

    # per-turn text equality under stable (conv_id, turn_idx) ordering —
    # the north-star anti-join diff: ours vs reference-semantics input.
    ours = back.select("conv_id", "turn_idx", "text")
    ref = base.select("conv_id", "turn_idx", "text")
    assert ours.join(ref, ["conv_id", "turn_idx", "text"], "left_anti").count() == 0
    assert ref.join(ours, ["conv_id", "turn_idx", "text"], "left_anti").count() == 0

    # cell routing is consistent: every row's cell matches cell_of(conv_id)
    assert (
        back.where(
            F.col("cell_id")
            != F.pmod(F.xxhash64("conv_id"), F.lit(16)).cast("int")
        ).count()
        == 0
    )


def test_silver_file_order_sorted(tmp_path, spark, bronze):
    """Physical ordering invariant: rows inside each parquet file are
    sorted by (conv_id, ts) — the OrthoMultiTs sortedness regression
    (reference CHANGELOG.rst:9-12; test_era5_reshuffle.py:100-103)."""
    import glob

    path = str(tmp_path / "silver2")
    write_silver(reshuffle(bronze, n_cells=16, num_partitions=8), path)
    files = glob.glob(path + "/cell_id=*/*.parquet")
    assert files
    for f in files[:20]:
        pdf = pd.read_parquet(f, columns=["conv_id", "ts"])
        key = list(zip(pdf["conv_id"], pdf["ts"]))
        assert key == sorted(key), f"unsorted rows in {f}"


def test_point_read(tmp_path, spark, bronze):
    path = str(tmp_path / "silver3")
    write_silver(reshuffle(bronze, n_cells=16, num_partitions=8), path)

    r = TsReader(spark, path, n_cells=16, read_bulk=True)
    pdf = r.read("conv-000007")
    assert len(pdf) == 12  # turns_per_conv for a non-hot conv
    assert list(pdf["turn_idx"]) == sorted(pdf["turn_idx"])
    assert pdf.index.is_monotonic_increasing
    # exact golden point values (the swvl1@(15,48) analogue):
    assert pdf["text_len"].notna().all()
    assert (pdf["tool_call"].iloc[2::3] == 1.0).all()

    # affine rescale at read (interface.py:694-714)
    r2 = TsReader(
        spark, path, n_cells=16,
        parameters=["text_len"], scale_factors={"text_len": 2.0},
        offsets={"text_len": 1.0},
    )
    pdf2 = r2.read("conv-000007")
    assert (pdf2["text_len"].values == pdf["text_len"].values * 2 + 1).all()
    r.close()


def test_cell_routing_matches_write(spark, tmp_path, bronze):
    """Driver-side routing == the write path's cell_of, for every bronze
    conv, non-ASCII keys and keys of 0-100 bytes (crossing XXH64's 32-,
    8-, 4- and 1-byte stages), at several cell counts."""
    from ecmwf_models_spark.grid import cell_of

    keys = [r[0] for r in bronze.select("conv_id").distinct().collect()]
    keys += ["", "é", "日本語"] + ["k" * n for n in range(101)]
    keys += ["é" * n for n in range(1, 51)]
    df = spark.createDataFrame([(k,) for k in keys], "conv_id string")
    for n_cells in (1, 16, 64):
        written = dict(
            df.select("conv_id", cell_of("conv_id", n_cells)).collect()
        )
        routed = {k: cell_id_for(spark, k, n_cells) for k in keys}
        assert routed == written, n_cells
        assert all(0 <= c < n_cells for c in routed.values())
