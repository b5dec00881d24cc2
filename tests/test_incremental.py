"""Incremental extend: the update_ts golden test translated
(reference tests/tests_era5/test_era5_reshuffle.py:81-105 — append the
preceding day's 12:00 image; merged series must be in time order and
contain both points)."""

import glob
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ecmwf_models_spark.incremental import extend_silver, stored_end
from ecmwf_models_spark.lineage import cell_generations, read_cells
from ecmwf_models_spark.operators.pointread import TsReader, cell_id_for
from ecmwf_models_spark.operators.reshuffle import reshuffle, write_silver
from ecmwf_models_spark.synth import gen_transcripts


def test_extend_merges_in_time_order(tmp_path, spark):
    # initial load: 2 days
    initial = gen_transcripts(spark, n_conv=40, days=2, turns_per_conv=8)
    path = str(tmp_path / "silver")
    write_silver(reshuffle(initial, n_cells=8, num_partitions=4), path)
    end0 = stored_end(spark, path)

    # extension batch: same convs, LATER turns (days 3-4) + one EARLIER
    # backfill turn (the update_ts case appends a preceding timestamp)
    later = gen_transcripts(
        spark, n_conv=40, days=4, turns_per_conv=16
    ).where(F.col("turn_idx") >= 8)
    backfill = (
        gen_transcripts(spark, n_conv=40, days=2, turns_per_conv=8)
        .where((F.col("conv_id") == "conv-000005") & (F.col("turn_idx") == 0))
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 12 HOURS"))
        .withColumn("turn_idx", F.lit(-1))
    )
    batch = later.unionByName(backfill)

    affected = extend_silver(spark, path, batch, n_cells=8)
    assert affected  # some cells touched

    full = spark.read.parquet(path)
    # upsert: still exactly one row per (conv_id, turn_idx)
    assert (
        full.groupBy("conv_id", "turn_idx").count().where("count>1").count()
        == 0
    )
    # extension actually extended
    assert stored_end(spark, path) > end0

    # merged series in time order incl. the backfilled earlier point
    r = TsReader(spark, path, n_cells=8)
    s = r.read("conv-000005")
    assert s.index.is_monotonic_increasing
    assert (s["turn_idx"] == -1).sum() == 1  # backfill merged in
    assert len(s) == 16 + 1

    # ordering invariant inside rewritten parquet files (CHANGELOG.rst:9-12)
    for f in glob.glob(path + "/cell_id=*/*.parquet")[:10]:
        pdf = pd.read_parquet(f, columns=["conv_id", "ts"])
        key = list(zip(pdf["conv_id"], pdf["ts"]))
        assert key == sorted(key), f


def test_extend_upsert_revises_text(tmp_path, spark):
    """Late revision: a FINAL row arriving for a (conv_id, turn_idx) that
    exists replaces it (ERA5-T -> ERA5 revision, reference I4)."""
    initial = gen_transcripts(spark, n_conv=10, days=2, turns_per_conv=6)
    path = str(tmp_path / "silver_u")
    write_silver(reshuffle(initial, n_cells=8, num_partitions=4), path)

    revision = (
        initial.where(
            (F.col("conv_id") == "conv-000002") & (F.col("turn_idx") == 3)
            & (~F.col("is_prelim"))
        )
        .withColumn("text", F.lit("REVISED"))
        .withColumn("ingest_ts", F.col("ingest_ts") + F.expr("INTERVAL 2 HOURS"))
    )
    extend_silver(spark, path, revision, n_cells=8)

    got = (
        spark.read.parquet(path)
        .where("conv_id='conv-000002' and turn_idx=3")
        .select("text")
        .collect()
    )
    assert len(got) == 1 and got[0][0] == "REVISED"


def test_extend_uses_persisted_run_kwargs(tmp_path, spark):
    """I2 idempotent-settings contract (reference reshuffle.py:280-295):
    extend without kwargs resumes with the reshuffle-time settings from
    <silver>/_settings; an explicit kwarg overrides."""
    from ecmwf_models_spark.lineage import (
        read_run_settings,
        write_run_settings,
    )

    initial = gen_transcripts(spark, n_conv=20, days=2, turns_per_conv=6)
    path = str(tmp_path / "silver_kw")
    write_silver(reshuffle(initial, n_cells=8, num_partitions=4), path)
    write_run_settings(spark, f"{path}/_settings", {"n_cells": 8})

    # settings survive dynamic-partition extends and round-trip
    assert read_run_settings(spark, f"{path}/_settings") == {"n_cells": "8"}

    later = gen_transcripts(
        spark, n_conv=20, days=3, turns_per_conv=9
    ).where(F.col("turn_idx") >= 6)
    # NO n_cells passed: must pick up 8 from settings -> cell ids < 8
    affected = extend_silver(spark, path, later)
    assert affected and max(affected) < 8
    assert read_run_settings(spark, f"{path}/_settings") == {"n_cells": "8"}

    # a second settings write with a newer value wins (latest committed_at)
    write_run_settings(spark, f"{path}/_settings", {"n_cells": 16})
    assert read_run_settings(spark, f"{path}/_settings") == {"n_cells": "16"}


def test_extend_without_settings_refuses_to_guess_grid(tmp_path, spark):
    """extend_silver(n_cells=None) on a silver with no _settings raises
    rather than extending with a default grid, and leaves it unchanged."""
    initial = gen_transcripts(spark, n_conv=20, days=2, turns_per_conv=6)
    path = str(tmp_path / "silver_nokw")
    write_silver(reshuffle(initial, n_cells=8, num_partitions=4), path)
    before = sorted(glob.glob(f"{path}/cell_id=*/*.parquet"))
    later = gen_transcripts(
        spark, n_conv=20, days=3, turns_per_conv=9
    ).where(F.col("turn_idx") >= 6)
    with pytest.raises(ValueError, match="n_cells"):
        extend_silver(spark, path, later)
    assert sorted(glob.glob(f"{path}/cell_id=*/*.parquet")) == before


def test_extend_affected_cells_match_reshuffle(tmp_path, spark):
    """extend_silver routes the batch by conv_id alone; the cells it
    reports are exactly the cells reshuffle(batch) puts rows in, also
    for convs whose turns are all preliminary."""
    initial = gen_transcripts(spark, n_conv=40, days=2, turns_per_conv=6)
    path = str(tmp_path / "silver_aff")
    write_silver(reshuffle(initial, n_cells=64, num_partitions=4), path)

    finals = initial.where(
        ~F.col("is_prelim") & (F.col("conv_id") < "conv-000010")
    )
    prelim_only = initial.where(
        F.col("conv_id") >= "conv-000030"
    ).withColumn("is_prelim", F.lit(True))
    batch = finals.unionByName(prelim_only)

    def cells(df):
        return {r[0] for r in df.select("cell_id").distinct().collect()}

    final_cells = cells(reshuffle(finals, n_cells=64))
    expected = cells(reshuffle(batch, n_cells=64))
    assert expected - final_cells  # the PRELIM-only convs add cells
    assert set(extend_silver(spark, path, batch, n_cells=64)) == expected


def test_extend_batch_duplicates_dedup_as_reshuffle(tmp_path, spark):
    """A batch holding a new turn twice, (is_prelim NULL, ingest 09:00, "A")
    and (final, ingest 10:00, "B"): extend_silver resolves it by
    reshuffle's rule (NULL is_prelim counts as final, so the later ingest
    wins) and the silver equals a reshuffle of all the bronze, "B"."""
    initial = gen_transcripts(spark, n_conv=10, days=2, turns_per_conv=6)
    path = str(tmp_path / "silver_d")
    write_silver(reshuffle(initial, n_cells=8), path)
    turn = initial.where(
        (F.col("conv_id") == "conv-000002") & (F.col("turn_idx") == 5)
        & ~F.col("is_prelim")
    ).withColumns(
        {"turn_idx": F.lit(6), "ts": F.col("ts") + F.expr("INTERVAL 1 HOUR")}
    )
    batch = turn.withColumns(
        {
            "text": F.lit("A"),
            "is_prelim": F.lit(None).cast("boolean"),
            "ingest_ts": F.lit("2010-01-05 09:00:00").cast("timestamp"),
        }
    ).unionByName(
        turn.withColumns(
            {
                "text": F.lit("B"),
                "ingest_ts": F.lit("2010-01-05 10:00:00").cast("timestamp"),
            }
        )
    )
    extend_silver(spark, path, batch, n_cells=8)

    got = spark.read.parquet(path)
    want = reshuffle(initial.unionByName(batch), n_cells=8).select(*got.columns)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    new = got.where("conv_id='conv-000002' and turn_idx=6").select("text")
    assert [r[0] for r in new.collect()] == ["B"]


@pytest.mark.xfail(
    strict=True,
    reason="silver keeps neither is_prelim nor ingest_ts, so extend_silver "
    "ranks a stored turn as final with ingest_ts = ts: a prelim turn "
    "re-delivered as a later prelim keeps the stored text, where a "
    "reshuffle of both deliveries keeps the later one",
)
def test_extend_prelim_redelivery_matches_reshuffle(tmp_path, spark):
    """A turn first delivered preliminary ("A"), then re-delivered in an
    extend as a later preliminary ("B"): the extended silver should hold
    what a reshuffle of both deliveries holds, "B"."""
    initial = gen_transcripts(spark, n_conv=10, days=2, turns_per_conv=6)
    turn = initial.where(
        (F.col("conv_id") == "conv-000002") & (F.col("turn_idx") == 5)
        & ~F.col("is_prelim")
    ).withColumns({"turn_idx": F.lit(6), "is_prelim": F.lit(True)})
    a = turn.withColumn("text", F.lit("A"))
    b = turn.withColumns(
        {
            "text": F.lit("B"),
            "ingest_ts": F.col("ingest_ts") + F.expr("INTERVAL 1 HOUR"),
        }
    )
    path = str(tmp_path / "silver_p")
    write_silver(reshuffle(initial.unionByName(a), n_cells=8), path)
    extend_silver(spark, path, b, n_cells=8)

    def text(df):
        return [
            r[0]
            for r in df.where("conv_id='conv-000002' and turn_idx=6")
            .select("text")
            .collect()
        ]

    want = text(reshuffle(initial.unionByName(a).unionByName(b), n_cells=8))
    assert want == ["B"]
    assert text(spark.read.parquet(path)) == want


def test_extend_and_silver_open_jobs_independent_of_cell_count(
    tmp_path, spark, jobs_of
):
    """The silver is opened from its footer's schema and a driver listing
    of the cell directories (lineage.read_cells): no schema-inference job,
    and no parallel listing job above 32 directories. So opening it for
    rollup/audit launches no job, and one batch extends a silver of 16
    cell directories and one of 64 with as many jobs: both hold the same
    rows in the cells the batch touches."""
    initial = gen_transcripts(spark, n_conv=400, days=2, turns_per_conv=4)
    later = (
        initial.where(~F.col("is_prelim") & (F.col("conv_id") < "conv-000004"))
        .withColumn("turn_idx", F.col("turn_idx") + 100)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 3 DAYS"))
    )
    path64, path16 = str(tmp_path / "silver64"), str(tmp_path / "silver16")
    write_silver(reshuffle(initial, n_cells=64, num_partitions=4), path64)
    dirs = sorted(glob.glob(f"{path64}/cell_id=*"))
    assert len(dirs) == 64
    touched = {
        f"cell_id={cell_id_for(spark, f'conv-{i:06d}', 64)}" for i in range(4)
    }
    kept = [d for d in dirs if os.path.basename(d) in touched]
    kept += [d for d in dirs if d not in kept][: 16 - len(kept)]
    for d in kept:
        shutil.copytree(d, f"{path16}/{os.path.basename(d)}")
    jobs = {}
    for n, path in ((16, path16), (64, path64)):
        src, open_jobs = jobs_of(read_cells, spark, path)
        assert open_jobs == 0
        _, gen_jobs = jobs_of(cell_generations, src)
        assert gen_jobs == 0
        cells, jobs[n] = jobs_of(extend_silver, spark, path, later, 64)
        assert {f"cell_id={c}" for c in cells} == touched
    assert jobs[16] == jobs[64], jobs
