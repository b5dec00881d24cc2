"""Structured Streaming ingest: availableNow passes upsert each new bronze
file into the silver, the silver then equals a reshuffle of all the
bronze, and the checkpoint makes a rerun process only the delta. A pass
is one micro-batch however many files it finds, so it rewrites each
touched cell once."""

import glob
import os

from pyspark.sql import functions as F

from ecmwf_models_spark.grid import with_cell_id
from ecmwf_models_spark.lineage import write_run_settings
from ecmwf_models_spark.operators.reshuffle import (
    SILVER_COLS,
    reshuffle,
    write_silver,
)
from ecmwf_models_spark.streaming.ingest import run_available_now
from ecmwf_models_spark.synth import gen_transcripts

CUTOFF = "2010-01-02 00:00:00"


def _same_rows(a, b) -> bool:
    a, b = a.select(*SILVER_COLS), b.select(*SILVER_COLS)
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _commits(ckpt: str) -> list[str]:
    """The micro-batches committed in a streaming checkpoint."""
    return sorted(os.path.basename(p) for p in glob.glob(f"{ckpt}/commits/*"))


def test_available_now_incremental(tmp_path, spark):
    src = str(tmp_path / "in")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    full = gen_transcripts(spark, n_conv=30, days=2, turns_per_conv=8)
    batch1 = full.where(F.col("ts") < CUTOFF)
    batch2 = full.where(F.col("ts") >= CUTOFF)

    # more files than the file source's old 8-per-trigger cap
    batch1.repartition(10).write.mode("append").parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 10
    write_silver(reshuffle(batch1, n_cells=8), silver)
    write_run_settings(spark, f"{silver}/_settings", {"n_cells": 8})

    # the first pass replays batch1 into the silver made from it: the
    # upsert leaves the rows as they were
    assert run_available_now(spark, src, silver, ckpt)
    assert _same_rows(spark.read.parquet(silver), reshuffle(batch1, n_cells=8))
    assert _commits(ckpt) == ["0"]

    # the second pass upserts batch2 alone: the cells of its convs
    batch2.repartition(10).write.mode("append").parquet(src)
    cells = sorted(
        r[0] for r in with_cell_id(batch2, 8).select("cell_id").distinct().collect()
    )
    assert run_available_now(spark, src, silver, ckpt) == cells
    assert _same_rows(spark.read.parquet(silver), reshuffle(full, n_cells=8))
    assert _commits(ckpt) == ["0", "1"]

    # no new file: nothing is extended, no silver file rewritten
    files = sorted(glob.glob(silver + "/cell_id=*/*.parquet"))
    assert run_available_now(spark, src, silver, ckpt) == []
    assert sorted(glob.glob(silver + "/cell_id=*/*.parquet")) == files
