"""update_silver: passes over a growing bronze dir upsert each file that
<silver>/_sources does not record into the silver, the silver then
equals a reshuffle of all the bronze, and the record makes a rerun
process only the files that landed since. A pass is one extend_silver
however many files it finds, so it rewrites each touched cell once."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ecmwf_models_spark import lineage
from ecmwf_models_spark.grid import with_cell_id
from ecmwf_models_spark.incremental import update_silver
from ecmwf_models_spark.lineage import (
    commit_sources,
    consumed_sources,
    data_files,
    write_run_settings,
)
from ecmwf_models_spark.operators.reshuffle import (
    SILVER_COLS,
    reshuffle,
    write_silver,
)
from ecmwf_models_spark.synth import gen_transcripts

CUTOFF = "2010-01-02 00:00:00"


def _same_rows(a, b) -> bool:
    a, b = a.select(*SILVER_COLS), b.select(*SILVER_COLS)
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _commits(silver: str) -> int:
    """The commits of <silver>/_sources: one parquet file each."""
    return len(glob.glob(f"{silver}/_sources/*.parquet"))


def _batches(spark):
    full = gen_transcripts(spark, n_conv=30, days=2, turns_per_conv=8)
    return full, full.where(F.col("ts") < CUTOFF), full.where(F.col("ts") >= CUTOFF)


def test_update_silver_incremental(tmp_path, spark):
    # a space, which the recorded URIs escape
    src = str(tmp_path / "in dir")
    silver = str(tmp_path / "silver")
    full, batch1, batch2 = _batches(spark)

    batch1.repartition(10).write.mode("append").parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 10
    write_silver(reshuffle(batch1, n_cells=8), silver)
    write_run_settings(spark, f"{silver}/_settings", {"n_cells": 8})

    # the silver records no source, so the first pass replays batch1 into
    # the silver made from it: the upsert leaves the rows as they were
    assert update_silver(spark, src, silver)
    assert _same_rows(spark.read.parquet(silver), reshuffle(batch1, n_cells=8))
    assert _commits(silver) == 1

    # the second pass upserts batch2 alone: the cells of its convs. A
    # file still being copied in is skipped, as Spark skips it (its
    # bytes are no parquet file, so a read of it would fail)
    batch2.repartition(10).write.mode("append").parquet(src)
    with open(f"{src}/part-late.parquet._COPYING_", "wb") as f:
        f.write(b"half a file")
    cells = sorted(
        r[0] for r in with_cell_id(batch2, 8).select("cell_id").distinct().collect()
    )
    assert update_silver(spark, src, silver) == cells
    assert _same_rows(spark.read.parquet(silver), reshuffle(full, n_cells=8))
    assert _commits(silver) == 2

    # every data file is recorded, and nothing else: not Spark's _SUCCESS
    # marker nor the local filesystem's .crc checksums
    assert glob.glob(f"{src}/_SUCCESS") and glob.glob(f"{src}/.*.crc")
    recorded = {os.path.basename(f) for f in consumed_sources(spark, silver)}
    assert recorded == {
        os.path.basename(f) for f in glob.glob(f"{src}/part-*.parquet")
    }
    assert len(recorded) == 20

    # no new file: nothing is extended, no silver file rewritten, nothing
    # committed
    files = sorted(glob.glob(silver + "/cell_id=*/*.parquet"))
    assert update_silver(spark, src, silver) == []
    assert sorted(glob.glob(silver + "/cell_id=*/*.parquet")) == files
    assert _commits(silver) == 2


def test_crash_between_extend_and_record_replays(tmp_path, spark, monkeypatch):
    """A pass that dies after its extend, before it records its files,
    leaves them unrecorded; the rerun upserts them again and leaves the
    silver and _sources an uncrashed pass leaves."""
    src = str(tmp_path / "in dir")
    base = str(tmp_path / "base")
    full, batch1, batch2 = _batches(spark)

    def land(batch):
        (
            batch.withColumn("ds", F.to_date("ts"))
            .write.mode("append")
            .partitionBy("ds")
            .parquet(src)
        )

    land(batch1)
    write_silver(reshuffle(batch1, n_cells=8), base)
    write_run_settings(spark, f"{base}/_settings", {"n_cells": 8})
    # as cli reshuffle records them; the same URIs the listing gives
    commit_sources(spark, base, spark.read.parquet(src).inputFiles())
    assert consumed_sources(spark, base) == set(data_files(spark, src))
    land(batch2)

    ok, crashed = str(tmp_path / "ok"), str(tmp_path / "crashed")
    shutil.copytree(base, ok)
    shutil.copytree(base, crashed)
    cells = update_silver(spark, src, ok)
    assert cells

    commit = lineage._commit_file

    def crash(spark, path, schema, rows):
        if path.endswith("/_sources"):
            raise OSError("simulated crash before the _sources commit")
        commit(spark, path, schema, rows)

    with monkeypatch.context() as m:
        m.setattr(lineage, "_commit_file", crash)
        with pytest.raises(OSError, match="simulated crash"):
            update_silver(spark, src, crashed)
    assert consumed_sources(spark, crashed) == consumed_sources(spark, base)
    assert _same_rows(spark.read.parquet(crashed), spark.read.parquet(ok))

    assert update_silver(spark, src, crashed) == cells
    assert _same_rows(spark.read.parquet(crashed), spark.read.parquet(ok))
    assert _same_rows(spark.read.parquet(ok), reshuffle(full, n_cells=8))
    assert consumed_sources(spark, crashed) == consumed_sources(spark, ok)
    assert _commits(crashed) == _commits(ok) == 2
