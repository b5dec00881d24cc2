"""Tiers after an extend: `rollup` into the same dirs re-rolls exactly the
silver cells the extend rewrote and gives the tiers a fresh rollup of the
extended silver gives (ROADMAP direction 1) — the reference's update_ts
contract, "append to the cell files and everything downstream reflects
it" (reference era5/reshuffle.py:254-308)."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ecmwf_models_spark import lineage
from ecmwf_models_spark.cli import rollup_silver
from ecmwf_models_spark.grid import with_cell_id
from ecmwf_models_spark.incremental import extend_silver
from ecmwf_models_spark.lineage import (
    LINEAGE_SCHEMA,
    ResumableTierWriter,
    cell_generations,
    pending_cells,
    write_run_settings,
)
from ecmwf_models_spark.operators.reshuffle import reshuffle, write_silver
from ecmwf_models_spark.operators.rollup import TIERS, finalize, rollup_tiers
from ecmwf_models_spark.synth import gen_transcripts

N = 16
NO_HOT = 10**6  # no 50x-turn conv: the extended cells stay small


@pytest.fixture(scope="module")
def extended(tmp_path_factory, spark):
    """<base>/silver with its three tiers committed in <base>/tiers, then
    an extend of 4 of the 16 cells: later turns of one conv per cell plus
    a revised final. Returns (base, extended cells)."""
    base = tmp_path_factory.mktemp("reroll")
    silver, tiers = str(base / "silver"), str(base / "tiers")
    initial = gen_transcripts(
        spark, n_conv=48, days=3, turns_per_conv=8, hot_every=NO_HOT
    )
    write_silver(reshuffle(initial, n_cells=N), silver)
    write_run_settings(spark, f"{silver}/_settings", {"n_cells": N})
    assert rollup_silver(spark, silver, tiers) == {t: N for t in TIERS}

    conv_of_cell = {}
    for r in (
        with_cell_id(initial.select("conv_id").distinct(), N)
        .orderBy("conv_id")
        .collect()
    ):
        conv_of_cell.setdefault(r["cell_id"], r["conv_id"])
    cells = sorted(conv_of_cell)[:4]
    convs = [conv_of_cell[c] for c in cells]
    later = gen_transcripts(
        spark, n_conv=48, days=4, turns_per_conv=12, hot_every=NO_HOT
    ).where((F.col("turn_idx") >= 8) & F.col("conv_id").isin(convs))
    revised = (
        initial.where(
            F.col("conv_id").isin(convs)
            & (F.col("turn_idx") == 2)
            & ~F.col("is_prelim")
        )
        .withColumn("text", F.lit("REVISED"))
        .withColumn("ingest_ts", F.col("ts") + F.expr("INTERVAL 2 HOURS"))
    )
    assert sorted(extend_silver(spark, silver, later.unionByName(revised))) == cells
    return base, cells


def _copy(base, to):
    shutil.copytree(base, to)
    return str(to / "silver"), str(to / "tiers")


def _files(tiers: str) -> dict:
    """tier -> cell_id -> sorted part-file names of its directory."""
    out = {}
    for t in TIERS:
        for d in glob.glob(f"{tiers}/{t}/cell_id=*"):
            cell = int(d.rsplit("=", 1)[1])
            out.setdefault(t, {})[cell] = sorted(
                os.path.basename(f) for f in glob.glob(f"{d}/*.parquet")
            )
    return out


def _lineage(spark, tiers: str) -> list[dict]:
    return lineage._committed_rows(spark, f"{tiers}/_lineage", LINEAGE_SCHEMA)


def _latest_stats(spark, tiers: str, tier: str) -> dict:
    rows = sorted(
        (r for r in _lineage(spark, tiers) if r["tier"] == tier),
        key=lambda r: r["committed_at"],
    )
    return {r["cell_id"]: (r["row_count"], r["checksum"]) for r in rows}


def _same_rows(spark, a_dir: str, b_dir: str) -> bool:
    a = spark.read.parquet(a_dir)
    b = spark.read.parquet(b_dir).select(*a.columns)
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _tier_frame(spark, silver: str, tier: str):
    return with_cell_id(finalize(rollup_tiers(spark.read.parquet(silver))[tier]), N)


def test_reroll_after_extend_matches_fresh_rollup(
    tmp_path, spark, extended, argv_runner, capsys, jvm_log
):
    """The re-roll commits exactly the extended cells and gives the tiers a
    fresh rollup gives. `cli audit` then passes; it reads the lineage on
    the driver, so it logs no "All paths were ignored" warning for the
    underscore-prefixed _lineage directory."""
    base, cells = extended
    silver, tiers = _copy(base, tmp_path / "w")
    before_files = _files(tiers)
    before_rows = {tuple(r.values()) for r in _lineage(spark, tiers)}
    daily = ResumableTierWriter(
        spark, f"{tiers}/daily", f"{tiers}/_lineage", tier="daily"
    )
    assert not daily.verify(_tier_frame(spark, silver, "daily"))  # stale

    assert rollup_silver(spark, silver, tiers) == {t: 4 for t in TIERS}

    # the cells re-rolled, by lineage and by files, are the extended ones
    new_rows = [
        r for r in _lineage(spark, tiers) if tuple(r.values()) not in before_rows
    ]
    assert sorted((r["tier"], r["cell_id"]) for r in new_rows) == sorted(
        (t, c) for t in TIERS for c in cells
    )
    after_files = _files(tiers)
    for t in TIERS:
        assert sorted(after_files[t]) == list(range(N))
        changed = [c for c in range(N) if after_files[t][c] != before_files[t][c]]
        assert changed == cells, t

    fresh = str(tmp_path / "fresh")
    rollup_silver(spark, silver, fresh)
    for t in TIERS:
        assert _same_rows(spark, f"{tiers}/{t}", f"{fresh}/{t}"), t
        assert _latest_stats(spark, tiers, t) == _latest_stats(spark, fresh, t), t
    assert daily.verify(_tier_frame(spark, silver, "daily"))

    assert rollup_silver(spark, silver, tiers) == {t: 0 for t in TIERS}

    capsys.readouterr()
    argv_runner("audit", "--silver", silver, "--out", tiers)
    out = capsys.readouterr().out
    for t in TIERS:
        assert f"audit {t}: ok" in out, out
    assert "All paths were ignored" not in jvm_log()


def test_crash_mid_reroll_resumes_to_same_tiers(tmp_path, spark, extended):
    """A re-roll that dies between its cell write and its lineage commit
    (fail_after_cells=2), then reruns, leaves the tiers and lineage an
    uncrashed re-roll leaves."""
    base, cells = extended
    ref_silver, ref = _copy(base, tmp_path / "ref")
    rollup_silver(spark, ref_silver, ref)

    silver, tiers = _copy(base, tmp_path / "crash")
    w = ResumableTierWriter(
        spark, f"{tiers}/hourly", f"{tiers}/_lineage", tier="hourly"
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        w.run(_tier_frame(spark, silver, "hourly"), fail_after_cells=2)
    assert rollup_silver(spark, silver, tiers) == {
        "hourly": 2, "daily": 4, "monthly": 4
    }

    for t in TIERS:
        assert _same_rows(spark, f"{tiers}/{t}", f"{ref}/{t}"), t

    def lineage_facts(d):
        keep = ("tier", "cell_id", "snapshot_id", "row_count", "checksum")
        return sorted(tuple(r[k] for k in keep) for r in _lineage(spark, d))

    assert lineage_facts(tiers) == lineage_facts(ref)


def test_generation_lookup_launches_no_spark_job(spark, extended):
    """The silver's cell generations and each tier's pending cells come
    from the input plan's file listing and the driver-read lineage: no
    Spark job, under a job group that would collect one."""
    base, cells = extended
    src = spark.read.parquet(str(base / "silver"))
    sc = spark.sparkContext
    sc.setJobGroup("generations", "cell generations and pending cells")
    try:
        gens = cell_generations(src.where(F.col("cell_id").isin(cells)))
        assert sorted(gens) == list(range(N))
        for t in TIERS:
            assert pending_cells(spark, str(base / "tiers/_lineage"), t, gens) == cells
        assert sc.statusTracker().getJobIdsForGroup("generations") == []
    finally:
        sc.setJobGroup(None, None)
