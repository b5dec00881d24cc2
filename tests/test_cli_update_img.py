"""CLI round trip of `update-img` (reference cli.py:271-310 exposes
update_images as a first-class command): passes over a growing bronze
dir upsert each file the silver's _sources does not record and re-roll
the changed tier cells. The tiers they leave equal `reshuffle` +
`rollup` of all the bronze; `audit` passes on them and fails on tiers an
extend left stale. A file is new by name, whatever its mtime."""

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from ecmwf_models_spark import lineage
from ecmwf_models_spark.lineage import LINEAGE_SCHEMA
from ecmwf_models_spark.operators.reshuffle import SILVER_COLS, reshuffle
from ecmwf_models_spark.operators.rollup import TIERS
from ecmwf_models_spark.synth import gen_transcripts

CUTOFF = "2010-01-02 00:00:00"


@pytest.fixture()
def cli(argv_runner, capsys):
    """Run one CLI command in this process; returns what it printed."""

    def run(*args):
        capsys.readouterr()
        argv_runner(*args)
        return capsys.readouterr().out

    return run


def _latest_stats(spark, tiers: str, tier: str) -> dict:
    rows = sorted(
        (
            r
            for r in lineage._committed_rows(
                spark, f"{tiers}/_lineage", LINEAGE_SCHEMA
            )
            if r["tier"] == tier
        ),
        key=lambda r: r["committed_at"],
    )
    return {r["cell_id"]: (r["row_count"], r["checksum"]) for r in rows}


def _assert_rerolled(stdout: str) -> None:
    """Every tier committed the cells the pass extended."""
    n = int(stdout.split("update-img: extended ")[1].split()[0])
    assert n > 0, stdout
    for t in TIERS:
        assert f"tier {t}: {n} cells committed" in stdout, stdout


def test_cli_update_img_incremental(tmp_path, spark, cli, capsys):
    src, silver, tiers = (str(tmp_path / d) for d in ("in", "silver", "tiers"))

    full = gen_transcripts(spark, n_conv=20, days=2, turns_per_conv=6)
    first = full.where(F.col("ts") < CUTOFF)
    first.write.mode("append").parquet(src)
    cli("reshuffle", "--bronze", src, "--out", silver, "--n-cells", "8")

    # reshuffle recorded the files it read, so pass 1 upserts none of
    # them and extends no cell; it rolls every tier cell up
    out = cli("update-img", "--bronze", src, "--silver", silver, "--out", tiers)
    assert "update-img: extended 0 cells" in out, out
    n_cells = len(glob.glob(f"{silver}/cell_id=*"))
    for t in TIERS:
        assert f"tier {t}: {n_cells} cells committed" in out, out
    stale = str(tmp_path / "stale")
    shutil.copytree(tiers, stale)

    # pass 2: the later turns, plus a turn that only ever arrives
    # preliminary, a re-delivered final with revised text, and a final
    # 4 h older than pass 1's latest ts
    max_ts = first.agg(F.max("ts")).first()[0]

    def turn(conv, idx):
        return full.where(
            (F.col("conv_id") == conv) & (F.col("turn_idx") == idx)
            & ~F.col("is_prelim")
        )

    prelim_only = turn("conv-000003", 0).withColumns(
        {"turn_idx": F.lit(100), "is_prelim": F.lit(True),
         "text": F.lit("PRELIM-ONLY")}
    )
    redelivered = turn("conv-000004", 1).withColumns(
        {"text": F.lit("REVISED"),
         "ingest_ts": F.col("ingest_ts") + F.expr("INTERVAL 5 HOURS")}
    )
    late = turn("conv-000005", 0).withColumns(
        {"turn_idx": F.lit(101),
         "ts": F.lit(max_ts) - F.expr("INTERVAL 4 HOURS")}
    ).withColumn("ingest_ts", F.col("ts"))
    (
        full.where(F.col("ts") >= CUTOFF)
        .unionByName(prelim_only)
        .unionByName(redelivered)
        .unionByName(late)
        .write.mode("append")
        .parquet(src)
    )
    _assert_rerolled(
        cli("update-img", "--bronze", src, "--silver", silver, "--out", tiers)
    )

    ref_silver, ref = str(tmp_path / "ref_silver"), str(tmp_path / "ref")
    cli("reshuffle", "--bronze", src, "--out", ref_silver, "--n-cells", "8")
    cli("rollup", "--silver", ref_silver, "--out", ref)
    for t in TIERS:
        a = spark.read.parquet(f"{tiers}/{t}")
        b = spark.read.parquet(f"{ref}/{t}").select(*a.columns)
        assert a.exceptAll(b).count() == 0, t
        assert b.exceptAll(a).count() == 0, t
        assert _latest_stats(spark, tiers, t) == _latest_stats(spark, ref, t), t

    assert "MISMATCH" not in cli("audit", "--silver", silver, "--out", tiers)
    # the tiers of pass 1, not re-rolled after pass 2's extend
    with pytest.raises(SystemExit):
        cli("audit", "--silver", silver, "--out", stale)
    assert "audit hourly: MISMATCH" in capsys.readouterr().out


def test_cli_update_img_consumes_old_mtime_backfill(tmp_path, spark, cli):
    """A backfilled day that lands with a 10-day-old mtime, as `cp -p` or
    `rsync -t` leaves a file copied from an older store, is upserted: a
    file is new by name, not by age, so no file is too old to count."""
    src, silver, tiers = (str(tmp_path / d) for d in ("in", "silver", "tiers"))
    full = gen_transcripts(spark, n_conv=20, days=2, turns_per_conv=6)
    full = full.withColumn("ds", F.to_date("ts"))
    full.where(F.col("ts") < CUTOFF).write.partitionBy("ds").parquet(src)
    cli("reshuffle", "--bronze", src, "--out", silver, "--n-cells", "8")
    cli("update-img", "--bronze", src, "--silver", silver, "--out", tiers)

    before = set(glob.glob(f"{src}/ds=*/*.parquet"))
    (
        full.where(F.col("ts") >= CUTOFF)
        .write.mode("append")
        .partitionBy("ds")
        .parquet(src)
    )
    old = time.time() - 10 * 86400
    backfill = set(glob.glob(f"{src}/ds=*/*.parquet")) - before
    assert backfill
    for f in backfill:
        os.utime(f, (old, old))

    _assert_rerolled(
        cli("update-img", "--bronze", src, "--silver", silver, "--out", tiers)
    )
    a = spark.read.parquet(silver).select(*SILVER_COLS)
    b = reshuffle(full.drop("ds"), n_cells=8).select(*SILVER_COLS)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_cli_extend_records_its_sources(tmp_path, spark, cli):
    """`extend` records the bronze files it upserts in <silver>/_sources,
    so an `update-img` over the same dir finds nothing new and extends no
    cell."""
    src, silver, tiers = (str(tmp_path / d) for d in ("in", "silver", "tiers"))
    full = gen_transcripts(spark, n_conv=20, days=2, turns_per_conv=6)
    full.where(F.col("ts") < CUTOFF).write.parquet(src)
    cli("reshuffle", "--bronze", src, "--out", silver, "--n-cells", "8")
    full.where(F.col("ts") >= CUTOFF).write.mode("append").parquet(src)

    out = cli("extend", "--silver", silver, "--bronze", src)
    assert not out.startswith("extended 0 cells"), out
    out = cli("update-img", "--bronze", src, "--silver", silver, "--out", tiers)
    assert "update-img: extended 0 cells" in out, out
    assert lineage.consumed_sources(spark, silver) == set(
        lineage.data_files(spark, src)
    )
