"""CLI round trip of `update-img` (reference cli.py:271-310 exposes
update_images as a first-class command): passes over a growing bronze
dir upsert each new file into a silver from `reshuffle` and re-roll the
changed tier cells. The tiers they leave equal `reshuffle` + `rollup` of
all the bronze, also for turns a watermarked window aggregate would drop
or miscount; `audit` passes on them and fails on tiers an extend left
stale."""

import shutil
import subprocess
import sys

from pyspark.sql import functions as F

from ecmwf_models_spark import lineage
from ecmwf_models_spark.lineage import LINEAGE_SCHEMA
from ecmwf_models_spark.operators.rollup import TIERS
from ecmwf_models_spark.synth import gen_transcripts

CUTOFF = "2010-01-02 00:00:00"


def _cli(*args, ok=True):
    out = subprocess.run(
        [sys.executable, "-m", "ecmwf_models_spark.cli", "--cpus", "4", *args],
        capture_output=True, text=True, timeout=600,
    )
    assert (out.returncode == 0) == ok, out.stderr[-2000:]
    return out.stdout


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
    assert n > 0
    for t in TIERS:
        assert f"tier {t}: {n} cells committed" in stdout


def test_cli_update_img_incremental(tmp_path, spark):
    src, silver, tiers = (str(tmp_path / d) for d in ("in", "silver", "tiers"))

    full = gen_transcripts(spark, n_conv=20, days=2, turns_per_conv=6)
    first = full.where(F.col("ts") < CUTOFF)
    first.write.mode("append").parquet(src)
    _cli("reshuffle", "--bronze", src, "--out", silver, "--n-cells", "8")

    # pass 1 replays the first files into the silver made from them (a
    # harmless upsert) and rolls every tier cell up
    _assert_rerolled(
        _cli("update-img", "--bronze", src, "--silver", silver, "--out", tiers)
    )
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
        _cli("update-img", "--bronze", src, "--silver", silver, "--out", tiers)
    )

    ref_silver, ref = str(tmp_path / "ref_silver"), str(tmp_path / "ref")
    _cli("reshuffle", "--bronze", src, "--out", ref_silver, "--n-cells", "8")
    _cli("rollup", "--silver", ref_silver, "--out", ref)
    for t in TIERS:
        a = spark.read.parquet(f"{tiers}/{t}")
        b = spark.read.parquet(f"{ref}/{t}").select(*a.columns)
        assert a.exceptAll(b).count() == 0, t
        assert b.exceptAll(a).count() == 0, t
        assert _latest_stats(spark, tiers, t) == _latest_stats(spark, ref, t), t

    assert "MISMATCH" not in _cli("audit", "--silver", silver, "--out", tiers)
    # the tiers of pass 1, not re-rolled after pass 2's extend
    assert "audit hourly: MISMATCH" in _cli(
        "audit", "--silver", silver, "--out", stale, ok=False
    )
