"""Point-read contract (ERATs.read analogue, reference interface.py:675-720).

`TsReader.read` must return exactly what the plain Spark query
`where(conv_id).orderBy("ts", "turn_idx").toPandas().set_index("ts")`
returns — same columns, dtypes, index and row order, in any session time
zone — while neither opening a reader nor reading launches a Spark job. A
reader opened before `extend_silver` must see the extend, also with
read_bulk's cached cells.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import uuid
from decimal import Decimal

import pandas as pd
import pytest
from py4j import protocol as proto
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from ecmwf_models_spark import lineage
from ecmwf_models_spark.grid import with_cell_id
from ecmwf_models_spark.incremental import extend_silver
from ecmwf_models_spark.lineage import read_table_attrs, write_run_settings
from ecmwf_models_spark.operators.pointread import _TZ_KEY, TsReader, cell_id_for
from ecmwf_models_spark.operators.reshuffle import reshuffle, write_silver
from ecmwf_models_spark.synth import gen_transcripts

# conv-000000 is a hot conv (600 turns over 16 six-hourly buckets), so it
# holds many turns at the same ts; conv-999999 is in no silver table
CONVS = ["conv-000000", "conv-000007", "conv-000013", "conv-999999"]
RESCALED = dict(
    parameters=["text_len", "tool_call"],
    scale_factors={"text_len": 2.0},
    offsets={"text_len": 1.0, "tool_call": -0.5},
)


@pytest.fixture(scope="module")
def silver16(tmp_path_factory, bronze):
    path = str(tmp_path_factory.mktemp("pointread") / "silver")
    write_silver(reshuffle(bronze, n_cells=16, num_partitions=8), path)
    write_run_settings(bronze.sparkSession, f"{path}/_settings", {"n_cells": 16})
    return path


def spark_read(spark, path, conv_id, parameters=None, offsets=None,
               scale_factors=None) -> pd.DataFrame:
    """The read as one global-sorted Spark query over the whole table."""
    df = (
        spark.read.parquet(path)
        .where(F.col("conv_id") == conv_id)
        .orderBy("ts", "turn_idx")
    )
    if parameters:
        df = df.select("ts", *parameters)
    for c, sf in (scale_factors or {}).items():
        df = df.withColumn(c, F.col(c) * F.lit(sf))
    for c, off in (offsets or {}).items():
        df = df.withColumn(c, F.col(c) + F.lit(off))
    return df.toPandas().set_index("ts")


def jobs_of(spark, fn, *args):
    """Run fn under a fresh job group; return (result, jobs launched)."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_hot_conv_has_ts_ties(spark, silver16):
    pdf = spark_read(spark, silver16, "conv-000000")
    assert pdf.index.duplicated().any()


@pytest.mark.parametrize("read_bulk", [False, True])
@pytest.mark.parametrize("opts", [{}, RESCALED], ids=["all", "rescaled"])
def test_read_matches_spark_query(spark, silver16, read_bulk, opts):
    r = TsReader(spark, silver16, n_cells=16, read_bulk=read_bulk, **opts)
    attrs = read_table_attrs(spark, f"{silver16}/_meta")
    try:
        for conv in CONVS:
            got = r.read(conv)
            want = spark_read(spark, silver16, conv, **opts)
            pd.testing.assert_frame_equal(got, want)
            assert got.attrs["var_attrs"] == {
                c: attrs[c] for c in want.columns if c in attrs
            }
            if conv == "conv-999999":
                assert got.empty and list(got.columns) == list(want.columns)
            else:
                assert len(got) > 0
    finally:
        r.close()


@pytest.mark.parametrize("read_bulk", [False, True])
@pytest.mark.parametrize("opts", [{}, RESCALED], ids=["all", "rescaled"])
def test_read_matches_spark_query_through_hadoop(
    spark, silver16, read_bulk, opts, hadoop_source
):
    """The Hadoop source, which every store but the local one reads
    through, returns the same frames."""
    assert isinstance(lineage._source(spark, silver16)[0], lineage._HadoopSource)
    test_read_matches_spark_query(spark, silver16, read_bulk, opts)


def test_local_silver_reads_without_hadoop(spark, silver16, py4j_commands):
    """On a local silver the driver lists and reads the cell's files
    itself: a read sends two py4j commands, the route call and the
    session zone lookup, whatever deletes of collected proxies py4j
    sends beside them."""
    assert isinstance(lineage._source(spark, silver16)[0], lineage._LocalSource)
    r = TsReader(spark, silver16)
    # the first routing in a JVM resolves the hasher's classes
    cell_id_for(spark, CONVS[0], 16)
    for conv in CONVS:
        py4j_commands.clear()
        r.read(conv)
        calls = [
            c for c in py4j_commands if not c.startswith(proto.MEMORY_COMMAND_NAME)
        ]
        assert len(calls) == 2, calls
        assert "\nhashUnsafeBytes\n" in calls[0] and _TZ_KEY in calls[1], calls


@pytest.mark.parametrize("through", ["local", "hadoop"])
def test_read_checks_part_files_against_crc(
    request, spark, silver16, tmp_path, through
):
    """A part file whose bytes no longer match its Hadoop .crc fails the
    read of a conv in its cell (each of the cell's footers is read), on
    the local source as through Hadoop's ChecksumFileSystem; part files
    with no .crc are read unchecked, as Hadoop reads them."""
    if through == "hadoop":
        request.getfixturevalue("hadoop_source")
    path = str(tmp_path / "silver")
    shutil.copytree(silver16, path)
    conv = CONVS[0]
    bad = cell_id_for(spark, conv, 16)
    other = next(
        c for c in (f"conv-{i:06d}" for i in range(50))
        if cell_id_for(spark, c, 16) != bad
    )
    part = glob.glob(f"{path}/cell_id={bad}/*.parquet")[0]
    with open(part, "r+b") as f:
        f.seek(os.path.getsize(part) // 2)
        byte = f.read(1)[0]
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([byte ^ 0xFF]))
    for crc in glob.glob(f"{path}/cell_id={cell_id_for(spark, other, 16)}/.*.crc"):
        os.remove(crc)

    r = TsReader(spark, path)
    error = lineage.ChecksumError if through == "local" else Py4JJavaError
    with pytest.raises(error, match="Checksum error"):
        r.read(conv)
    got = r.read(other)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, spark_read(spark, silver16, other))


def test_reader_sees_extends_after_open(spark, tmp_path):
    """A reader opened before two extends returns their rows: a conv in a
    cell that had no directory at open, and new turns of a conv whose
    cell the extend rewrote."""
    initial = gen_transcripts(spark, n_conv=10, days=2, turns_per_conv=6)
    path = str(tmp_path / "silver")
    write_silver(reshuffle(initial, n_cells=64, num_partitions=4), path)
    r = TsReader(spark, path, n_cells=64)

    cells = {int(d.split("=")[1]) for d in os.listdir(path)
             if d.startswith("cell_id=")}
    new_conv = next(
        c for c in (f"conv-9{i:05d}" for i in range(1000))
        if cell_id_for(spark, c, 64) not in cells
    )
    empty = r.read(new_conv)
    pd.testing.assert_frame_equal(empty, spark_read(spark, path, new_conv))
    assert empty.empty

    finals = initial.where(~F.col("is_prelim"))
    one_turn = finals.where(
        (F.col("conv_id") == "conv-000001") & (F.col("turn_idx") == 0)
    ).withColumn("conv_id", F.lit(new_conv))
    extend_silver(spark, path, one_turn, n_cells=64)
    got = r.read(new_conv)
    assert len(got) == 1
    pd.testing.assert_frame_equal(got, spark_read(spark, path, new_conv))

    before = r.read("conv-000003")
    later = (
        finals.where(F.col("conv_id") == "conv-000003")
        .withColumn("turn_idx", F.col("turn_idx") + 100)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 3 DAYS"))
    )
    extend_silver(spark, path, later, n_cells=64)
    after = r.read("conv-000003")
    assert len(after) == 2 * len(before) > 0
    assert (after["turn_idx"] >= 100).sum() == len(before)
    want = spark_read(spark, path, "conv-000003")
    pd.testing.assert_frame_equal(after, want)


def test_reader_takes_n_cells_from_settings(spark, silver16, tmp_path):
    """Without n_cells the reader routes with the grid in <silver>/_settings
    (16 here, not grid.DEFAULT_N_CELLS); a silver that records none is
    refused rather than read with a guessed grid."""
    r = TsReader(spark, silver16)
    assert r.n_cells == 16
    for conv in CONVS[:3]:
        got = r.read(conv)
        assert len(got) > 0
        pd.testing.assert_frame_equal(got, spark_read(spark, silver16, conv))
    bare = str(tmp_path / "bare")
    shutil.copytree(silver16, bare, ignore=shutil.ignore_patterns("_settings"))
    with pytest.raises(ValueError, match="n_cells"):
        TsReader(spark, bare)


@pytest.fixture(scope="module")
def silver64(tmp_path_factory, spark):
    """A silver with a directory in each of its 64 cells: above the 32
    paths Spark lists in a Spark job."""
    path = str(tmp_path_factory.mktemp("pointread64") / "silver")
    bronze = gen_transcripts(spark, n_conv=400, days=2, turns_per_conv=4)
    write_silver(reshuffle(bronze, n_cells=64, num_partitions=4), path)
    write_run_settings(spark, f"{path}/_settings", {"n_cells": 64})
    assert len([d for d in os.listdir(path) if d.startswith("cell_id=")]) == 64
    return path


def test_open_and_read_launch_no_job(spark, silver16, silver64):
    """Opening a reader (its schema from one part file's footer, the
    same schema Spark infers), routing and reading launch no Spark job,
    at 16 cells and at 64."""
    for path, n in ((silver16, 16), (silver64, 64)):
        r, open_jobs = jobs_of(spark, TsReader, spark, path)
        assert open_jobs == 0
        assert r.n_cells == n
        assert r.schema == spark.read.parquet(path).schema
        _, route_jobs = jobs_of(spark, cell_id_for, spark, "conv-000007", n)
        assert route_jobs == 0
        for conv in ("conv-000007", "conv-000000"):
            pdf, read_jobs = jobs_of(spark, r.read, conv)
            assert len(pdf) > 0
            assert read_jobs == 0


def test_read_matches_spark_query_in_session_time_zone(spark, silver16):
    """Timestamps come back naive in spark.sql.session.timeZone, as
    toPandas() gives them: the same frames as the Spark query under a
    zone that is not UTC, and not the UTC ones."""
    key = "spark.sql.session.timeZone"
    utc = TsReader(spark, silver16).read("conv-000007")
    zone = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        for opts in ({}, RESCALED):
            r = TsReader(spark, silver16, **opts)
            for conv in CONVS:
                pd.testing.assert_frame_equal(
                    r.read(conv), spark_read(spark, silver16, conv, **opts)
                )
        shifted = TsReader(spark, silver16).read("conv-000007")
    finally:
        spark.conf.set(key, zone)
    assert (shifted.index != utc.index).all()
    assert (shifted["ts_bucket"].values != utc["ts_bucket"].values).all()


def test_read_bulk_serves_no_stale_cell(spark, tmp_path):
    """read_bulk caches a cell's rows on the driver under the cell's
    generation, its part-file names listed at every read: after an
    extend_silver rewrites the cell, the next read returns the new turns.
    So it does when the rewrite comes from another process, which Spark's
    cache manager does not see: here an extend of a copy of the silver,
    whose cell directory then replaces this one."""
    initial = gen_transcripts(spark, n_conv=10, days=2, turns_per_conv=6)
    conv = "conv-000003"
    finals = initial.where(~F.col("is_prelim") & (F.col("conv_id") == conv))

    def later(days):
        return finals.withColumns({
            "turn_idx": F.col("turn_idx") + 100 * days,
            "ts": F.col("ts") + F.expr(f"INTERVAL {days} DAYS"),
        })

    path, copy = str(tmp_path / "silver"), str(tmp_path / "copy")
    write_silver(reshuffle(initial, n_cells=8, num_partitions=4), path)
    r = TsReader(spark, path, n_cells=8, read_bulk=True)
    assert len(r.read(conv)) == 6
    extend_silver(spark, path, later(3), n_cells=8)
    got = r.read(conv)
    assert len(got) == 12
    pd.testing.assert_frame_equal(got, spark_read(spark, path, conv))

    shutil.copytree(path, copy)
    (cell,) = extend_silver(spark, copy, later(6), n_cells=8)
    shutil.rmtree(f"{path}/cell_id={cell}")
    shutil.copytree(f"{copy}/cell_id={cell}", f"{path}/cell_id={cell}")
    got = r.read(conv)
    assert len(got) == 18
    pd.testing.assert_frame_equal(got, spark_read(spark, path, conv))
    r.close()


def test_reader_reads_session_time_zone_at_each_read(spark, silver16):
    """A reader opened before spark.sql.session.timeZone changes returns
    the Spark query's frames in the new zone: the zone is read at every
    read, not at open. +08:00 is a fixed offset that Arrow's time zone
    database lacks, so its timestamps take Spark's converter."""
    key = "spark.sql.session.timeZone"
    readers = [TsReader(spark, silver16), TsReader(spark, silver16, **RESCALED)]
    zone = spark.conf.get(key)
    try:
        for new_zone in ("America/Los_Angeles", "+08:00"):
            spark.conf.set(key, new_zone)
            for r, opts in zip(readers, ({}, RESCALED)):
                for conv in CONVS:
                    pd.testing.assert_frame_equal(
                        r.read(conv), spark_read(spark, silver16, conv, **opts)
                    )
    finally:
        spark.conf.set(key, zone)


def test_read_in_session_time_zone_through_hadoop(
    spark, silver16, hadoop_source
):
    """The session-zone contracts hold on the Hadoop source too."""
    test_read_matches_spark_query_in_session_time_zone(spark, silver16)
    test_reader_reads_session_time_zone_at_each_read(spark, silver16)


def test_read_converts_every_column_type_as_to_pandas(spark, tmp_path):
    """Column types silver does not hold yet convert as toPandas() does:
    Arrow's own conversion where it gives Spark's result (numbers, bools,
    strings, binaries, dates, decimals; nulls included), timestamps
    localized, Spark's converter where Arrow differs (a map is a dict, not
    a list of pairs). One conv holds nulls in every column, the other
    none, so int and bool columns come back both as numpy ints/bools and
    as float64/object."""
    schema = (
        "conv_id string, turn_idx int, ts timestamp, b boolean, i8 tinyint,"
        " i16 smallint, i32 int, i64 bigint, f32 float, f64 double,"
        " s string, bin binary, d date, dec decimal(10,2), t timestamp,"
        " m map<string,int>"
    )
    at = dt.datetime(2024, 3, 10, 9, 30)
    # 08:30 and 09:10 UTC on 2024-11-03 are 01:30 PDT, then 01:10 PST
    t = dt.datetime(2024, 11, 3, 8, 30)
    full = (True, 1, 2, 3, 4, 1.5, 2.5, "x", b"\x01", dt.date(2024, 1, 1),
            Decimal("1.25"), t, {"k": 1})
    rows = [
        ("c-full", 0, at, *full),
        ("c-full", 1, at + dt.timedelta(hours=1), False, -1, -2, -3, -4,
         -1.5, -2.5, "y", b"\x02", dt.date(2024, 1, 2), Decimal("-1.25"),
         t + dt.timedelta(minutes=40), {"k": 2, "j": None}),
        ("c-null", 0, at, *full),
        ("c-null", 1, None, *[None] * len(full)),
    ]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "typed")
    with_cell_id(df, 4).write.partitionBy("cell_id").parquet(path)
    r = TsReader(spark, path, n_cells=4)
    key = "spark.sql.session.timeZone"
    zone = spark.conf.get(key)
    try:
        for new_zone in (zone, "America/Los_Angeles", "+08:00"):
            spark.conf.set(key, new_zone)
            for conv in ("c-full", "c-null"):
                pd.testing.assert_frame_equal(
                    r.read(conv), spark_read(spark, path, conv)
                )
    finally:
        spark.conf.set(key, zone)
