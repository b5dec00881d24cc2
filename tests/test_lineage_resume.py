"""Resumable tier writes: kill mid-tier, rerun, byte-identical result —
the graft's generalization of overview.yml-driven idempotent extension
(reference era5/reshuffle.py:251,254-308)."""

import glob

import pytest
from py4j import protocol as proto
from pyspark.sql import functions as F

from ecmwf_models_spark import lineage
from ecmwf_models_spark.grid import with_cell_id
from ecmwf_models_spark.lineage import (
    LINEAGE_SCHEMA,
    SETTINGS_SCHEMA,
    ResumableTierWriter,
    committed_cells,
    read_run_settings,
    read_table_attrs,
    write_run_settings,
    write_table_attrs,
)
from ecmwf_models_spark.operators.reshuffle import reshuffle
from ecmwf_models_spark.operators.rollup import finalize, rollup_from_raw


@pytest.fixture(scope="module")
def daily_with_cells(bronze):
    silver = reshuffle(bronze, n_cells=16, num_partitions=8)
    daily = finalize(rollup_from_raw(silver, "daily"))
    df = with_cell_id(daily, 16)
    df.cache().count()
    return df


def _content(spark, path, cols):
    return (
        spark.read.parquet(path)
        .select(*cols)
        .toPandas()
        .sort_values(["cell_id", "conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )


def test_crash_and_resume_identical(tmp_path, spark, daily_with_cells):
    df = daily_with_cells
    cols = df.columns

    # straight-through run = golden
    w_ref = ResumableTierWriter(
        spark, str(tmp_path / "ref"), str(tmp_path / "ref_lin"), tier="daily"
    )
    n_ref = w_ref.run(df)
    assert n_ref == 16
    golden = _content(spark, str(tmp_path / "ref"), cols)

    # crashed run: commits 5 cells then dies
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    w1 = ResumableTierWriter(spark, out, lin, tier="daily")
    with pytest.raises(RuntimeError, match="simulated crash"):
        w1.run(df, fail_after_cells=5)
    lrows = lineage._committed_rows(spark, lin, LINEAGE_SCHEMA)
    assert sum(r["status"] == "committed" for r in lrows) == 5

    # resume with a NEW job: only the remaining 11 cells are processed
    w2 = ResumableTierWriter(spark, out, lin, tier="daily")
    n2 = w2.run(df)
    assert n2 == 16 - 5

    resumed = _content(spark, out, cols)
    assert golden.equals(resumed)

    # third run is a no-op (idempotent)
    w3 = ResumableTierWriter(spark, out, lin, tier="daily")
    assert w3.run(df) == 0

    # write-audit: stored stats match lineage rows
    assert w2.verify(df)


def test_run_evaluates_input_once(tmp_path, spark, daily_with_cells):
    """run() passes over its input once — the write — for a fresh run,
    a crashed one (which writes every pending cell) and, over only the
    pending cells, a resumed one; the lineage rows come from the written
    cells. A Python UDF filter in the input counts the rows each run
    evaluates; the committed-cell filter is evaluated below it."""
    rows_per_cell = {
        r["cell_id"]: r["count"]
        for r in daily_with_cells.groupBy("cell_id").count().collect()
    }
    n = sum(rows_per_cell.values())
    first5 = sum(rows_per_cell[c] for c in sorted(rows_per_cell)[:5])

    def counted():
        acc = spark.sparkContext.accumulator(0)

        @F.udf("boolean")
        def bump(x):
            acc.add(1)
            return True

        return acc, daily_with_cells.where(bump("n_turns"))

    def writer(name):
        return ResumableTierWriter(
            spark, str(tmp_path / name), str(tmp_path / f"{name}_lin"),
            tier="daily",
        )

    acc, df = counted()
    assert writer("fresh").run(df) == 16
    assert acc.value == n

    # crashed run: writes all 16 cells, commits the first 5
    acc, df = counted()
    with pytest.raises(RuntimeError, match="simulated crash"):
        writer("out").run(df, fail_after_cells=5)
    assert acc.value == n

    acc, df = counted()
    w = writer("out")
    assert w.run(df) == 11
    assert acc.value == n - first5
    assert w.verify(df)
    # the tier's attrs were written once, by the crashed run
    assert len(glob.glob(str(tmp_path / "out" / "_meta" / "part-*"))) == 1


def test_uncommitted_cell_dir_is_dropped(tmp_path, spark, daily_with_cells):
    """A cell directory with no committed lineage row is an earlier
    crash's leftover: run() deletes it even when the input has no rows
    for that cell, and commits no lineage row for it."""
    out, lin = tmp_path / "o", str(tmp_path / "lin")
    daily_with_cells.limit(1).withColumn("cell_id", F.lit(99)).write.partitionBy(
        "cell_id"
    ).parquet(str(out))
    stray = out / "cell_id=99"
    assert stray.exists()
    w = ResumableTierWriter(spark, str(out), lin, tier="daily")
    assert w.run(daily_with_cells) == 16
    assert not stray.exists()
    assert 99 not in committed_cells(spark, lin, "daily")
    assert w.verify(daily_with_cells)


def test_verify_catches_written_cells_unlike_input(
    tmp_path, spark, daily_with_cells
):
    """verify() fails when the tier on disk differs from the input: a
    write that dropped a row (lineage and cells agree with each other,
    not with the input), and a cell changed after its lineage commit."""
    df = daily_with_cells
    # the write lost one row of cell 3
    drop = df.where("cell_id = 3").orderBy("conv_id", "bucket_ts").limit(1)
    short = df.exceptAll(drop)
    w = ResumableTierWriter(
        spark, str(tmp_path / "short"), str(tmp_path / "short_lin"), tier="daily"
    )
    assert w.run(short) == 16
    assert w.verify(short)
    assert not w.verify(df)

    # one committed cell rewritten afterwards
    out = str(tmp_path / "o")
    w = ResumableTierWriter(spark, out, str(tmp_path / "lin"), tier="daily")
    assert w.run(df) == 16
    assert w.verify(df)
    (
        df.where("cell_id = 5")
        .withColumn("n_turns", F.col("n_turns") + 1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell_id")
        .parquet(out)
    )
    assert not w.verify(df)


def test_bookkeeping_launches_no_spark_job(tmp_path, spark):
    """Lineage lookups and settings/attrs commits and reads run on the
    driver: no Spark job, under a job group that would collect one."""
    sc = spark.sparkContext
    sc.setJobGroup("bookkeeping", "driver-side lineage files")
    try:
        assert committed_cells(spark, str(tmp_path / "lin"), "daily") == []
        write_run_settings(spark, str(tmp_path / "_settings"), {"n_cells": 8})
        assert read_run_settings(spark, str(tmp_path / "_settings")) == {
            "n_cells": "8"
        }
        write_table_attrs(spark, str(tmp_path / "_meta"), {"v": {"units": "m"}})
        assert read_table_attrs(spark, str(tmp_path / "_meta")) == {
            "v": {"units": "m"}
        }
        assert sc.statusTracker().getJobIdsForGroup("bookkeeping") == []
    finally:
        sc.setJobGroup(None, None)


def test_bookkeeping_reads_tables_spark_wrote(tmp_path, spark):
    """_lineage and _settings directories written by a Spark job (part
    files, _SUCCESS, .crc) read back as they did through Spark, also with
    driver-committed files beside them; a temp file an interrupted commit
    left behind is not a commit."""
    lin, st = str(tmp_path / "_lineage"), str(tmp_path / "_settings")
    spark.createDataFrame(
        [("job", "daily", c, "", 10, c, "committed", 1.0) for c in range(3)],
        LINEAGE_SCHEMA,
    ).coalesce(1).write.parquet(lin)
    (tmp_path / "_lineage" / ".part-1-x.parquet.tmp").write_bytes(b"PAR1")
    spark.createDataFrame(
        [("n_cells", "8", "j", 1.0), ("salt", "6", "j", 1.0)], SETTINGS_SCHEMA
    ).write.parquet(st)
    assert sorted(committed_cells(spark, lin, "daily")) == [0, 1, 2]
    assert committed_cells(spark, lin, "hourly") == []
    assert read_run_settings(spark, st) == {"n_cells": "8", "salt": "6"}
    write_run_settings(spark, st, {"n_cells": 16})
    assert read_run_settings(spark, st) == {"n_cells": "16", "salt": "6"}


def test_bookkeeping_reads_spark_tables_through_hadoop(
    tmp_path, spark, hadoop_source
):
    """The same reads through the Hadoop FileSystem, the source of every
    store that is not local."""
    test_bookkeeping_reads_tables_spark_wrote(tmp_path, spark)


def test_hadoop_listing_sends_one_length_command(
    tmp_path, spark, py4j_commands
):
    """A listing through the Hadoop FileSystem reads its FileStatus[] with
    one array-length command, then one get per entry: 1 + k array
    commands for k entries, where iterating py4j's JavaArray sends a
    length before every get and once more at the end."""
    for k in (1, 3):
        d = tmp_path / f"dir{k}"
        d.mkdir()
        for i in range(k):
            (d / f"part-{i}.parquet").write_bytes(b"PAR1")
        src, root = lineage._hadoop_source(spark, str(d))
        py4j_commands.clear()
        files = lineage.part_files(src, root)
        assert sorted(f.name for f in files) == [
            f"part-{i}.parquet" for i in range(k)
        ]
        arrays = [c for c in py4j_commands if c.startswith(proto.ARRAY_COMMAND_NAME)]
        assert len(arrays) == 1 + k, arrays


def test_spark_reads_driver_committed_lineage(tmp_path, spark, daily_with_cells):
    """spark.read.parquet(_lineage) — the audit path — sees exactly the
    rows the driver-side read returns."""
    out, lin = str(tmp_path / "o"), str(tmp_path / "_lineage")
    ResumableTierWriter(spark, out, lin, tier="daily").run(daily_with_cells)
    ResumableTierWriter(spark, out + "h", lin, tier="hourly").run(
        daily_with_cells.where("cell_id < 4")
    )
    cols = LINEAGE_SCHEMA.names
    got = sorted(tuple(r) for r in spark.read.parquet(lin).select(*cols).collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in lineage._committed_rows(spark, lin, LINEAGE_SCHEMA)
    )
    assert got == want and len(got) == 16 + 4


def test_lineage_rows_complete(tmp_path, spark, daily_with_cells):
    """One row per cell; an in-memory input reads no silver cell
    directory, so its rows carry no generation (snapshot_id "")."""
    out, lin = str(tmp_path / "o2"), str(tmp_path / "l2")
    w = ResumableTierWriter(spark, out, lin, tier="daily")
    w.run(daily_with_cells)
    lrows = lineage._committed_rows(spark, lin, LINEAGE_SCHEMA)
    assert len(lrows) == 16
    assert all(r["snapshot_id"] == "" for r in lrows)
    assert all(r["row_count"] > 0 for r in lrows)
    assert sum(r["row_count"] for r in lrows) == daily_with_cells.count()


def test_attrs_propagate_reshuffle_rollup_read(tmp_path, spark, bronze):
    """Per-variable attrs (units/long_name from the LUT) must survive
    reshuffle -> tier write -> point read — the reference's attribute
    propagation contract (interface.py:185,496-502,
    era5/reshuffle.py:206-207)."""
    from ecmwf_models_spark.operators.pointread import TsReader
    from ecmwf_models_spark.operators.reshuffle import write_silver

    silver_path = str(tmp_path / "silver")
    silver = reshuffle(bronze, n_cells=16, num_partitions=8)
    write_silver(silver, silver_path)

    # silver sidecar carries LUT attrs for every LUT-known column
    sa = read_table_attrs(spark, f"{silver_path}/_meta")
    assert sa["text_len"]["units"] == "chars"
    assert sa["text_len"]["long_name"] == "Turn text length"
    assert sa["tool_call"]["units"] == "flag"

    # tier write propagates attrs for tier columns
    daily = with_cell_id(finalize(rollup_from_raw(silver, "daily")), 16)
    w = ResumableTierWriter(
        spark, str(tmp_path / "daily"), str(tmp_path / "lin"), tier="daily"
    )
    w.run(daily)
    ta = read_table_attrs(spark, str(tmp_path / "daily") + "/_meta")
    assert ta["text_len_sum"]["units"] == "chars"
    assert ta["n_turns"]["long_name"] == "Turns per bucket"

    # TsReader surfaces them on the returned frame
    r = TsReader(spark, silver_path, n_cells=16)
    conv = silver.select("conv_id").first()[0]
    pdf = r.read(conv)
    assert pdf.attrs["var_attrs"]["text_len"]["units"] == "chars"
    # tier table readable by spark despite the _meta sidecar
    assert spark.read.parquet(str(tmp_path / "daily")).count() > 0


def test_audit_lists_written_cells_on_the_driver(tmp_path, spark):
    """run() reads the cells it wrote back for their lineage rows, and
    verify() reads every cell of the tier. Spark lists more than 32
    directories of a read in a Spark job of its own, and infers a schema
    in another; both reads list the cells on the driver and take the
    input's schema, so at 64 cells each launches no more jobs than at
    16."""
    from ecmwf_models_spark.synth import gen_transcripts

    bronze = gen_transcripts(spark, n_conv=400, days=2, turns_per_conv=4)
    daily = finalize(rollup_from_raw(reshuffle(bronze, num_partitions=4), "daily"))
    daily.cache().count()
    sc = spark.sparkContext

    def jobs(name, f):
        sc.setJobGroup(name, name)
        try:
            assert f()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(name))

    runs, verifies = {}, {}
    for n in (16, 64):
        name = f"daily{n}"
        w = ResumableTierWriter(
            spark, str(tmp_path / name), str(tmp_path / f"{name}_lin"),
            tier="daily",
        )
        df = with_cell_id(daily, n)
        runs[n] = jobs(f"run{n}", lambda: w.run(df) == n)
        verifies[n] = jobs(f"verify{n}", lambda: w.verify(df))
    assert runs[64] <= runs[16], runs
    assert verifies[64] == verifies[16], verifies
    daily.unpersist()
