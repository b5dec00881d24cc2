"""Physical-plan regression tests — the scale story, asserted.

Correctness tests prove the operators work on small data; these prove the
PLANS are the ones that survive 100x scale-up: the transpose is a single
exchange, dedup rides the range partitioning without a second shuffle,
point reads fetch only their conv's row groups of one cell file, dimension
joins broadcast, and scans prune columns. A regression here is a silent
10-100x slowdown at cluster scale even though every value stays correct.
"""

from __future__ import annotations

import contextlib
import glob
import io
import os
import re

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ecmwf_models_spark import lineage
from ecmwf_models_spark.operators import pointread
from ecmwf_models_spark.operators.pointread import TsReader, cell_id_for
from ecmwf_models_spark.operators.reshuffle import reshuffle, write_silver
from ecmwf_models_spark.operators.rollup import (
    rollup_cascade,
    rollup_from_raw,
)
from ecmwf_models_spark.plans import entry_queries as EQ
from ecmwf_models_spark.synth import gen_transcripts


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_reshuffle_is_single_shuffle(bronze):
    """Dedup (groupBy cell,conv,turn) must reuse the range partitioning:
    exactly ONE Exchange in the whole transpose plan."""
    plan = plan_of(reshuffle(bronze), "simple")
    assert plan.count("Exchange") == 1, plan


def test_rollup_chain_one_rollup_exchange(bronze):
    """The CLI chain rollup_from_raw -> rollup_cascade -> rollup_cascade
    over reshuffle: the transpose exchange plus ONE rollup exchange.
    rollup_from_raw's conv_id repartition clusters every later tier, and
    every tier stays on codegen'd HashAggregate with map-side partials."""
    silver = reshuffle(bronze)
    hourly = rollup_from_raw(silver, "hourly")
    daily = rollup_cascade(hourly, "daily")
    monthly = rollup_cascade(daily, "monthly")
    plan = plan_of(monthly, "simple")
    assert plan.count("Exchange") == 2, plan
    assert "partial_sum" in plan, plan  # map-side combine confirmed
    # the reshuffle's dedup is a SortAggregate; the rollup sits above
    # the conv_id exchange
    rollup = plan.split("hashpartitioning(conv_id")[0]
    assert rollup.count("HashAggregate") == 6, plan  # partial+final x 3
    assert "ObjectHashAggregate" not in rollup, plan
    assert "SortAggregate" not in rollup, plan


def test_reshuffle_one_file_per_cell(bronze, tmp_path):
    """AQE coalesces the transpose's adjacent ranges: each cell lands in
    one parquet file (the reference's one <cell>.nc per cell)."""
    path = tmp_path / "silver"
    write_silver(reshuffle(bronze, n_cells=16), str(path))
    cells = sorted(path.glob("cell_id=*"))
    assert len(cells) == 16
    for d in cells:
        assert len(list(d.glob("*.parquet"))) == 1, d


def test_reshuffle_honours_num_partitions(bronze):
    """An explicit num_partitions is planned as given."""
    plan = plan_of(reshuffle(bronze, num_partitions=8), "simple")
    assert re.search(r"rangepartitioning\(cell_id#\d+ ASC NULLS FIRST, "
                     r"conv_id#\d+ ASC NULLS FIRST, 8\)", plan), plan


def _row_group_span(meta, i: int) -> tuple[int, int]:
    """[start, end) of the column chunks of row group `i` in its file."""
    cols = [meta.row_group(i).column(j) for j in range(meta.num_columns)]
    starts = [
        c.dictionary_page_offset if c.has_dictionary_page else c.data_page_offset
        for c in cols
    ]
    return min(starts), max(s + c.total_compressed_size for s, c in zip(starts, cols))


def test_point_read_fetches_only_the_convs_row_groups(
    spark, tmp_path, monkeypatch
):
    """The ERATs.read analogue reads the conv's cell file on the driver:
    its footer, then only the row groups whose conv_id min/max can hold
    the conv. On a silver written with many small row groups per cell
    file, each read equals the Spark query and fetches fewer row groups
    and fewer bytes than the file holds, on the local source and through
    Hadoop. The local source widens each fetch to the 512-byte chunks of
    the file's .crc (it checks them), and no further: every fetch lies in
    the footer's tail read or in one of the row groups read."""
    path = str(tmp_path / "silver")
    bronze = gen_transcripts(spark, n_conv=400, days=4, turns_per_conv=12)
    (
        reshuffle(bronze, n_cells=2)
        .write.option("parquet.block.size", 4096)
        .partitionBy("cell_id")
        .parquet(path)
    )
    files = {}  # cell -> (bytes, footer metadata) of its one file
    for f in glob.glob(f"{path}/cell_id=*/*.parquet"):
        cell = int(f.split("cell_id=")[1].split("/")[0])
        files[cell] = (os.path.getsize(f), pq.ParquetFile(f).metadata)
    # files larger than the footer's 64 KiB tail read
    assert len(files) == 2 and all(
        b > 2**16 and m.num_row_groups > 10 for b, m in files.values()
    ), files

    fetched, fetches, groups = [], [], []

    class LocalCounting(lineage._LocalInput):
        def _fetch(self, start, end):
            at, block = super()._fetch(start, end)
            fetches.append((self._chunk, at, len(block)))
            return at, block

        def close(self):
            fetched.append(self.fetched)
            super().close()

    class HadoopCounting(lineage._HadoopInput):
        def close(self):
            fetched.append(self.fetched)
            super().close()

    def counted(meta, conv_id, select=pointread.conv_row_groups):
        groups.append(select(meta, conv_id))
        return groups[-1]

    monkeypatch.setattr(lineage, "_LocalInput", LocalCounting)
    monkeypatch.setattr(lineage, "_HadoopInput", HadoopCounting)
    monkeypatch.setattr(pointread, "conv_row_groups", counted)
    want = {}
    for i in range(0, 400, 37):
        conv = f"conv-{i:06d}"
        want[conv] = (
            spark.read.parquet(path)
            .where(F.col("conv_id") == conv)
            .orderBy("ts", "turn_idx")
            .toPandas()
            .set_index("ts")
        )
    for through in ("local", "hadoop"):
        if through == "hadoop":
            monkeypatch.setattr(lineage, "_local_path", lambda fs, p: None)
        r = TsReader(spark, path, n_cells=2)
        for conv, frame in want.items():
            fetched.clear()
            fetches.clear()
            pd.testing.assert_frame_equal(r.read(conv), frame)
            size, meta = files[cell_id_for(spark, conv, 2)]
            assert len(fetched) == 1 and fetched[0] < size, (conv, fetched, size)
            assert 0 < len(groups[-1]) < meta.num_row_groups, (conv, groups[-1])
            if through == "hadoop":
                continue
            tail = (size - max(2**16, meta.serialized_size + 8), size)
            spans = [tail] + [_row_group_span(meta, g) for g in groups[-1]]
            assert sum(n for _, _, n in fetches) == fetched[0]
            for chunk, at, n in fetches:
                assert chunk == 512 and at % chunk == 0, (conv, at, n)
                assert (at + n) % chunk == 0 or at + n == size, (conv, at, n)
                assert any(
                    lo - lo % chunk <= at and at + n <= hi - hi % -chunk
                    for lo, hi in spans
                ), (conv, at, n, spans)


def test_dimension_joins_broadcast(spark, sf_dir):
    """revenue_by_nation: both dim joins must be broadcast, never
    sort-merge (a sort-merge here would shuffle the fact table twice)."""
    plan = plan_of(EQ.q_revenue_by_nation(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semijoin_broadcast(spark, sf_dir):
    plan = plan_of(EQ.q_semijoin_active(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_scan_prunes_columns(spark, sf_dir):
    """tpch_q1 must not read l_comment/l_shipinstruct — ReadSchema is the
    projection, proving column pruning reached the parquet scan."""
    plan = plan_of(EQ.q_tpch_q1(spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema, read_schema
    assert "l_quantity" in read_schema, read_schema


def test_tpch_q1_pushes_date_filter(spark, sf_dir):
    plan = plan_of(EQ.q_tpch_q1(spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "l_shipdate" in pushed, plan


def test_pack_rides_reshuffle_partitioning(bronze):
    """codec.pack_cells groups by (cell_id, conv_id) — exactly the
    reshuffle's range keys, so FlatMapGroupsInPandas must insert NO new
    exchange (and no new sort: silver is already (cell, conv, ...)
    sorted). One shuffle for transpose + pack combined."""
    from ecmwf_models_spark import codec

    packed = codec.pack_cells(reshuffle(bronze))
    plan = plan_of(packed, "simple")
    assert plan.count("Exchange") == 1, plan


def test_bronze_sink_prunes_date_partitions(bronze, tmp_path):
    """S5 stack-splitting sink: bronze is date-partitioned (the YYYY/DOY
    image tree of reference extract.py:110-226), so a ts-range scan must
    prune day directories via PartitionFilters on ds."""
    path = str(tmp_path / "bronze_ds")
    spark = bronze.sparkSession
    bronze.withColumn("ds", F.to_date("ts")).write.mode(
        "overwrite"
    ).partitionBy("ds").parquet(path)
    df = spark.read.parquet(path).where(F.col("ds") == "2010-01-02")
    plan = plan_of(df)
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "ds" in pf, plan


def test_gapfill_reuses_conv_shuffle(bronze):
    """gap_fill: per-bucket agg, span agg, and the left join all key on
    conv_id... — the span branch must reuse the per-bucket aggregate's
    exchange rather than rescanning (ReusedExchange or <=3 exchanges
    total beyond the reshuffle one)."""
    from ecmwf_models_spark.operators.gapfill import gap_fill

    silver = reshuffle(bronze)
    plan = plan_of(gap_fill(silver), "simple")
    # reshuffle(1) + per_bucket agg(1) + spans agg(1) + join alignment(<=2)
    assert plan.count("Exchange") <= 5, plan


def test_ivf_assignment_is_shuffle_free(spark, sf_dir):
    """IVF cell assignment is a pure map over centroid literals (the
    with_lsh_bucket shape): ZERO exchanges — at 100 TB the assignment
    costs one scan, no join, no aggregation."""
    from ecmwf_models_spark.functions.similarity import (
        ivf_seed_centroids,
        with_ivf_cell,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = ivf_seed_centroids(emb, 8)
    plan = plan_of(with_ivf_cell(emb, cents), "simple")
    assert "Exchange" not in plan, plan


def test_rollup_tiers_single_exchange(bronze):
    """Production cascade (rollup_tiers): ONE exchange total for all three
    tiers. HashPartitioning(conv_id) from the single narrow repartition
    satisfies ClusteredDistribution(conv_id, date_trunc(...)) at every
    tier, so hourly->daily->monthly aggregate pipelined in one stage —
    the 100 TB shape (one raw-row shuffle instead of three wide-state
    ones). Also asserts the whole cascade stays on codegen'd
    HashAggregate (no ObjectHashAggregate / SortAggregate fallback)."""
    from ecmwf_models_spark.operators.rollup import rollup_tiers

    silver = reshuffle(bronze).localCheckpoint()  # isolate cascade plan
    monthly = rollup_tiers(silver)["monthly"]
    plan = plan_of(monthly, "simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") == 6, plan  # partial+final x 3
    assert "ObjectHashAggregate" not in plan, plan
    assert "SortAggregate" not in plan, plan


def test_cli_rollup_writes_rollup_tiers(bronze, tmp_path, monkeypatch):
    """`cli rollup` hands each tier writer rollup_tiers' frame over the
    silver's pending cells (all 16 for a fresh tiers dir, pruned by
    partition), so a tier subset still cascades through the in-flight
    lower tiers behind the one exchange; an unknown tier name exits
    before any write."""
    from ecmwf_models_spark import cli
    from ecmwf_models_spark.grid import with_cell_id
    from ecmwf_models_spark.lineage import (
        ResumableTierWriter,
        read_cells,
        write_run_settings,
    )
    from ecmwf_models_spark.operators.rollup import finalize, rollup_tiers

    spark = bronze.sparkSession
    path = str(tmp_path / "silver")
    write_silver(reshuffle(bronze, n_cells=16), path)
    write_run_settings(spark, f"{path}/_settings", {"n_cells": 16})
    written = {}

    def capture(self, df):
        written[self.tier] = df
        return 0

    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    monkeypatch.setattr(ResumableTierWriter, "run", capture)

    def rollup(tiers):
        cli.main(["rollup", "--silver", path, "--out",
                  str(tmp_path / "tiers"), "--tiers", tiers])

    rollup("daily")
    assert list(written) == ["daily"]
    pending = F.col("cell_id").isin(list(range(16)))
    # the silver as the command opens it (read_cells: 16 listed paths)
    want = rollup_tiers(read_cells(spark, path).where(pending))["daily"]
    want = with_cell_id(finalize(want), 16)
    got, want = (
        re.sub(r"#\d+|plan_id=\d+", "", plan_of(df, "simple"))
        for df in (written["daily"], want)
    )
    assert got == want, got
    assert got.count("Exchange") == 1, got
    assert "PartitionFilters: [cell_id INSET 0, 1, 10," in got, got
    written.clear()
    with pytest.raises(SystemExit):
        rollup("hourly,bogus")
    assert written == {}


def test_cli_rollup_refuses_silver_without_settings(
    bronze, tmp_path, monkeypatch
):
    """The cell grid belongs to the silver: without the n_cells that
    reshuffle records in <silver>/_settings, `cli rollup` exits before
    it writes any tier."""
    from ecmwf_models_spark import cli

    spark = bronze.sparkSession
    path = str(tmp_path / "silver")
    write_silver(reshuffle(bronze, n_cells=16), path)
    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    out = tmp_path / "tiers"
    with pytest.raises(SystemExit, match="n_cells"):
        cli.main(["rollup", "--silver", path, "--out", str(out)])
    assert not out.exists()
