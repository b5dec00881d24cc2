"""Incremental extend — the reference's `era5 update_ts` / extend_ts
(reference era5/reshuffle.py:254-308; CLI cli.py:428-473; golden test
tests/tests_era5/test_era5_reshuffle.py:81-105: appending the previous
day's 12:00 image merges into existing series in time order).

Semantics preserved here:
  * next start defaults to the stored end (+1 step) — derived from the
    silver table itself (agg max(ts)), the overview.yml role;
  * appended rows MERGE into existing per-conv series keeping the
    (conv_id, ts) ordering invariant (the CHANGELOG.rst:9-12 regression);
  * only AFFECTED cells are rewritten — at 100 TB a daily extend touches
    a handful of cell partitions, never the full table: we compute the
    affected (cell_id) set from the new batch and dynamically overwrite
    just those partitions. The rewrite gives those cells a new generation
    (lineage.cell_generations), so the next `rollup` re-rolls exactly
    these tier cells (lineage.ResumableTierWriter) and no other.
"""

from __future__ import annotations

from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, functions as F

from .grid import with_cell_id
from .lineage import (
    cell_paths,
    commit_sources,
    consumed_sources,
    data_files,
    read_cells,
    read_listed,
    stored_n_cells,
)
from .operators.reshuffle import reshuffle

# synth.py's bronze columns
BRONZE_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string,"
    " ts timestamp, is_prelim boolean, ingest_ts timestamp"
)


def stored_end(spark: SparkSession, silver_path: str):
    """Last stored timestamp — the `overview.yml` enddate analogue."""
    return spark.read.parquet(silver_path).agg(F.max("ts")).first()[0]


def extend_silver(
    spark: SparkSession,
    silver_path: str,
    new_bronze: DataFrame,
    n_cells: int | None = None,
) -> list[int]:
    """Merge a new bronze batch into the silver table.

    Re-reshuffles ONLY the cells touched by the batch: existing rows of
    those cells are unioned with the new rows, and `reshuffle`
    de-duplicates them (latest-final-wins upsert on (conv_id, turn_idx) —
    the ERA5-T revision policy as upsert; the rule and its tie-breaks are
    the full recompute's), re-sorts them, and the cell partitions are
    dynamically overwritten. Returns the affected cell ids.

    Run-kwargs contract (reference era5/reshuffle.py:280-295: extend_ts
    reads its parameters from overview.yml, explicit kwargs win): with
    n_cells=None the value persisted at reshuffle time
    (<silver>/_settings) is used, so callers cannot accidentally extend
    with a mismatched cell grid; passing n_cells explicitly overrides.
    A silver that records no n_cells raises ValueError: its grid is not
    guessed.
    """
    if n_cells is None:
        n_cells = stored_n_cells(spark, silver_path)
    # a turn's cell depends only on its conv_id, so the batch's cells
    # need no transpose (no range sample, no shuffle of the batch)
    affected = [
        r[0]
        for r in with_cell_id(new_bronze, n_cells)
        .select("cell_id")
        .distinct()
        .collect()
    ]
    if not affected:
        return []

    # the new rows, and the stored rows of the affected cells that have a
    # directory: read with the footer's schema from a driver listing, so
    # no job infers a schema or lists cells, at any cell count. Stored
    # rows come back bronze-shaped (silver keeps every bronze column but
    # the prelim metadata, which dedup already resolved).
    merged = new_bronze.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "is_prelim", "ingest_ts",
    )
    have = cell_paths(spark, silver_path)
    stored = [have[c] for c in affected if c in have]
    if stored:
        existing = read_cells(spark, silver_path, stored)
        merged = existing.select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts"
        ).withColumns(
            {"is_prelim": F.lit(False), "ingest_ts": F.col("ts")}
        ).unionByName(merged)
    resorted = reshuffle(merged, n_cells=n_cells)
    (
        resorted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell_id")
        .parquet(silver_path)
    )
    return affected


def update_silver(
    spark: SparkSession, bronze_dir: str, silver_path: str
) -> list[int]:
    """One `update-img` pass (reference update_images, era5/download.py:
    511-557): upsert the bronze files <silver>/_sources does not record
    with one extend_silver, then record them. A file is new by name, not
    by age. A crash before the record replays the files, harmless under
    the latest-final-wins upsert. Returns the cells extended."""
    done = consumed_sources(spark, silver_path)
    new = [f for f in data_files(spark, bronze_dir) if f not in done]
    if not new:
        return []
    # a URI escapes what a Hadoop path string holds literally (a space)
    paths = [unquote(f) for f in new]
    bronze = read_listed(spark, BRONZE_SCHEMA, paths, bronze_dir)
    cells = extend_silver(spark, silver_path, bronze)
    commit_sources(spark, silver_path, new)
    return sorted(cells)
