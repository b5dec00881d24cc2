"""Structured Streaming ingest — the streaming form of the reference's
incremental append (update_img/update_ts, reference
era5/download.py:511-557, era5/reshuffle.py:254-308).

The reference polls for new files and extends; Structured Streaming's file
source with Trigger.AvailableNow is exactly that contract (process all new
files since the checkpoint, then stop), with the checkpoint directory
playing overview.yml. Streaming is used for file discovery and the
checkpoint only: each pass's single micro-batch is upserted into the
silver by incremental.extend_silver (latest-final-wins on (conv_id,
turn_idx)), so a replayed batch is harmless, and late or revised turns
land in their cell whatever their ts (reference I4). The tiers are then
re-rolled from the changed silver cells (cli rollup_silver), so there is
one hourly aggregate: operators/rollup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..incremental import extend_silver

BRONZE_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
        StructField("is_prelim", BooleanType()),
        StructField("ingest_ts", TimestampType()),
    ]
)


def stream_bronze(spark: SparkSession, input_dir: str) -> DataFrame:
    """The bronze file stream. No maxFilesPerTrigger: an availableNow pass
    takes every new file in one micro-batch, so each touched silver cell
    is rewritten once per pass, not once per batch of files."""
    return spark.readStream.schema(BRONZE_SCHEMA).parquet(input_dir)


def run_available_now(
    spark: SparkSession,
    input_dir: str,
    silver_path: str,
    checkpoint_dir: str,
) -> list[int]:
    """One availableNow pass: upsert every file not yet in the checkpoint
    into the silver at `silver_path`, then stop — the update_ts contract.
    Rerunning after new files land processes only the delta
    (resume-from-checkpoint). Returns the silver cells extended."""
    cells: set[int] = set()

    def upsert(batch: DataFrame, _batch_id: int) -> None:
        cells.update(extend_silver(batch.sparkSession, silver_path, batch))

    q = (
        stream_bronze(spark, input_dir)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(cells)
