"""THE central operation: time-major -> location-major transpose.

Reference: Img2Ts buffers image reads, transposes [time, location] blocks
per 5-degree cell, and appends to per-cell OrthoMultiTs netCDF files
(call-site era5/reshuffle.py:233-249; sortedness asserted in
tests/tests_era5/test_era5_reshuffle.py:100-103,125-128,143-146).

Spark-first: the whole transpose is ONE wide shuffle —

    bronze --dedup--> metrics --cell_id-->
      repartitionByRange(cell_id, conv_id)
      .sortWithinPartitions(conv_id, ts, turn_idx)
      .write.partitionBy(cell_id)

Range partitioning on (cell_id, conv_id) keeps every cell contiguous
(partition pruning at read ≙ gpi2cell file routing) and every conversation
clustered inside its cell; the within-partition sort gives the reference's
on-disk ordering invariant for free in the parquet row groups. The range
count is an upper bound that AQE coalesces: merging ADJACENT ranges keeps
cells contiguous, so 18.7k turns over 16 cells at 32 ranges write 16 files
(one <cell>.nc each, as the reference), not 45. At 100 TB
this is a single full shuffle — unavoidable (it IS the transpose) — and the
only one in the pipeline; AQE handles skewed cells, and a salt column can
split a pathologically hot conv across tasks before the final per-cell
merge (see codec.pack which re-merges ordered runs).

Derived float metrics are computed here once, cast to float at the edge
(the reference's float32 storage contract, era5/reshuffle.py:240).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..grid import DEFAULT_N_CELLS, with_cell_id
from .bucket import with_ts_bucket

SILVER_COLS = [
    "cell_id",
    "conv_id",
    "turn_idx",
    "role",
    "text",
    "tool",
    "ts",
    "ts_bucket",
    "text_len",
    "tool_call",
]


def derive_metrics(df: DataFrame) -> DataFrame:
    """Numeric per-turn metrics for the rollup tiers. float32 contract:
    metrics are FloatType like the reference's ts_dtypes=float32."""
    return df.withColumn(
        "text_len", F.length("text").cast("float")
    ).withColumn(
        "tool_call", F.col("tool").isNotNull().cast("float")
    )


def reshuffle(
    bronze: DataFrame,
    n_cells: int = DEFAULT_N_CELLS,
    num_partitions: int | None = None,
    salt_segment_hours: int | None = None,
) -> DataFrame:
    """Logical plan for the transpose; caller writes it (write_silver).

    SINGLE-SHUFFLE design. A window dedup would hash-shuffle on
    (conv_id, turn_idx) and the transpose would range-shuffle again — two
    full passes over the data. Instead:

      1. repartitionByRange(cell_id, conv_id)  — THE transpose shuffle.
         Range (not hash-by-cell) so a hot cell/conv still splits across
         tasks by conv ranges and parallelism isn't capped at n_cells.
         An explicit num_partitions is planned as given; None leaves
         spark.sql.shuffle.partitions as the bound AQE coalesces.
      2. dedup as secondary sort + streaming first-aggregate:
         sortWithinPartitions(cell, conv, turn_idx, is_prelim ASC,
         ingest_ts DESC, payload-hash) puts the winning duplicate first
         within each (cell, conv, turn_idx) key, then
         groupBy(key).agg(first(payload)) runs as a SortAggregate that
         STREAMS over the already-sorted input: the required
         ClusteredDistribution is satisfied by the range partitioning
         (no second exchange) and the required key ordering by our sort
         (no second sort). This beats max_by(struct, pref) ~4x: max_by is
         a TypedImperativeAggregate (ObjectHashAggregate path, per-key
         object buffers); first() over sorted input is a zero-state
         streaming pick. Semantics are identical to
         operators.dedup.latest_final_wins (final-over-preliminary, then
         latest ingest); the payload-hash tiebreak makes the winner
         deterministic even for exact metadata ties, so output is
         byte-stable at any parallelism (the O1/bench invariant).
      3. final sortWithinPartitions leading with cell_id: establishes the
         (conv_id, ts) on-disk ordering invariant, and FileFormatWriter
         (which requires output sorted by the partitionBy column) then
         inserts no sort of its own.

    Net: one wide exchange + two in-partition sorts (dedup order, output
    order) — everything streams, no per-key aggregation state.

    HOT-CONV SALTING (north-rule skew handling). A conversation with more
    turns than fit one task would bottleneck (or OOM) its range
    partition. With salt_segment_hours set, the range keys become
    (cell_id, conv_id, seg) where seg = floor(epoch(ts) / segment) — the
    ts-bucket salt: a hot conv splits into contiguous TIME SEGMENTS
    across tasks. Because the salt is ordered (not hashed), range
    partition boundaries still respect (cell, conv, ts) order, so the
    per-cell file sequence remains globally sorted (O1) and downstream
    per-cell packing (codec.pack_cells) re-merges segments trivially.
    Dedup stays correct because duplicate/revised turns share their ts
    (the reference's ERA5 vs ERA5-T duplicates are two files for the
    SAME timestamp, interface.py:289-296) and hence the same segment;
    the group key gains seg so the aggregate still rides the range
    partitioning with no extra exchange.
    """
    df = with_cell_id(bronze, n_cells)
    salt = []
    if salt_segment_hours:
        df = df.withColumn(
            "_seg",
            F.floor(F.unix_timestamp("ts") / (salt_segment_hours * 3600)),
        )
        salt = ["_seg"]
    keys = ("cell_id", "conv_id", *salt)
    ranged = (
        df.repartitionByRange(num_partitions, *keys)
        if num_partitions
        else df.repartitionByRange(*keys)
    )

    payload = [c for c in bronze.columns if c not in
               ("conv_id", "turn_idx", "is_prelim", "ingest_ts")]
    # sort keys must lead with the EXACT group-key prefix (incl. salt) or
    # the SortAggregate injects its own unstable sort and the winner-first
    # order is lost
    winner_first = ranged.sortWithinPartitions(
        "cell_id",
        "conv_id",
        *salt,
        "turn_idx",
        F.coalesce(F.col("is_prelim"), F.lit(False)).asc(),
        F.coalesce(F.col("ingest_ts"), F.col("ts")).desc(),
        F.xxhash64(*payload),
    )
    flat = winner_first.groupBy(
        "cell_id", "conv_id", *salt, "turn_idx"
    ).agg(*[F.first(c).alias(c) for c in payload])
    out = with_ts_bucket(derive_metrics(flat))
    out = out.select(*[c for c in SILVER_COLS if c in out.columns])
    return out.sortWithinPartitions("cell_id", "conv_id", "ts", "turn_idx")


def write_silver(
    silver: DataFrame, path: str, attrs: dict | None = None
) -> None:
    """Cell-partitioned write — one directory per cell ≙ one <cell>.nc file
    (reference tests/tests_era5/test_era5_reshuffle.py:99: '1431.nc').
    Per-variable attrs (units/long_name from the LUT, or caller-supplied)
    ride along in a <path>/_meta sidecar, the reference's
    variable-attribute propagation (interface.py:185,496-502)."""
    silver.write.mode("overwrite").partitionBy("cell_id").parquet(path)
    from ..functions.lut import attrs_for
    from ..lineage import write_table_attrs

    write_table_attrs(
        silver.sparkSession,
        f"{path}/_meta",
        attrs if attrs is not None else attrs_for(silver.columns),
    )

