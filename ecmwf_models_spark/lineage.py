"""Lineage / checkpoint table + resumable tier writer.

The reference records provenance and the exact kwargs of each run in
overview.yml (update_image_summary_file, reference utils.py:365-409;
ts-side call era5/reshuffle.py:251), which is what makes extend/update
idempotent (reshuffle.py:280-295). Here that generalizes to a per-partition
lineage table:

    (job_id, tier, cell_id, snapshot_id, row_count, checksum,
     status, committed_at)

and a writer protocol that makes retention-tier materialization resumable
MID-TIER: every cell directory is written atomically (task temp + rename is
Spark's own commit protocol at partition-dir grain via dynamic partition
overwrite), then the cell's lineage row is appended. On rerun, committed
cells are skipped (their ids filter the input) — exactly-once at cell
grain without a transactional table format (SURVEY 7 plan B).

Checksums are order-insensitive (sum of xxhash64 over rows) so they are
stable under any task placement/parallelism.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("tier", T.StringType()),
        T.StructField("cell_id", T.IntegerType()),
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("committed_at", T.DoubleType()),
    ]
)


def is_path_not_found(e: AnalysisException) -> bool:
    """True only for Spark's PATH_NOT_FOUND condition. Callers that want
    'absent table == empty' must use this rather than catching every
    AnalysisException — a corrupt/unreadable table must surface, not be
    reported as a successful no-op."""
    get_cls = getattr(
        e, "getCondition", getattr(e, "getErrorClass", lambda: None)
    )
    return (get_cls() or "") == "PATH_NOT_FOUND" or "PATH_NOT_FOUND" in str(e)


def _read_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """Attempt the read; map PATH_NOT_FOUND to an empty frame. Existence is
    decided by Spark's own filesystem resolution (works for HDFS/S3/local
    alike) — os.path.exists is local-FS-only and would silently treat a
    remote table as absent, re-deriving defaults the persisted run-kwargs
    contract exists to prevent."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        # ONLY absence maps to empty; any other analysis failure (broken
        # permissions, conflicting metadata) must surface, or callers
        # would silently re-derive defaults — the exact failure the
        # persisted run-kwargs contract exists to prevent
        if is_path_not_found(e):
            return spark.createDataFrame([], schema)
        raise


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    return _read_or_empty(spark, path, LINEAGE_SCHEMA)


def committed_cells(spark: SparkSession, path: str, tier: str) -> list[int]:
    rows = (
        read_lineage(spark, path)
        .where((F.col("tier") == tier) & (F.col("status") == "committed"))
        .select("cell_id")
        .distinct()
        .collect()
    )  # bounded: one row per committed cell
    return [r[0] for r in rows]


def cell_stats(df: DataFrame) -> DataFrame:
    """Per-cell (row_count, order-insensitive checksum) over all columns.
    bit_xor of row hashes: commutative (placement-independent) and can't
    overflow under ANSI mode. Columns are hashed in sorted-name order so
    the checksum is invariant to plan-dependent column reordering (joins
    move the join key to the front)."""
    cols = sorted(df.columns)
    return df.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("checksum"),
    )


SETTINGS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("job_id", T.StringType()),
        T.StructField("committed_at", T.DoubleType()),
    ]
)


def write_run_settings(
    spark: SparkSession, path: str, settings: dict, job_id: str | None = None
) -> None:
    """Persist the run kwargs next to the table they produced — the
    overview.yml parameter block (reference utils.py:365-409; consumed by
    extend_ts so a later `update_ts` needs no re-supplied parameters,
    era5/reshuffle.py:280-295). Underscore-prefixed dir, so Spark scans
    of the data ignore it. Append-only; latest committed_at wins."""
    job_id = job_id or uuid.uuid4().hex[:12]
    now = time.time()
    rows = [(k, str(v), job_id, now) for k, v in settings.items() if v is not None]
    spark.createDataFrame(rows, SETTINGS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def read_run_settings(spark: SparkSession, path: str) -> dict:
    """Latest persisted value per key (as strings; callers cast)."""
    df = _read_or_empty(spark, path, SETTINGS_SCHEMA)
    rows = (
        df.groupBy("key")
        .agg(F.max_by("value", "committed_at").alias("value"))
        .collect()
    )  # bounded: a handful of kwargs
    return {r["key"]: r["value"] for r in rows}


ATTRS_SCHEMA = T.StructType(
    [
        T.StructField("var", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("committed_at", T.DoubleType()),
    ]
)


def write_table_attrs(
    spark: SparkSession, path: str, attrs: dict[str, dict[str, str]]
) -> None:
    """Persist per-variable attrs (units, long_name, ...) next to the
    table — the reference carries these dicts from source to every output
    file (interface.py:185,496-502; era5/reshuffle.py:206-207 hands them
    to Img2Ts). Underscore-prefixed dir so data scans skip it;
    append-only, latest committed_at wins (same protocol as _settings)."""
    now = time.time()
    rows = [
        (var, k, str(v), now)
        for var, kv in attrs.items()
        for k, v in kv.items()
    ]
    if not rows:
        return
    spark.createDataFrame(rows, ATTRS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def read_table_attrs(spark: SparkSession, path: str) -> dict[str, dict[str, str]]:
    """Latest attrs per (var, key); {} when no sidecar exists."""
    df = _read_or_empty(spark, path, ATTRS_SCHEMA)
    rows = (
        df.groupBy("var", "key")
        .agg(F.max_by("value", "committed_at").alias("value"))
        .collect()
    )  # bounded: a few attrs per variable
    out: dict[str, dict[str, str]] = {}
    for r in rows:
        out.setdefault(r["var"], {})[r["key"]] = r["value"]
    return out


class ResumableTierWriter:
    """Write a cell-partitioned tier with per-cell lineage + resume.

    Usage:
        w = ResumableTierWriter(spark, out_dir, lineage_dir, tier="daily")
        w.run(df_with_cell_id)          # writes only uncommitted cells

    run() evaluates its input twice: cell_stats of the pending cells
    (which cells, and each one's lineage row), then the write. It does
    not persist: on the three CLI tiers (18k turns, 16 cells, local[4])
    a MEMORY_AND_DISK persist cost 28-30 CPU-s, against 9.6 s for three
    unpersisted passes and 8.4 s for these two.
    """

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        lineage_dir: str,
        tier: str,
        snapshot_id: str = "",
        job_id: str | None = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.lineage_dir = lineage_dir
        self.tier = tier
        self.snapshot_id = snapshot_id
        self.job_id = job_id or uuid.uuid4().hex[:12]

    def run(self, df: DataFrame, fail_after_cells: int | None = None) -> int:
        """Materialize uncommitted cells; returns number of cells written.

        fail_after_cells simulates a mid-tier crash for the resume test: it
        restricts this run to the first k pending cells (written AND
        committed), then raises — the next run() must complete the rest and
        produce a byte-identical tier.
        """
        done = committed_cells(self.spark, self.lineage_dir, self.tier)
        pend = df.where(~F.col("cell_id").isin(done)) if done else df
        stats = sorted(cell_stats(pend).collect(), key=lambda r: r["cell_id"])
        if not stats:
            return 0
        crash = fail_after_cells is not None and fail_after_cells < len(stats)
        todo = stats[:fail_after_cells] if crash else stats
        if crash:
            pend = pend.where(F.col("cell_id").isin([r[0] for r in todo]))
        # dynamic partition overwrite: each cell dir replaced atomically,
        # untouched cells preserved — write-temp-then-rename at cell grain.
        (
            pend.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell_id")
            .parquet(self.out_dir)
        )
        now = time.time()
        rows = [
            (
                self.job_id,
                self.tier,
                int(r["cell_id"]),
                self.snapshot_id,
                int(r["row_count"]),
                int(r["checksum"]),
                "committed",
                now,
            )
            for r in todo
        ]
        self.spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.lineage_dir)
        # propagate per-variable attrs into the tier (latest-wins append;
        # a resumed run re-appending identical rows is harmless)
        from .functions.lut import attrs_for

        write_table_attrs(
            self.spark, f"{self.out_dir}/_meta", attrs_for(df.columns)
        )
        if crash:
            raise RuntimeError(
                f"simulated crash after {len(todo)} of {len(stats)} cells"
            )
        return len(todo)

    def verify(self, df: DataFrame) -> bool:
        """Recompute per-cell stats from the written tier and compare to the
        lineage table (write-audit)."""
        written = self.spark.read.parquet(self.out_dir)
        # align column order with what run() hashed
        written = written.select(*df.columns)
        actual = cell_stats(written)
        expected = read_lineage(self.spark, self.lineage_dir).where(
            (F.col("tier") == self.tier) & (F.col("status") == "committed")
        )
        bad = (
            actual.join(expected, "cell_id")
            .where(
                (actual["row_count"] != expected["row_count"])
                | (actual["checksum"] != expected["checksum"])
            )
            .count()
        )
        return bad == 0
