"""Point reads: one conversation's series as a pandas DataFrame.

Reference: ERATs.read(lon, lat) -> nearest gpi -> gpi2cell -> open one
<cell>.nc -> one location's row across the time axis as pandas
(reference interface.py:675-720, README.rst:66-81, docs/ts_read.rst:15-34).
read_bulk caches the whole cell file (interface.py:705-711).

Spark-first, one Spark job per read:
  * routing (gpi2cell) is a driver-side call of the same Catalyst XXH64
    that `grid.cell_of` runs on the write path — no job;
  * the scan lists only <silver>/cell_id=<cell>, on every read, with the
    schema taken at open, so it is O(cell), never O(world), and a reader
    opened before `extend_silver` sees the extended cells; the conv_id
    filter is pushed into the parquet scan (row-group pruning);
  * the conv's rows (tens) are ordered on the driver by (ts, turn_idx) —
    a total order, since (conv_id, turn_idx) is unique in silver — so the
    plan has no Exchange and no Sort.
`offsets`/`scale_factors` (interface.py:694-714) map to an affine select.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..lineage import is_path_not_found, read_table_attrs, stored_n_cells

# seed of Spark's xxhash64 (XxHash64 in catalyst hash.scala)
_XXHASH64_SEED = 42


@functools.lru_cache(maxsize=1)
def _xxhash64_utf8(jvm):
    """(UTF8String.fromString, XXH64.hashUTF8String) of one JVM, resolved
    once: py4j resolves a dotted class name with one round trip per name
    part, ~10x the cost of the two calls themselves."""
    return (
        jvm.org.apache.spark.unsafe.types.UTF8String.fromString,
        jvm.org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String,
    )


def cell_id_for(spark: SparkSession, conv_id: str, n_cells: int) -> int:
    """Driver-side cell routing (gpi2cell), without a Spark job.

    Calls through py4j the Catalyst XXH64 function that `F.xxhash64` (and
    so `grid.cell_of` on the write path) evaluates, so the cell is
    bit-identical to the one the row was written to. Python's `%` with a
    positive modulus is Spark's `pmod`."""
    from_string, hash_utf8 = _xxhash64_utf8(spark.sparkContext._jvm)
    return hash_utf8(from_string(conv_id), _XXHASH64_SEED) % n_cells


class TsReader:
    """ERATs analogue over the cell-partitioned silver table.

    n_cells=None takes the grid from <silver>/_settings, as extend_silver
    does, and raises ValueError when the silver records none: a reader
    routing with another grid than the write's would return empty frames
    for most convs."""

    def __init__(
        self,
        spark: SparkSession,
        silver_path: str,
        n_cells: int | None = None,
        read_bulk: bool = False,
        parameters: list[str] | None = None,
        offsets: dict[str, float] | None = None,
        scale_factors: dict[str, float] | None = None,
    ):
        self.spark = spark
        self.silver_path = silver_path
        self.n_cells = (
            stored_n_cells(spark, silver_path) if n_cells is None else n_cells
        )
        # table schema (cell_id included, as a partition column); each read
        # scans one cell directory with it, so no read infers a schema
        self.schema = spark.read.parquet(silver_path).schema
        # per-variable attrs written by write_silver / the tier writer —
        # the reference reads these back onto the returned dataset
        # (interface.py:185; GriddedNcOrthoMultiTs variable attrs)
        self.attrs = read_table_attrs(spark, f"{silver_path}/_meta")
        self.read_bulk = read_bulk
        self.parameters = parameters
        self.offsets = offsets or {}
        self.scale_factors = scale_factors or {}
        self._cell_cache: dict[int, DataFrame] = {}

    def _cell_df(self, cell: int) -> DataFrame:
        """One cell directory, listed now. A cell with no directory yet
        holds no conv: an empty frame with the table's columns."""
        if cell in self._cell_cache:
            return self._cell_cache[cell]
        try:
            df = (
                self.spark.read.schema(self.schema)
                .option("basePath", self.silver_path)
                .parquet(f"{self.silver_path}/cell_id={cell}")
            )
        except AnalysisException as e:
            if not is_path_not_found(e):
                raise
            return self.spark.createDataFrame([], self.schema)
        if self.read_bulk:
            df = self._cell_cache[cell] = df.cache()
        return df

    def query(self, conv_id: str) -> DataFrame:
        """The Spark plan `read` collects: one conv's rows of its cell,
        projected and rescaled, unordered."""
        df = self._cell_df(cell_id_for(self.spark, conv_id, self.n_cells))
        df = df.where(F.col("conv_id") == conv_id)
        cols = self.parameters
        if cols:
            # turn_idx rides along for the driver-side order
            extra = [] if "turn_idx" in cols else ["turn_idx"]
            df = df.select("ts", *cols, *extra)
        for c, sf in self.scale_factors.items():
            df = df.withColumn(c, F.col(c) * F.lit(sf))
        for c, off in self.offsets.items():
            df = df.withColumn(c, F.col(c) + F.lit(off))
        return df

    def read(self, conv_id: str) -> pd.DataFrame:
        # Spark's ascending order puts nulls first
        pdf = self.query(conv_id).toPandas().sort_values(
            ["ts", "turn_idx"], kind="stable", na_position="first"
        )
        if self.parameters and "turn_idx" not in self.parameters:
            pdf = pdf.drop(columns="turn_idx")
        pdf = pdf.set_index("ts")
        # pandas-native attrs carry: units/long_name per variable
        pdf.attrs["var_attrs"] = {
            c: self.attrs[c] for c in pdf.columns if c in self.attrs
        }
        return pdf

    def close(self):
        for df in self._cell_cache.values():
            df.unpersist()
        self._cell_cache.clear()
