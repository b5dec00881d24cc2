"""Point reads: one conversation's series as a pandas DataFrame.

Reference: ERATs.read(lon, lat) -> nearest gpi -> gpi2cell -> open one
<cell>.nc -> one location's row across the time axis as pandas
(reference interface.py:675-720, README.rst:66-81, docs/ts_read.rst:15-34).
read_bulk caches the whole cell file (interface.py:705-711).

A driver read, as the reference opens one file locally — no Spark job:
  * routing (gpi2cell) is a driver-side call of the same Catalyst XXH64
    that `grid.cell_of` runs on the write path;
  * <silver>/cell_id=<cell> is listed at every read, through the Hadoop
    FileSystem Spark resolves the path with, so a reader opened before
    `extend_silver` sees the extended cells;
  * of each part file, the footer is fetched first, then only the row
    groups whose conv_id min/max can hold the conv: a cell file is sorted
    by conv_id, so that is the conv's row groups, not the cell; pyarrow
    filters them to the conv;
  * the rows convert to pandas by Spark's own Arrow-to-pandas path and
    are ordered by (ts, turn_idx) — a total order, since (conv_id, turn_idx)
    is unique in silver.
Opening a reader takes the table's schema from one part file's footer
(`lineage.table_schema`), so it launches no job either.
`offsets`/`scale_factors` (interface.py:694-714) map to an affine select.
"""

from __future__ import annotations

import functools

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession, types as T
from pyspark.sql.pandas.types import _create_converter_to_pandas, to_arrow_schema

from ..lineage import (
    _fs_path,
    generation,
    parquet_file,
    part_files,
    read_table_attrs,
    stored_n_cells,
    table_schema,
)

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


def conv_row_groups(meta, conv_id: str) -> list[int]:
    """The row groups of a parquet file whose conv_id min/max can hold
    `conv_id`; a row group without statistics is kept. Python's str order
    is parquet's unsigned byte order of UTF-8."""
    j = meta.schema.names.index("conv_id")
    out = []
    for i in range(meta.num_row_groups):
        st = meta.row_group(i).column(j).statistics
        if st is None or not st.has_min_max or st.min <= conv_id <= st.max:
            out.append(i)
    return out


def _to_pandas(table: pa.Table, schema: T.StructType, timezone: str):
    """Spark's Arrow-to-pandas conversion of a collected DataFrame
    (pyspark.sql.pandas.conversion), over a table read on the driver: the
    same Arrow options, then Spark's converter per field (timestamps naive
    in the session zone)."""
    if table.num_rows:
        pdf = table.to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
    else:
        pdf = pd.DataFrame(columns=schema.names)
    return pd.concat(
        [
            _create_converter_to_pandas(
                f.dataType,
                f.nullable,
                timezone=timezone,
                struct_in_pandas="dict",
                error_on_duplicated_field_names=False,
            )(ser)
            for (_, ser), f in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


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
        # the table's schema (cell_id included, as a partition column)
        self.schema = table_schema(spark, silver_path)
        # per-variable attrs written by write_silver / the tier writer —
        # the reference reads these back onto the returned dataset
        # (interface.py:185; GriddedNcOrthoMultiTs variable attrs)
        self.attrs = read_table_attrs(spark, f"{silver_path}/_meta")
        self.read_bulk = read_bulk
        self.parameters = parameters
        self.offsets = offsets or {}
        self.scale_factors = scale_factors or {}
        cols = self.schema.names
        if parameters:
            # turn_idx rides along for the order
            extra = [] if "turn_idx" in parameters else ["turn_idx"]
            cols = ["ts", *parameters, *extra]
        # the columns read returns before rescaling, and those it reads
        # from the files (cell_id is the directory; conv_id the filter)
        self._out = T.StructType([self.schema[c] for c in cols])
        file_cols = [c for c in cols if c != "cell_id"]
        file_cols += [] if "conv_id" in file_cols else ["conv_id"]
        self._file_schema = to_arrow_schema(
            T.StructType([self.schema[c] for c in file_cols])
        )
        # read_bulk: cell -> (generation, the cell's rows)
        self._cell_cache: dict[int, tuple[str, pa.Table]] = {}

    def _fetch(self, fs, files, conv_id: str | None) -> pa.Table:
        """The rows of `files` in the row groups that can hold `conv_id`
        (all of them for None), in the file columns."""
        tables = [self._file_schema.empty_table()]
        for st in files:
            with parquet_file(fs, st) as pf:
                rgs = (
                    range(pf.num_row_groups)
                    if conv_id is None
                    else conv_row_groups(pf.metadata, conv_id)
                )
                t = pf.read_row_groups(
                    rgs, columns=self._file_schema.names, use_threads=False
                )
            tables.append(t.cast(self._file_schema))
        return pa.concat_tables(tables)

    def _cell_rows(self, cell: int, conv_id: str) -> pa.Table:
        """The conv's rows of cell directory `cell`, listed now. A cell with
        no directory yet holds no conv."""
        fs, d = _fs_path(self.spark, f"{self.silver_path}/cell_id={cell}")
        files = part_files(fs, d)
        if self.read_bulk:
            gen = generation(st.getPath().getName() for st in files)
            cached = self._cell_cache.get(cell)
            if cached is None or cached[0] != gen:
                cached = (gen, self._fetch(fs, files, None))
                self._cell_cache[cell] = cached
            rows = cached[1]
        else:
            rows = self._fetch(fs, files, conv_id)
        rows = rows.filter(pc.equal(rows["conv_id"], conv_id))
        return rows.append_column(
            "cell_id", pa.array([cell] * rows.num_rows, pa.int32())
        )

    def read(self, conv_id: str) -> pd.DataFrame:
        cell = cell_id_for(self.spark, conv_id, self.n_cells)
        pdf = _to_pandas(
            self._cell_rows(cell, conv_id).select(self._out.names),
            self._out,
            self.spark.conf.get("spark.sql.session.timeZone"),
        )
        # Spark's float * double is a double
        for c, sf in self.scale_factors.items():
            pdf[c] = pdf[c].astype("float64") * sf
        for c, off in self.offsets.items():
            pdf[c] = pdf[c].astype("float64") + off
        # Spark's ascending order puts nulls first
        pdf = pdf.sort_values(
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
        self._cell_cache.clear()
