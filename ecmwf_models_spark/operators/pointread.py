"""Point reads: one conversation's series as a pandas DataFrame.

Reference: ERATs.read(lon, lat) -> nearest gpi -> gpi2cell -> open one
<cell>.nc -> one location's row across the time axis as pandas
(reference interface.py:675-720, README.rst:66-81, docs/ts_read.rst:15-34).
read_bulk caches the whole cell file (interface.py:705-711).

A driver read, as the reference opens one file locally — no Spark job:
  * routing (gpi2cell) is one py4j call of the same Catalyst XXH64 that
    `grid.cell_of` runs on the write path;
  * <silver>/cell_id=<cell> is listed at every read, so a reader opened
    before `extend_silver` sees the extended cells; a cell with no
    directory holds no conv;
  * of each part file, the footer is fetched first, then only the row
    groups whose conv_id min/max can hold the conv: a cell file is sorted
    by conv_id, so that is the conv's row groups, not the cell; pyarrow
    filters them to the conv;
  * listings and fetches go through the byte source `lineage._source`
    picks when the reader opens. On a local silver the driver lists with
    os.scandir and reads with os.pread, each range widened to the chunks
    of the file's Hadoop `.crc` and checked against it (a mismatch raises
    lineage.ChecksumError), so a read sends two py4j calls: the routing
    and the session zone lookup. On any other store (HDFS, S3A, ...) it
    lists and fetches through the Hadoop FileSystem over py4j. Writes of
    the silver stay on Hadoop, which writes the .crc files;
  * the rows are ordered by (ts, turn_idx) in Arrow — a total order, since
    (conv_id, turn_idx) is unique in silver — then rescaled, their
    timestamps made naive in the session zone (read at every read), and
    converted by one Table.to_pandas with the options toPandas() uses.
    Spark's own converter runs only on the column types whose Arrow
    conversion differs from toPandas()'s, decided when the reader opens,
    so the frame is the Spark query's, dtypes included.
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
    _source,
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
def _xxhash64(jvm):
    """(a Catalyst XXH64 hasher with Spark's seed, Platform.BYTE_ARRAY_OFFSET)
    of one JVM, made once: py4j resolves a dotted class name with one round
    trip per name part, ~10x the cost of the call itself."""
    return (
        jvm.org.apache.spark.sql.catalyst.expressions.XXH64(_XXHASH64_SEED),
        jvm.org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
    )


def cell_id_for(spark: SparkSession, conv_id: str, n_cells: int) -> int:
    """Driver-side cell routing (gpi2cell), without a Spark job.

    Calls through py4j the Catalyst XXH64 function that `F.xxhash64` (and
    so `grid.cell_of` on the write path) evaluates on a string, over the
    same UTF-8 bytes, so the cell is bit-identical to the one the row was
    written to: one py4j call, the bytes sent as a Java byte[]. Python's
    `%` with a positive modulus is Spark's `pmod`."""
    hasher, offset = _xxhash64(spark.sparkContext._jvm)
    data = conv_id.encode("utf-8")
    return hasher.hashUnsafeBytes(data, offset, len(data)) % n_cells


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


# field types whose Table.to_pandas column (Spark's Arrow options) is
# the column Spark's converter returns: numpy int/float dtypes (float64
# for an int column with nulls), bool (object with nulls), and objects
# Spark's converter passes through
_ARROW_AS_SPARK = (
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
    T.BinaryType,
    T.DateType,
    T.DecimalType,
)

# Spark's ascending order: nulls first, here on each key
_ORDER = dict(
    sort_keys=[("ts", "ascending"), ("turn_idx", "ascending")],
    null_placement="at_start",
)

_TZ_KEY = "spark.sql.session.timeZone"


@functools.lru_cache(maxsize=64)
def _arrow_knows(zone: str) -> bool:
    """Whether Arrow's time zone database has `zone`: it lacks the fixed
    offsets (+08:00) Spark and pandas take."""
    try:
        pc.local_timestamp(pa.array([0], pa.timestamp("us", zone)))
    except pa.ArrowInvalid:
        return False
    return True


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
            cols = ["ts", *parameters]
        # the returned columns before set_index; Spark's float * double
        # is a double
        rescaled = {*self.scale_factors, *self.offsets}
        self._out = T.StructType(
            [
                T.StructField(c, T.DoubleType()) if c in rescaled else self.schema[c]
                for c in cols
            ]
        )
        # the columns whose Arrow conversion is not toPandas()'s, by type:
        # Spark's converter runs on them. Timestamps localize in Arrow.
        self._by_spark = [
            f
            for f in self._out.fields
            if not isinstance(f.dataType, (*_ARROW_AS_SPARK, T.TimestampType))
        ]
        # the columns read from the files: cell_id is the directory, the
        # filter needs conv_id and the order turn_idx
        file_cols = [c for c in cols if c != "cell_id"]
        file_cols += [c for c in ("conv_id", "turn_idx") if c not in file_cols]
        self._file_schema = to_arrow_schema(
            T.StructType([self.schema[c] for c in file_cols])
        )
        # resolved once: the byte source and each cell directory's path
        self._src, self._root = _source(spark, silver_path)
        self._dirs: dict[int, object] = {}
        # read_bulk: cell -> (generation, the cell's rows)
        self._cell_cache: dict[int, tuple[str, pa.Table]] = {}

    def _files(self, cell: int) -> list:
        """The part files of cell directory `cell`, listed now; [] when it
        has no directory yet."""
        d = self._dirs.get(cell)
        if d is None:
            d = self._dirs[cell] = self._src.child(self._root, f"cell_id={cell}")
        return part_files(self._src, d)

    def _fetch(self, files, conv_id: str | None) -> pa.Table:
        """The rows of `files` in the row groups that can hold `conv_id`
        (all of them for None), in the file columns."""
        tables = [self._file_schema.empty_table()]
        for f in files:
            with parquet_file(self._src, f) as pf:
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

    def _cell_rows(self, cell: int, files: list, conv_id: str) -> pa.Table:
        """The conv's rows of cell `cell`, whose directory holds `files`,
        in the file columns and cell_id."""
        if self.read_bulk:
            gen = generation(f.name for f in files)
            cached = self._cell_cache.get(cell)
            if cached is None or cached[0] != gen:
                cached = (gen, self._fetch(files, None))
                self._cell_cache[cell] = cached
            rows = cached[1]
        else:
            rows = self._fetch(files, conv_id)
        rows = rows.filter(pc.equal(rows["conv_id"], conv_id))
        return rows.append_column(
            "cell_id", pa.array([cell] * rows.num_rows, pa.int32())
        )

    def _frame(self, rows: pa.Table, zone: str) -> pd.DataFrame:
        """toPandas().set_index("ts") of `rows` ordered by (ts, turn_idx),
        in the returned columns. Rows are ordered by their instants, as
        Spark sorts timestamps, then rescaled and localized in Arrow and
        converted by one Table.to_pandas with Spark's options; Spark's
        converter runs only on the columns Arrow converts otherwise."""
        rows = rows.take(pc.sort_indices(rows, **_ORDER))
        by_spark = list(self._by_spark)
        cols = {}
        for f in self._out.fields:
            col = rows[f.name]
            if f.name in self.scale_factors or f.name in self.offsets:
                col = col.cast(pa.float64(), safe=False)
                if f.name in self.scale_factors:
                    col = pc.multiply(col, self.scale_factors[f.name])
                if f.name in self.offsets:
                    col = pc.add(col, self.offsets[f.name])
            elif isinstance(f.dataType, T.TimestampType):
                if _arrow_knows(zone):
                    col = pc.local_timestamp(col.cast(pa.timestamp("us", zone)))
                else:
                    by_spark.append(f)
            cols[f.name] = col
        # the index is converted apart: set_index would copy every column
        ts = cols.pop("ts").to_pandas(coerce_temporal_nanoseconds=True)
        pdf = pa.table(cols).to_pandas(
            date_as_object=True, coerce_temporal_nanoseconds=True, split_blocks=True
        )
        for f in by_spark:
            convert = _create_converter_to_pandas(
                f.dataType,
                f.nullable,
                timezone=zone,
                struct_in_pandas="dict",
                error_on_duplicated_field_names=False,
            )
            if f.name == "ts":
                ts = convert(ts)
            else:
                pdf[f.name] = convert(pdf[f.name])
        pdf.index = pd.Index(ts, name="ts")
        return pdf

    def read(self, conv_id: str) -> pd.DataFrame:
        cell = cell_id_for(self.spark, conv_id, self.n_cells)
        rows = self._cell_rows(cell, self._files(cell), conv_id)
        pdf = self._frame(rows, self.spark.conf.get(_TZ_KEY))
        # pandas-native attrs carry: units/long_name per variable
        pdf.attrs["var_attrs"] = {
            c: self.attrs[c] for c in pdf.columns if c in self.attrs
        }
        return pdf

    def close(self):
        self._cell_cache.clear()
