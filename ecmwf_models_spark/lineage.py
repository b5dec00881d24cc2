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
overwrite), then the cells' lineage rows are committed. On rerun, cells
committed from their current input are skipped (their ids filter the
input) — exactly-once at cell grain without a transactional table format
(SURVEY 7 plan B).

A row's snapshot_id is the generation of the silver cell the tier cell
was rolled up from (`cell_generations`): a digest of the part-file names
in the cell's directory. Every silver write (write_silver, extend_silver)
replaces a cell directory whole, and Spark names the files after the
write job's UUID, so a generation changes exactly when its cell was
rewritten. A tier cell whose latest commit carries another generation is
stale and is re-rolled; the others are served as they are.

The bookkeeping tables (`_lineage`, `_settings`, `_meta`, and a silver's
`_sources`, the bronze files it has consumed) are plain parquet directories
holding one small file per commit, as overview.yml is one small file per
run. The driver builds each file with pyarrow and publishes it through the
JVM's Hadoop FileSystem: written as `.<name>.tmp`, then renamed
to `part-<ns>-<uuid>.parquet`. Readers list the directory and read each
file on the driver, skipping `_`/`.` names as Spark does, so neither a
commit nor a lookup launches a Spark job, and `spark.read.parquet` still
reads the table for an audit. Point reads (operators/pointread.py) and
`table_schema` read silver files on the driver the same way
(`parquet_file`), fetching only the byte ranges pyarrow asks for. The
rename is atomic on local FS and HDFS. On S3 it is a copy then a delete,
not atomic: a commit there rests on the store showing a whole object or
none.

Those driver reads go through one of two byte sources, chosen once per
table by `_source` from the scheme of the FileSystem Spark resolves the
path with. On a local FileSystem (`file`) the driver lists directories
with os.scandir and reads the ranges with os.pread, with no py4j round
trip, and checks them as Hadoop's ChecksumFileSystem does: each range is
widened to the chunks of the `.<name>.crc` file beside it (the magic
`crc\0`, the big-endian bytesPerChecksum, then one CRC32 per chunk), a
mismatch raises ChecksumError, and a file with no .crc is read unchecked.
On any other store (HDFS, S3A, ...) it lists and reads through the Hadoop
FileSystem over py4j, the only client that reaches those stores. Writes
stay on Hadoop whatever the store (`_commit_file` and Spark's writers),
so that the local FileSystem writes the .crc files the reads check, and
every path handed back to Spark or Hadoop (`cell_paths`, `data_files`,
the tier writer's deletes) comes from a Hadoop listing, Hadoop-qualified.

Checksums are order-insensitive (bit_xor of xxhash64 over rows) so they are
stable under any task placement/parallelism.
"""

from __future__ import annotations

import binascii
import contextlib
import functools
import hashlib
import io
import json
import os
import struct
import time
import uuid
import zlib
from typing import Any, NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from py4j import protocol as proto
from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

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


@functools.lru_cache(maxsize=1)
def _path_class(jvm):
    """org.apache.hadoop.fs.Path of one JVM, resolved once: py4j resolves
    a dotted class name with one round trip per name part."""
    return jvm.org.apache.hadoop.fs.Path


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for `path` — the filesystem Spark itself
    resolves it with (local, HDFS, S3 alike)."""
    p = _path_class(spark._jvm)(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _hidden(name: str) -> bool:
    """Spark's rule for the names a file source skips: `_`/`.` names
    (_SUCCESS, .crc, a commit's temp file) other than key=value
    directories, and files still being copied in."""
    return name.startswith(".") or name.endswith("._COPYING_") or (
        name.startswith("_") and "=" not in name
    )


class PartFile(NamedTuple):
    """A data file part_files listed: its path (a Hadoop Path, or a path
    string on the local source), name and size."""

    path: Any
    name: str
    size: int


def _array_items(array) -> list:
    """The elements of a py4j JavaArray: one length command, then one get
    per element, sent as raw commands. Iterating the JavaArray asks for
    its length again before every get."""
    client, target = array._gateway_client, array._target_id

    def send(sub: str, *args) -> Any:
        command = (
            proto.ARRAY_COMMAND_NAME
            + sub
            + target
            + "\n"
            + "".join(proto.get_command_part(a) for a in args)
            + proto.END_COMMAND_PART
        )
        return proto.get_return_value(client.send_command(command), client)

    n = send(proto.ARRAY_LEN_SUB_COMMAND_NAME)
    return [send(proto.ARRAY_GET_SUB_COMMAND_NAME, i) for i in range(n)]


def _list_status(fs, d) -> list:
    """fs.listStatus(d) as a list; [] when `d` does not exist (the
    FileSystem contract's FileNotFoundException), without a separate
    exists call."""
    try:
        statuses = fs.listStatus(d)
    except Py4JJavaError as e:
        missing = "java.io.FileNotFoundException"
        if is_instance_of(SparkContext._gateway, e.java_exception, missing):
            return []
        raise
    return _array_items(statuses)


class _HadoopSource:
    """Lists and reads through a Hadoop FileSystem, each listing call and
    each fetch a py4j round trip: the source of every store but the local
    one (HDFS, S3A, ...)."""

    def __init__(self, fs, path_class):
        self.fs, self._path = fs, path_class

    def child(self, d, name: str):
        return self._path(d, name)

    def entries(self, d):
        """(name, path, status) of each entry of the directory `d`."""
        for st in _list_status(self.fs, d):
            path = st.getPath()
            yield path.getName(), path, st

    def is_dir(self, st) -> bool:
        return st.isDirectory()

    def size(self, st) -> int:
        return st.getLen()

    def open(self, f: PartFile) -> io.RawIOBase:
        return _HadoopInput(self.fs.open(f.path), f.size)


class _LocalSource:
    """Lists and reads a local directory tree on the driver itself
    (os.scandir, os.pread), without py4j: the source when the silver's
    FileSystem is the local one. Reads are checked against Hadoop's .crc
    files (_LocalInput)."""

    child = staticmethod(os.path.join)

    def entries(self, d: str) -> list:
        """(name, path, entry) of each entry of the directory `d`."""
        try:
            with os.scandir(d) as it:
                return [(e.name, e.path, e) for e in it]
        except FileNotFoundError:
            return []

    def is_dir(self, e: os.DirEntry) -> bool:
        return e.is_dir()

    def size(self, e: os.DirEntry) -> int:
        return e.stat().st_size

    def open(self, f: PartFile) -> io.RawIOBase:
        return _LocalInput(os.open(f.path, os.O_RDONLY), f.path, f.size)


def _hadoop_source(spark: SparkSession, path: str):
    """(the Hadoop source, Path) of `path`: for listings whose paths go
    back to Spark or Hadoop, which need them Hadoop-qualified."""
    fs, p = _fs_path(spark, path)
    return _HadoopSource(fs, _path_class(spark._jvm)), p


def _local_path(fs, p) -> str | None:
    """The local path of the Hadoop Path `p` when `fs` is the local
    FileSystem (scheme file), else None."""
    if fs.getUri().getScheme() != "file":
        return None
    return fs.makeQualified(p).toUri().getPath()


def _source(spark: SparkSession, path: str):
    """(source, root) the driver lists and reads the table at `path`
    through: the local source on a local FileSystem, else the Hadoop
    one. The one place the choice is made."""
    src, p = _hadoop_source(spark, path)
    local = _local_path(src.fs, p)
    return (src, p) if local is None else (_LocalSource(), local)


def part_files(src, d) -> list[PartFile]:
    """Each data file under the directory `d` of the source `src`, as
    Spark's file index finds them: subdirectories (ds=<date>) included,
    hidden names skipped; [] when `d` does not exist."""
    found, todo = [], [d]
    while todo:
        for name, path, st in src.entries(todo.pop()):
            if _hidden(name):
                continue
            if src.is_dir(st):
                todo.append(path)
            else:
                found.append(PartFile(path, name, src.size(st)))
    return found


def cell_dirs(src, root) -> dict:
    """cell_id -> path of each cell_id=<c> directory under `root` of the
    source `src`; {} when `root` does not exist."""
    found = {}
    for name, path, st in src.entries(root):
        key, _, cell = name.partition("=")
        if key == "cell_id" and src.is_dir(st):
            found[int(cell)] = path
    return found


def cell_paths(spark: SparkSession, path: str) -> dict[int, str]:
    """cell_id -> Hadoop path string of each cell_id=<c> directory of the
    cell-partitioned table at `path`, listed on the driver."""
    src, root = _hadoop_source(spark, path)
    return {c: p.toString() for c, p in cell_dirs(src, root).items()}


def data_files(spark: SparkSession, path: str) -> list[str]:
    """The part_files under `path`, spelled as DataFrame.inputFiles()
    spells them: Path.toUri()."""
    src, root = _hadoop_source(spark, path)
    return sorted(f.path.toUri().toString() for f in part_files(src, root))


def read_listed(
    spark: SparkSession, schema, paths: list, base_path: str
) -> DataFrame:
    """spark.read.parquet(*paths) with `schema`, for paths listed on the
    driver, partition columns taken below `base_path`. No job infers the
    schema, and none lists the paths: Spark lists more paths of one read
    than parallelPartitionDiscovery.threshold (32) in a job, so the
    threshold is raised to their count for this read only."""
    conf = spark.conf
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    threshold = conf.get(key)
    conf.set(key, str(max(len(paths), int(threshold))))
    try:
        reader = spark.read.schema(schema).option("basePath", base_path)
        return reader.parquet(*paths)
    finally:
        conf.set(key, threshold)


def read_cells(
    spark: SparkSession, path: str, paths: list | None = None
) -> DataFrame:
    """spark.read.parquet(path) of a cell-partitioned table, restricted to
    the cell directories `paths` (all of them for None): the footer's
    schema (table_schema) and a driver listing, so no job infers the
    schema and none lists the directories, at any cell count."""
    if paths is None:
        paths = list(cell_paths(spark, path).values())
    return read_listed(spark, table_schema(spark, path), paths, path)


class _RangedInput(io.RawIOBase):
    """A seekable read-only file for pyarrow that fetches only the byte
    ranges it is asked for: a read that misses the block fetched last is
    one fetch (a subclass's `_fetch`). pyarrow reads a parquet footer as
    one tail block (the whole file, when it is small), so the column
    chunks of a small file come from that block. `fetched` counts the
    bytes fetched."""

    def __init__(self, size: int):
        self._size, self._pos = size, 0
        self._at, self._block = 0, b""
        self.fetched = 0

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = io.SEEK_SET) -> int:
        base = {io.SEEK_SET: 0, io.SEEK_CUR: self._pos, io.SEEK_END: self._size}
        self._pos = base[whence] + offset
        return self._pos

    def read(self, n: int = -1) -> bytes:
        end = self._size if n < 0 else min(self._pos + n, self._size)
        if not self._at <= self._pos <= end <= self._at + len(self._block):
            self._at, self._block = self._fetch(self._pos, end)
            self.fetched += len(self._block)
        out = self._block[self._pos - self._at : end - self._at]
        self._pos = end
        return out

    def _fetch(self, start: int, end: int) -> tuple[int, bytes]:
        """(at, block): bytes from `at` that cover [start, end)."""
        raise NotImplementedError


# bytes per py4j call: the JVM flushes a reply in 8 KiB writes on a
# socket with Nagle's algorithm on, so a longer reply (base64, 4/3 of the
# bytes) waits out the receiver's delayed ACK, ~40 ms
_PY4J_CHUNK = 4096


def _read_n_bytes(stream, n: int) -> bytes:
    """stream.readNBytes(n) through py4j, the reply's base64 decoded by
    binascii: py4j's own decoder builds the bytes one Python int at a
    time, ~40% of the Python CPU of a point read's fetch of a 12 KB file."""
    client = stream._gateway_client
    answer = client.send_command(
        proto.CALL_COMMAND_NAME
        + f"{stream._target_id}\nreadNBytes\n"
        + proto.get_command_part(n)
        + proto.END_COMMAND_PART
    )
    if answer.startswith(proto.SUCCESS + proto.BYTES_TYPE):
        return binascii.a2b_base64(answer[2:])
    # raises the Java exception
    return proto.get_return_value(answer, client, stream._target_id, "readNBytes")


class _HadoopInput(_RangedInput):
    """A file over a Hadoop input stream: a fetch is a seek (unless the
    stream is there), then readNBytes through py4j in _PY4J_CHUNK pieces.
    The FileSystem checks what it reads (ChecksumFileSystem's .crc)."""

    def __init__(self, stream, size: int):
        super().__init__(size)
        # where the stream is: a fetch from there needs no seek
        self._in, self._in_pos = stream, 0

    def _fetch(self, start: int, end: int) -> tuple[int, bytes]:
        if self._in_pos != start:
            self._in.seek(start)
        block = b"".join(
            _read_n_bytes(self._in, min(_PY4J_CHUNK, end - at))
            for at in range(start, end, _PY4J_CHUNK)
        )
        self._in_pos = start + len(block)
        return start, block

    def close(self) -> None:
        if not self.closed:
            self._in.close()
        super().close()


# Hadoop's checksum file .<name>.crc: the magic, the big-endian int
# bytesPerChecksum, then the big-endian CRC32 of each chunk of the file
_CRC_MAGIC = b"crc\0"
_CRC_HEADER = struct.Struct(">4si")
_CRC32 = struct.Struct(">I")


class ChecksumError(OSError):
    """A local file's bytes differ from the checksums of its .crc file."""


class _LocalInput(_RangedInput):
    """A local file, fetched by os.pread and checked as Hadoop's
    ChecksumFileSystem checks it: each fetch is widened to the whole
    chunks its `.<name>.crc` covers, and a chunk whose CRC32 is not the
    stored one (or that the .crc does not cover) raises ChecksumError.
    A file with no .crc, or one whose .crc lacks the magic, is read
    unchecked, as Hadoop reads it."""

    def __init__(self, fd: int, path: str, size: int):
        super().__init__(size)
        self._fd, self._path = fd, path
        # unchecked: no .crc, fetches not widened
        self._crc, self._chunk = None, 1
        d, name = os.path.split(path)
        try:
            crc = os.open(os.path.join(d, f".{name}.crc"), os.O_RDONLY)
        except FileNotFoundError:
            return
        header = os.pread(crc, _CRC_HEADER.size, 0)
        magic, chunk = (
            _CRC_HEADER.unpack(header)
            if len(header) == _CRC_HEADER.size
            else (b"", 0)
        )
        if magic == _CRC_MAGIC and chunk > 0:
            self._crc, self._chunk = crc, chunk
        else:
            os.close(crc)

    def _fetch(self, start: int, end: int) -> tuple[int, bytes]:
        chunk = self._chunk
        at = start - start % chunk
        block = os.pread(self._fd, min(end - end % -chunk, self._size) - at, at)
        if self._crc is not None:
            self._check(at, block)
        return at, block

    def _check(self, at: int, block: bytes) -> None:
        """Raise ChecksumError unless each chunk of `block`, which starts
        at the chunk boundary `at`, has its stored CRC32."""
        chunk = self._chunk
        n = -(-len(block) // chunk)
        sums = os.pread(self._crc, 4 * n, _CRC_HEADER.size + 4 * (at // chunk))
        view = memoryview(block)
        for i in range(n):
            crc = zlib.crc32(view[i * chunk : (i + 1) * chunk])
            if 4 * i + 4 > len(sums) or crc != _CRC32.unpack_from(sums, 4 * i)[0]:
                raise ChecksumError(
                    f"Checksum error: {self._path} at {at + i * chunk}"
                )

    def close(self) -> None:
        if not self.closed:
            os.close(self._fd)
            if self._crc is not None:
                os.close(self._crc)
        super().close()


@contextlib.contextmanager
def parquet_file(src, f: PartFile):
    """pq.ParquetFile over the file `f` the source `src` listed, fetched
    range by range: the footer first, then only the column chunks a read
    asks for. INT96 timestamps (Spark's default) come back as
    microseconds."""
    data = src.open(f)
    try:
        yield pq.ParquetFile(data, coerce_int96_timestamp_unit="us")
    finally:
        data.close()


# the Spark schema a Spark write stores in every parquet footer
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def table_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema `spark.read.parquet(path)` gives a cell-partitioned
    table, taken on the driver from one part file's footer: the Spark
    schema the write stored there, every field nullable (as Spark reads
    files), then the int `cell_id` partition column. No Spark job, where
    schema inference is one (two above 32 cell directories). Raises
    FileNotFoundError when no cell directory holds a part file."""
    src, root = _source(spark, path)
    for d in cell_dirs(src, root).values():
        for f in part_files(src, d):
            with parquet_file(src, f) as pf:
                arrow = pf.schema_arrow
            stored = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
            data = (
                T.StructType.fromJson(json.loads(stored))
                if stored
                else from_arrow_schema(arrow)
            )
            return T.StructType(
                [T.StructField(f.name, f.dataType, True, f.metadata) for f in data]
                + [T.StructField("cell_id", T.IntegerType(), True)]
            )
    raise FileNotFoundError(f"{path} holds no cell_id=* part file")


def _commit_file(spark: SparkSession, path: str, schema, rows: list) -> None:
    """Append `rows` to the table at `path` as one new parquet file:
    written under a hidden temp name, then renamed into view."""
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    fs, d = _fs_path(spark, path)
    Path = _path_class(spark._jvm)
    name = f"part-{time.time_ns()}-{uuid.uuid4().hex}.parquet"
    tmp = Path(d, f".{name}.tmp")
    out = fs.create(tmp, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, Path(d, name)):
        raise OSError(f"could not rename {tmp.toString()} to {name}")


def _committed_rows(spark: SparkSession, path: str, schema) -> list[dict]:
    """Every row of the table at `path`, read on the driver file by file;
    [] when the directory does not exist. Also reads directories Spark
    wrote (part files beside _SUCCESS and .crc files)."""
    src, d = _source(spark, path)
    tables = []
    for f in part_files(src, d):
        with parquet_file(src, f) as pf:
            tables.append(
                pf.read(columns=schema.names).cast(to_arrow_schema(schema))
            )
    return pa.concat_tables(tables).to_pylist() if tables else []


def _latest(rows: list[dict], key, value: str = "value") -> dict:
    """key(row) -> row[value] of the row with the latest committed_at."""
    return {
        key(r): r[value] for r in sorted(rows, key=lambda r: r["committed_at"])
    }


def _latest_commits(
    spark: SparkSession, path: str, tier: str
) -> dict[int, dict]:
    """cell_id -> the latest committed lineage row of `tier`, read on the
    driver."""
    rows = sorted(
        (
            r
            for r in _committed_rows(spark, path, LINEAGE_SCHEMA)
            if r["tier"] == tier and r["status"] == "committed"
        ),
        key=lambda r: r["committed_at"],
    )
    return {r["cell_id"]: r for r in rows}


def committed_generations(
    spark: SparkSession, path: str, tier: str
) -> dict[int, str]:
    """cell_id -> snapshot_id of the latest committed lineage row of
    `tier`."""
    return {
        c: r["snapshot_id"] for c, r in _latest_commits(spark, path, tier).items()
    }


def committed_cells(spark: SparkSession, path: str, tier: str) -> list[int]:
    return sorted(committed_generations(spark, path, tier))


def cell_generations(df: DataFrame) -> dict[int, str]:
    """cell_id -> generation of each cell_id=<c> directory `df`'s plan
    reads: a digest of the part-file names in it. df.inputFiles() is the
    relation's file listing, already made when `df` was read, so this
    launches no Spark job. {} for an input read from no cell directory
    (an in-memory frame): its cells carry no generation."""
    names: dict[int, list[str]] = {}
    for f in df.inputFiles():
        parent, _, name = f.rpartition("/")
        key, _, cell = parent.rpartition("/")[2].partition("=")
        if key == "cell_id":
            names.setdefault(int(cell), []).append(name)
    return {c: generation(v) for c, v in names.items()}


def generation(names) -> str:
    """The generation of a cell directory holding the part files `names`."""
    return hashlib.sha1("\n".join(sorted(names)).encode()).hexdigest()[:16]


def pending_cells(
    spark: SparkSession, path: str, tier: str, generations: dict[int, str]
) -> list[int]:
    """The cells of `generations` that `tier` has no commit of at that
    generation: never rolled up, or rolled up from an older silver."""
    done = committed_generations(spark, path, tier)
    return sorted(c for c, g in generations.items() if done.get(c) != g)


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
    _commit_file(spark, path, SETTINGS_SCHEMA, rows)


def read_run_settings(spark: SparkSession, path: str) -> dict:
    """Latest persisted value per key (as strings; callers cast)."""
    return _latest(
        _committed_rows(spark, path, SETTINGS_SCHEMA), lambda r: r["key"]
    )


def stored_n_cells(spark: SparkSession, silver_path: str) -> int:
    """The n_cells the silver at `silver_path` was written with, from its
    _settings. A silver that records none raises ValueError: its grid is
    not guessed, since a wrong n_cells routes convs to the wrong cells."""
    stored = read_run_settings(spark, f"{silver_path}/_settings")
    if "n_cells" not in stored:
        raise ValueError(
            f"{silver_path}/_settings records no n_cells; pass n_cells"
        )
    return int(stored["n_cells"])


# a bronze file a silver has consumed, by its data_files URI
SOURCES_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("job_id", T.StringType()),
        T.StructField("committed_at", T.DoubleType()),
    ]
)


def commit_sources(spark: SparkSession, silver_path: str, files) -> None:
    """Record `files` as consumed in <silver>/_sources, in one commit."""
    now, job_id = time.time(), uuid.uuid4().hex[:12]
    rows = [(f, job_id, now) for f in files]
    _commit_file(spark, f"{silver_path}/_sources", SOURCES_SCHEMA, rows)


def consumed_sources(spark: SparkSession, silver_path: str) -> set[str]:
    """The bronze files <silver>/_sources records."""
    rows = _committed_rows(spark, f"{silver_path}/_sources", SOURCES_SCHEMA)
    return {r["file"] for r in rows}


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
    append-only, latest committed_at wins (same protocol as _settings).
    Writes nothing when the stored attrs already hold every value."""
    stored = read_table_attrs(spark, path)
    now = time.time()
    rows = [
        (var, k, str(v), now)
        for var, kv in attrs.items()
        for k, v in kv.items()
    ]
    if all(stored.get(var, {}).get(k) == v for var, k, v, _ in rows):
        return
    _commit_file(spark, path, ATTRS_SCHEMA, rows)


def read_table_attrs(spark: SparkSession, path: str) -> dict[str, dict[str, str]]:
    """Latest attrs per (var, key); {} when no sidecar exists."""
    out: dict[str, dict[str, str]] = {}
    latest = _latest(
        _committed_rows(spark, path, ATTRS_SCHEMA),
        lambda r: (r["var"], r["key"]),
    )
    for (var, k), v in latest.items():
        out.setdefault(var, {})[k] = v
    return out


class ResumableTierWriter:
    """Write a cell-partitioned tier with per-cell lineage + resume.

    Usage:
        w = ResumableTierWriter(spark, out_dir, lineage_dir, tier="daily")
        w.run(df_with_cell_id)          # writes only pending cells

    A cell is pending when it has no committed lineage row, or when its
    latest one carries another generation than the input's cell
    (`cell_generations`): run() after an extend re-rolls exactly the
    extended cells. run() passes over its input once, in the write, and
    then audits what was written: each cell's lineage row (row_count,
    checksum) comes from the cell directories on disk, which are small
    next to the rollup that produced them.
    """

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        lineage_dir: str,
        tier: str,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.lineage_dir = lineage_dir
        self.tier = tier
        self.job_id = uuid.uuid4().hex[:12]

    def _cell_dirs(self, skip) -> list:
        """Hadoop Paths of the cell_id=* directories whose cell is not in
        `skip`."""
        src, out = _hadoop_source(self.spark, self.out_dir)
        skip = set(skip)
        return [p for c, p in cell_dirs(src, out).items() if c not in skip]

    def run(self, df: DataFrame, fail_after_cells: int | None = None) -> int:
        """Materialize pending cells; returns number of cells committed.

        fail_after_cells simulates a crash between the cell write and the
        lineage commit for the resume test: every pending cell is written,
        the first k get their lineage rows, then it raises — the next run()
        must rewrite the rest and produce a byte-identical tier.
        """
        gens = cell_generations(df)
        committed = committed_generations(self.spark, self.lineage_dir, self.tier)
        # a committed cell the input reads no files of keeps its commit
        done = [c for c, g in committed.items() if gens.get(c, g) == g]
        # a cell directory without any committed lineage row is an earlier
        # crash's leftover, not a tier cell: the write below replaces the
        # ones still pending, this drops the rest. A stale cell keeps
        # serving its last commit until the write replaces it.
        fs, _ = _fs_path(self.spark, self.out_dir)
        for path in self._cell_dirs(committed):
            fs.delete(path, True)
        pend = df.where(~F.col("cell_id").isin(done)) if done else df
        # dynamic partition overwrite: each cell dir replaced atomically,
        # untouched cells preserved — write-temp-then-rename at cell grain.
        (
            pend.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell_id")
            .parquet(self.out_dir)
        )
        written = [p.toString() for p in self._cell_dirs(done)]
        if not written:
            return 0
        audit = read_listed(self.spark, df.schema, written, self.out_dir)
        stats = sorted(cell_stats(audit).collect(), key=lambda r: r["cell_id"])
        crash = fail_after_cells is not None and fail_after_cells < len(stats)
        todo = stats[:fail_after_cells] if crash else stats
        now = time.time()
        rows = [
            (
                self.job_id,
                self.tier,
                int(r["cell_id"]),
                gens.get(r["cell_id"], ""),
                int(r["row_count"]),
                int(r["checksum"]),
                "committed",
                now,
            )
            for r in todo
        ]
        _commit_file(self.spark, self.lineage_dir, LINEAGE_SCHEMA, rows)
        # propagate per-variable attrs into the tier (written once per table)
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
        """Write-audit: the input `df`, the latest committed lineage row of
        each cell and the written tier must hold the same cells with the
        same (row_count, checksum). run() takes the lineage from the
        written cells, so only the input's stats, recomputed here, catch a
        write that dropped or changed rows — or a tier rolled up from an
        older silver than `df`'s. The three per-cell dicts are compared on
        the driver; the lineage is read there too, not by Spark."""

        def stats(d: DataFrame) -> dict:
            return {
                r["cell_id"]: (r["row_count"], r["checksum"])
                for r in cell_stats(d).collect()
            }

        cells = [p.toString() for p in self._cell_dirs(())]
        written = read_listed(self.spark, df.schema, cells, self.out_dir)
        lineage = {
            c: (r["row_count"], r["checksum"])
            for c, r in _latest_commits(
                self.spark, self.lineage_dir, self.tier
            ).items()
        }
        return stats(df) == lineage == stats(written)
