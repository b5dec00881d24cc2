"""Per-step CPU and py4j round trips of one point read (TsReader.read).

Builds a silver of clibench's size (gen_transcripts 500 convs x 31 days x
24 turns, seed 1000, reshuffled into 16 cells) in a temp dir, opens one
reader and times each step of a read in a warm loop over the same seeded
convs:

    route    cell_id_for
    list     the cell directory's part files         TsReader._files
    fetch    footers, the conv's row groups, filter  TsReader._cell_rows
    convert  session zone, order, Table.to_pandas    TsReader._frame
    read     TsReader.read end to end

A step's CPU is this process's plus the driver JVM's (utime + stime of
/proc/<jvm pid>/stat, so 10 ms ticks: a loop runs --reads reads to
resolve them), per call; each figure is the median of --reps loops. py4j
round trips are counted by wrapping the gateway client's send_command:
the calls each step makes, averaged over the convs, and the deletes of
garbage-collected Java object proxies that py4j's finalizer thread sends
while the read loop runs, per read. Bytes fetched per read are the bytes
the reads' file inputs fetched (lineage._RangedInput.fetched: on a local
silver, whole .crc chunks read by os.pread; through Hadoop, the bytes
py4j moved), counted in the untimed loop. Spark's REST UI is not used.
Prints one JSON object.

Usage: python BENCH/profile_read.py [--reads 200] [--reps 5] [--cpus 4]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import tempfile
import time

from py4j import protocol as proto

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecmwf_models_spark import lineage  # noqa: E402
from ecmwf_models_spark.lineage import write_run_settings  # noqa: E402
from ecmwf_models_spark.operators.pointread import (  # noqa: E402
    _TZ_KEY,
    TsReader,
    cell_id_for,
)
from ecmwf_models_spark.operators.reshuffle import (  # noqa: E402
    reshuffle,
    write_silver,
)
from ecmwf_models_spark.session import get_spark  # noqa: E402
from ecmwf_models_spark.synth import gen_transcripts  # noqa: E402

N_CELLS = 16
N_CONV, DAYS, TURNS, SEED = 500, 31, 24, 1000
CLK_TCK = os.sysconf("SC_CLK_TCK")


def steps(spark, reader: TsReader) -> list:
    """(name, fn, args of conv): each step's input is the output of the
    steps before it, computed once per conv outside the timed loop."""
    return [
        ("route", lambda conv: cell_id_for(spark, conv, N_CELLS)),
        ("list", lambda cell: reader._files(cell)),
        ("fetch", lambda cell, files, conv: reader._cell_rows(cell, files, conv)),
        ("convert", lambda rows: reader._frame(rows, spark.conf.get(_TZ_KEY))),
        ("read", lambda conv: reader.read(conv)),
    ]


def step_args(spark, reader: TsReader, conv: str) -> dict:
    cell = cell_id_for(spark, conv, N_CELLS)
    files = reader._files(cell)
    rows = reader._cell_rows(cell, files, conv)
    return {
        "route": (conv,),
        "list": (cell,),
        "fetch": (cell, files, conv),
        "convert": (rows,),
        "read": (conv,),
    }


class Py4jCounter:
    """Counts the commands sent through one py4j gateway client: calls,
    and the deletes py4j's finalizer thread sends for garbage-collected
    Java object proxies, whenever they come."""

    def __init__(self, client):
        self.calls = self.deletes = 0
        send = client.send_command

        def counted(command, *args, **kwargs):
            if command.startswith(proto.MEMORY_COMMAND_NAME):
                self.deletes += 1
            else:
                self.calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counted


class FetchCounter:
    """Sums the bytes fetched by the file inputs the readers close
    (lineage._RangedInput.fetched), while installed."""

    def __init__(self):
        self.bytes = 0
        self._close = lineage._RangedInput.close

    def __enter__(self):
        close = self._close

        def counted(src):
            if not src.closed:
                self.bytes += src.fetched
            close(src)

        lineage._RangedInput.close = counted
        return self

    def __exit__(self, *exc):
        lineage._RangedInput.close = self._close


def main(argv=None) -> dict:
    p = argparse.ArgumentParser()
    p.add_argument("--reads", type=int, default=200)
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--cpus", type=int, default=4)
    args = p.parse_args(argv)

    spark = get_spark("profile_read", cores=args.cpus)
    jvm_stat = f"/proc/{spark._jvm.java.lang.ProcessHandle.current().pid()}/stat"

    def cpu_s() -> float:
        with open(jvm_stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / CLK_TCK + time.process_time()

    with tempfile.TemporaryDirectory(prefix="profile_read_") as tmp:
        silver = f"{tmp}/silver"
        bronze = gen_transcripts(
            spark, n_conv=N_CONV, days=DAYS, turns_per_conv=TURNS, seed=SEED
        )
        write_silver(reshuffle(bronze, n_cells=N_CELLS), silver)
        write_run_settings(spark, f"{silver}/_settings", {"n_cells": N_CELLS})
        reader = TsReader(spark, silver, n_cells=N_CELLS)

        rng = random.Random(SEED)
        convs = [f"conv-{rng.randrange(N_CONV):06d}" for _ in range(args.reads)]
        inputs = [step_args(spark, reader, c) for c in convs]
        rows = statistics.mean(len(a["convert"][0]) for a in inputs)
        counter = Py4jCounter(spark._jvm._gateway_client)
        cpu_ms: dict[str, list[float]] = {}
        calls: dict[str, float] = {}
        for name, fn in steps(spark, reader):
            counter.calls = counter.deletes = 0
            with FetchCounter() as fetch:
                for a in inputs:
                    fn(*a[name])
            calls[name] = counter.calls / len(inputs)
        deletes = counter.deletes / len(inputs)  # of the read step
        fetched = fetch.bytes / len(inputs)  # of the read step
        for _ in range(args.reps):
            for name, fn in steps(spark, reader):
                c0 = cpu_s()
                for a in inputs:
                    fn(*a[name])
                cpu_ms.setdefault(name, []).append(
                    (cpu_s() - c0) * 1000 / len(inputs)
                )
        spark.stop()

    out = {
        "silver": f"gen_transcripts {N_CONV}x{DAYS}x{TURNS} seed {SEED}, "
        f"{N_CELLS} cells",
        "cpus": args.cpus,
        "reads": args.reads,
        "reps": args.reps,
        "rows_per_read": rows,
        "source": type(reader._src).__name__,
        "bytes_fetched_per_read": round(fetched),
        "cpu_ms": {k: round(statistics.median(v), 3) for k, v in cpu_ms.items()},
        "py4j_calls": {k: round(v, 2) for k, v in calls.items()},
        "py4j_deletes_per_read": round(deletes, 2),
        "py4j_round_trips_per_read": round(calls["read"] + deletes, 2),
    }
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
