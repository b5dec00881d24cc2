"""The two workloads of the CLI-path benchmark.

Both are closed loops with one client. A cycle runs the CLI chain through
the public functions the commands call:

    reshuffle -> write_silver (+ _settings)           cli reshuffle
    rollup_from_raw / rollup_cascade / finalize
      -> ResumableTierWriter.run, hourly/daily/monthly  cli rollup
    incremental.extend_silver                         cli extend
    TsReader(...).read, one new reader per cycle      cli read

batch_tiers runs reshuffle -> rollup -> read every cycle from the same
bronze, into fresh output dirs. append_reads builds silver once in set-up
and then cycles extend -> read on that one table.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

from pyspark.sql import functions as F, types as T

from ecmwf_models_spark.grid import cell_of, with_cell_id
from ecmwf_models_spark.incremental import extend_silver
from ecmwf_models_spark.lineage import (
    ResumableTierWriter,
    read_run_settings,
    write_run_settings,
)
from ecmwf_models_spark.operators.pointread import TsReader, cell_id_for
from ecmwf_models_spark.operators.reshuffle import reshuffle, write_silver
from ecmwf_models_spark.operators.rollup import (
    TIERS,
    finalize,
    rollup_cascade,
    rollup_from_raw,
)
from ecmwf_models_spark.synth import ROLES, gen_transcripts

N_CELLS = 16
N_CONV, DAYS, TURNS = 500, 31, 24  # cli ingest defaults; the generator's
                                   # other defaults make 1 conv in 100 hot
                                   # (50x turns), 1 turn in 20 PRELIM-99
APPEND_CONVS = 4  # convs per append, each in its own cell
APPEND_TURNS = 6  # new turns per appended conv
APPENDED_READ_SHARE = 0.3  # of a cycle's reads, of the convs just appended
WARMUP_READS = 8  # point reads per warm-up cycle


@dataclass(frozen=True)
class Shape:
    rebuild: bool  # cycle = tier job from bronze; else = one append
    warmup: int    # untimed cycles run inside set-up
    reads: int     # point reads per timed cycle
    warmup_days: int | None = None  # bronze days a warm-up tier job reads


WORKLOADS = {
    "batch_tiers": Shape(rebuild=True, warmup=1, reads=40, warmup_days=7),
    "append_reads": Shape(rebuild=False, warmup=2, reads=8),
}

BATCH_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("is_prelim", T.BooleanType()),
        T.StructField("ingest_ts", T.TimestampType()),
    ]
)


def last_line() -> str:
    """The last line of the exception being handled."""
    return traceback.format_exc(limit=1).strip().splitlines()[-1]


class Workload:
    def __init__(self, spark, spans, oracle, work, shape: Shape, seed: int, trace: bool):
        self.spark = spark
        self.spans = spans
        self.oracle = oracle
        self.work = work
        self.shape = shape
        self.seed = seed
        self.trace = trace
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.cycles = 0
        self.appends = 0
        self.silver = None
        self.cell_queue: list[int] = []
        self.rep_s: list[float] = []  # timed tier jobs, reshuffle to monthly
        self.rep_cpu_s: list[float] = []  # the same reps' CPU seconds
        self.last_tiers: list = []

    # ------------------------------------------------------------ set-up
    def setup(self):
        """Bronze, the conv -> cell map, the starting silver (append_reads)
        and the fixed warm-up cycles."""
        sh = self.shape
        self.bronze = f"{self.work}/bronze"

        def ingest():  # cli ingest
            df = gen_transcripts(
                self.spark, n_conv=N_CONV, days=DAYS,
                turns_per_conv=TURNS, seed=self.seed,
            )
            df.withColumn("ds", F.to_date("ts")).write.mode(
                "overwrite"
            ).partitionBy("ds").parquet(self.bronze)

        self._op("synth", ingest, timed=False)
        self.bronze_turns = self.oracle.bronze_keys(self.bronze)
        self.first_day, self.stored_end, self.next_idx = self.oracle.bronze_facts(
            self.bronze)
        self.convs = sorted(self.next_idx)
        cells = self.spark.createDataFrame(
            [(c,) for c in self.convs], "conv_id string"
        ).select("conv_id", cell_of("conv_id", N_CELLS).alias("cell_id"))
        self.cell_convs: dict[int, list[str]] = {}
        for r in cells.collect():
            self.cell_convs.setdefault(r["cell_id"], []).append(r["conv_id"])
        for v in self.cell_convs.values():
            v.sort()
        if not sh.rebuild:
            self.silver = f"{self.work}/silver"
            self.reshuffle(self.silver, timed=False)
        for _ in range(sh.warmup):
            self.cycle(timed=False)

    # ------------------------------------------------------------ ops
    def _op(self, layer, fn, *args, timed, **kwargs):
        """One call into ``layer``. A timed op counts as attempted; one that
        raises counts as failed, and the exception propagates marked as
        counted."""
        self.attempted += timed
        try:
            return self.spans.call(layer, fn, *args, timed=timed, **kwargs)
        except Exception as e:
            if timed:
                self.failed += 1
                self.problems.append(f"{layer}: {last_line()}")
                e.counted = True
            raise

    def _check(self, span, check, *args):
        """Run ``check(*args)`` on the output of ``span``'s op. A problem it
        returns, or an error it raises, fails that op (once)."""
        try:
            problems = check(*args)
        except Exception:
            problems = [f"{span.layer} check raised: {last_line()}"]
        if problems and span.ok:
            span.ok = False
            self.failed += 1
        self.problems += problems

    def reshuffle(self, silver, timed, days=None):
        """cli reshuffle: the transpose, write_silver and the run settings;
        of the first ``days`` bronze partitions only, if given."""

        def reshuffle_op():
            bronze = self.spark.read.parquet(self.bronze)
            if days:
                bronze = bronze.where(
                    F.col("ds") < self.first_day + dt.timedelta(days=days))
            write_silver(reshuffle(bronze, n_cells=N_CELLS), silver)
            write_run_settings(
                self.spark, f"{silver}/_settings",
                {"n_cells": N_CELLS, "salt_segment_hours": None},
            )

        _, span = self._op("reshuffle", reshuffle_op, timed=timed)
        if timed:
            self._check(span, self.silver_problems, silver, self.bronze_turns)
        return span

    def silver_problems(self, silver, expected_keys):
        self.oracle.load_silver(silver)
        return self.oracle.silver_problems(expected_keys)

    def tier_job(self, silver, tiers_dir, timed, days=None):
        """cli reshuffle + cli rollup (the rollup_from_raw -> rollup_cascade
        chain, each tier through its own ResumableTierWriter) into fresh
        dirs. The tiers are checked after the timed loop, on the last rep."""
        self.last_tiers = []
        spans = [self.reshuffle(silver, timed, days)]
        lower = None
        for tier in TIERS:
            def tier_op(tier=tier):
                nonlocal lower
                lower = (
                    rollup_from_raw(self.spark.read.parquet(silver), tier)
                    if lower is None
                    else rollup_cascade(lower, tier)
                )
                out = with_cell_id(finalize(lower), N_CELLS)
                w = ResumableTierWriter(
                    self.spark, f"{tiers_dir}/{tier}", f"{tiers_dir}/_lineage",
                    tier=tier,
                )
                return w, out, w.run(out)

            (w, out, n), span = self._op(f"tiers.{tier}", tier_op, timed=timed)
            span.info["cells"] = n
            spans.append(span)
            self.last_tiers.append((span, w, out))
        if timed:
            self.rep_s.append(sum(s.seconds for s in spans))
            self.rep_cpu_s.append(sum(s.cpu_s for s in spans))

    def check_last_tiers(self):
        """After the timed loop: ResumableTierWriter.verify for every tier of
        the last rep, and its monthly tier against DuckDB over that rep's
        silver."""
        def problems(w, out):
            found = [] if w.verify(out) else [f"{w.tier}: lineage verify failed"]
            if w.tier == "monthly":
                found += self.oracle.monthly_problems(w.out_dir)
            return found

        for span, w, out in self.last_tiers:
            self._check(span, problems, w, out)

    def make_batch(self, day: dt.date):
        """A seeded handful of convs, each in its own cell, gets
        APPEND_TURNS new turns on ``day`` (plus one PRELIM-99
        duplicate each, which extend must drop). Returns the parquet dir
        and the appended turn_idx per conv."""
        if not self.cell_queue:  # a new seeded pass over every cell
            self.cell_queue = self.rng.sample(sorted(self.cell_convs), len(self.cell_convs))
        cells = self.cell_queue[:APPEND_CONVS]
        del self.cell_queue[:APPEND_CONVS]
        rows, appended = [], {}
        base = dt.datetime.combine(day, dt.time())
        for cell in cells:
            conv = self.rng.choice(self.cell_convs[cell])
            first = self.next_idx[conv]
            appended[conv] = list(range(first, first + APPEND_TURNS))
            self.next_idx[conv] = first + APPEND_TURNS
            for j, idx in enumerate(appended[conv]):
                ts = base + dt.timedelta(hours=3 * j, seconds=self.rng.randrange(3600))
                rows.append((
                    conv, idx, ROLES[idx % 3],
                    f"{conv}:{idx}:a{self.seed}x{self.rng.randrange(1 << 30):x}",
                    f"tool-{idx % 8}" if idx % 3 == 2 else None,
                    ts, False, ts,
                ))
            ts0 = rows[-APPEND_TURNS][5]
            rows.append((conv, first, ROLES[first % 3], "PRELIM-99", None,
                         ts0, True, ts0 - dt.timedelta(hours=1)))
        path = f"{self.work}/append{self.appends}"
        self.appends += 1
        self.spark.createDataFrame(rows, BATCH_SCHEMA).withColumn(
            "ds", F.to_date("ts")
        ).write.mode("overwrite").partitionBy("ds").parquet(path)
        return path, appended

    def append(self, silver, expected_keys, day, timed):
        """cli extend of one seeded batch; returns the appended turns."""
        batch, appended = self.make_batch(day)

        def extend_op():
            return extend_silver(self.spark, silver, self.spark.read.parquet(batch))

        cells, span = self._op("incremental", extend_op, timed=timed)
        new_rows = APPEND_CONVS * APPEND_TURNS
        span.info.update(cells=len(cells), new_rows=new_rows)
        shutil.rmtree(batch, ignore_errors=True)
        if timed:
            def problems():
                found = self.silver_problems(silver, expected_keys + new_rows)
                span.info["rewritten"] = self.oracle.silver_rows(cells)
                return found

            self._check(span, problems)
        return appended

    def reads(self, silver, appended, timed):
        """cli read: a new reader (the stored run settings first, as the
        command does), then seeded point reads; a fixed share of them hit
        the convs just appended."""
        n_reads = self.shape.reads if timed else WARMUP_READS

        def open_op():
            n = int(read_run_settings(self.spark, f"{silver}/_settings")["n_cells"])
            return TsReader(self.spark, silver, n_cells=n)

        reader, _ = self._op("pointread.open", open_op, timed=timed)
        n_app = round(n_reads * APPENDED_READ_SHARE) if appended else 0
        fresh = sorted(appended)
        convs = [self.rng.choice(fresh) for _ in range(n_app)] + [
            self.rng.choice(self.convs) for _ in range(n_reads - n_app)
        ]
        for conv in convs:
            if self.trace:
                self._op("pointread.route", cell_id_for, self.spark, conv,
                         N_CELLS, timed=timed)
            pdf, span = self._op("pointread.read", reader.read, conv, timed=timed)
            span.info["rows"] = len(pdf)
            if timed:
                self._check(span, self.oracle.read_problems,
                            conv, pdf, appended.get(conv, ()))

    # ------------------------------------------------------------ loop
    def cycle(self, timed: bool):
        sh = self.shape
        try:
            if sh.rebuild:
                rep = f"{self.work}/rep{self.cycles}"
                if self.silver:  # the previous rep's output
                    shutil.rmtree(os.path.dirname(self.silver), ignore_errors=True)
                self.silver = f"{rep}/silver"
                self.tier_job(self.silver, f"{rep}/tiers", timed,
                              None if timed else sh.warmup_days)
                appended = {}
            else:
                keys = self.bronze_turns + self.appends * APPEND_CONVS * APPEND_TURNS
                day = self.stored_end.date() + dt.timedelta(days=1 + self.appends)
                appended = self.append(self.silver, keys, day, timed)
            self.reads(self.silver, appended, timed)
        except Exception as e:
            if not timed:
                raise
            if not getattr(e, "counted", False):
                # raised outside any op or check, e.g. writing an append
                # batch: one more op that could not run
                self.attempted += 1
                self.failed += 1
                self.problems.append(f"cycle: {last_line()}")
            traceback.print_exc(file=sys.stderr)  # and go on
        self.cycles += 1

    def run(self, seconds: float) -> list[float]:
        """Timed cycles for ``seconds``: a cycle starts only if one more of
        the last one's length still ends inside them (the first always
        runs). Returns their wall times."""
        t0 = time.perf_counter()
        cycle_s = []
        while not cycle_s or time.perf_counter() - t0 + cycle_s[-1] <= seconds:
            t = time.perf_counter()
            self.cycle(timed=True)
            cycle_s.append(time.perf_counter() - t)
        return cycle_s
