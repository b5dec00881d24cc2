"""One scaling-bench run: the full engine pipeline at a given core count.

Prints one JSON line: {"cpus": N, "n_turns": T, "elapsed_sec": S,
"turns_per_sec": T/S, "phases": {...}}.

Job under test (input generation materialized FIRST and excluded):
  reshuffle (dedup + transpose + sort + cell-partitioned write)
  -> hourly -> daily -> monthly rollup cascade (written)
  -> gap-fill count
This is the BASELINE.json metric job ("rolled-up turns/sec at
hourly->daily->monthly tiers"). Run it at two parallelism levels on the
SAME input for the two-cluster-size scaling criterion (sandbox stand-in
for N vs 4N executors).

A warmup pass on a small slice runs first so JIT compilation of the
whole-stage-codegen'd operators is excluded from the measurement (cold
first-run on this box costs 2-4x; the cluster-scale analogue is a
long-running executor JVM, already warm).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from ecmwf_models_spark.session import get_spark  # noqa: E402


def pipeline(spark, bronze, out_dir, n_cells, phase_hook=None):
    """The measured job: reshuffle+write -> rollup cascade+write -> gapfill.

    phase_hook(name), when given, fires after each phase completes —
    run_sf1.py uses it to snapshot cumulative stage metrics (shuffle
    bytes, spill) from the REST API at phase boundaries."""
    from ecmwf_models_spark.operators.gapfill import gap_fill
    from ecmwf_models_spark.operators.reshuffle import reshuffle, write_silver
    from ecmwf_models_spark.operators.rollup import finalize, rollup_tiers

    phases = {}
    t0 = time.time()
    silver_path = f"{out_dir}/silver"
    write_silver(reshuffle(bronze, n_cells=n_cells), silver_path)
    phases["reshuffle_write"] = round(time.time() - t0, 3)
    if phase_hook:
        phase_hook("reshuffle_write")

    t0 = time.time()
    silver = spark.read.parquet(silver_path)
    # one-shuffle hash cascade: single narrow-row exchange by conv_id,
    # all three tier aggregations pipelined in one stage
    monthly = rollup_tiers(silver)["monthly"]
    finalize(monthly).write.mode("overwrite").parquet(f"{out_dir}/monthly")
    phases["rollup_cascade_write"] = round(time.time() - t0, 3)
    if phase_hook:
        phase_hook("rollup_cascade_write")

    t0 = time.time()
    gap_fill(silver).count()
    phases["gapfill"] = round(time.time() - t0, 3)
    if phase_hook:
        phase_hook("gapfill")
    return phases


def main():
    os.environ.setdefault("SPARK_GRAFT_FAST_COMMIT", "1")  # bench-scoped
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_conv = int(os.environ.get("BENCH_N_CONV", "200000"))
    days = int(os.environ.get("BENCH_DAYS", "90"))
    turns = int(os.environ.get("BENCH_TURNS", "24"))
    n_cells = int(os.environ.get("BENCH_N_CELLS", "256"))

    spark = get_spark(
        f"scaling-{cpus}",
        cores=cpus,
        shuffle_partitions=int(
            os.environ.get("BENCH_SHUFFLE_PARTS", max(cpus * 2, 32))
        ),
    )
    from ecmwf_models_spark.session import sized_shuffle_partitions
    from ecmwf_models_spark.synth import gen_transcripts

    bronze = gen_transcripts(
        spark, n_conv=n_conv, days=days, turns_per_conv=turns
    ).localCheckpoint()
    n_turns = bronze.count()
    if not os.environ.get("BENCH_SHUFFLE_PARTS"):
        # size shuffle partitions by the DATA, identically at every
        # parallelism level — the cluster-honest config, and the fix for
        # the round-3 8->32 regression (see session.py measurement note)
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(sized_shuffle_partitions(n_turns, cpus)),
        )

    # JIT warmup on a 2% slice — not measured
    warm = gen_transcripts(
        spark, n_conv=max(n_conv // 50, 100), days=days, turns_per_conv=turns
    ).localCheckpoint()
    warm.count()
    wtmp = tempfile.mkdtemp(prefix=f"scaling_warm_{cpus}_")
    pipeline(spark, warm, wtmp, n_cells)
    shutil.rmtree(wtmp, ignore_errors=True)
    warm.unpersist()

    tmp = tempfile.mkdtemp(prefix=f"scaling_{cpus}_")
    t_all = time.time()
    phases = pipeline(spark, bronze, tmp, n_cells)
    elapsed = round(time.time() - t_all, 3)
    shutil.rmtree(tmp, ignore_errors=True)
    print(
        json.dumps(
            {
                "cpus": cpus,
                "n_turns": n_turns,
                "elapsed_sec": elapsed,
                "turns_per_sec": round(n_turns / elapsed, 1),
                "phases": phases,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
