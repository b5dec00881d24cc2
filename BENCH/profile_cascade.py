"""Pin the flat 8->32 rollup-cascade+write phase to a stage and a resource.

Round-4 verdict: under the executor-model harness the reshuffle phase
scales 1.43x from 8 to 32 cores but rollup_cascade_write is ~flat
(17.8s -> 16.2s). Candidate explanations named by the verdict: (a) the
three chained aggregations post-AQE coalesce to too few partitions,
(b) commit serialization, (c) a driver-side serial fraction. Candidate
(d) from the plan: the chained cascade shuffles THREE times, and the
hourly tier barely reduces at transcript grain, so tier-1's exchange
moves 15-field aggregate state rows wider than the raw input. (An
earlier suspicion — min_by/max_by forcing ObjectHashAggregate — is
disproven by the plan: Spark 4 compiles them as DeclarativeAggregates
and every variant here runs codegen'd HashAggregate.)

This harness runs ONLY the cascade phase (rollup_tiers -> monthly
write; silver pre-written once per JVM, not measured) at 8 and 32
pinned cores and dumps per-stage REST metrics: executorRunTime, executorCpuTime, jvmGcTime, shuffle
read/write bytes, spill, task count. The stage whose runTime stays
flat while its GC share grows is the culprit. profile_cascade.json was
recorded with three variants (chained full-state, chained without
first/last, one-shuffle); the chained form now plans the same single
exchange as rollup_tiers, and the narrow-state variant is gone with
the first/last switch it needed.

Usage: python BENCH/profile_cascade.py [n_conv] > out.json
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def cascade_once():
    """Child-process body: build input, write silver (unmeasured), run
    the cascade (measured), dump per-stage metrics from the REST API."""
    import urllib.request

    from ecmwf_models_spark.operators.reshuffle import (
        reshuffle,
        write_silver,
    )
    from ecmwf_models_spark.operators.rollup import finalize, rollup_tiers
    from ecmwf_models_spark.session import (
        get_spark,
        sized_shuffle_partitions,
    )
    from ecmwf_models_spark.synth import gen_transcripts

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    n_conv = int(os.environ.get("BENCH_N_CONV", "600000"))
    spark = get_spark(
        f"cascade-{cpus}", cores=cpus,
        extra_conf={"spark.ui.enabled": "true"},
    )
    bronze = gen_transcripts(
        spark, n_conv=n_conv, days=90, turns_per_conv=24
    ).localCheckpoint()
    n_turns = bronze.count()
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(sized_shuffle_partitions(n_turns, cpus)),
    )
    out = tempfile.mkdtemp(prefix=f"cascade_{cpus}_")
    write_silver(reshuffle(bronze, n_cells=256), f"{out}/silver")
    silver = spark.read.parquet(f"{out}/silver")

    # JIT warmup on a slice (unmeasured), same contract as scaling_job
    finalize(rollup_tiers(silver.limit(200_000))["monthly"]).write.mode(
        "overwrite"
    ).parquet(f"{out}/warm")

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def stages():
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        ) as r:
            return json.loads(r.read())

    seen = {s["stageId"] for s in stages()}
    t0 = time.time()
    # production path: single narrow exchange, tiers pipelined
    monthly = rollup_tiers(silver)["monthly"]
    finalize(monthly).write.mode("overwrite").parquet(f"{out}/monthly")
    wall = round(time.time() - t0, 3)

    rows = []
    for s in stages():
        if s["stageId"] in seen:
            continue
        rows.append(
            {
                "stage": s["stageId"],
                "name": s["name"].split("\n")[0][:70],
                "tasks": s["numCompleteTasks"],
                "run_ms": s["executorRunTime"],
                "cpu_ms": round(s["executorCpuTime"] / 1e6),
                "gc_ms": s["jvmGcTime"],
                "in_mb": round(s["inputBytes"] / 1e6),
                "sh_r_mb": round(s["shuffleReadBytes"] / 1e6),
                "sh_w_mb": round(s["shuffleWriteBytes"] / 1e6),
                "spill_mb": round(s["diskBytesSpilled"] / 1e6),
            }
        )
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({
        "cpus": cpus,
        "n_turns": n_turns,
        "cascade_wall_sec": wall,
        "stages": sorted(rows, key=lambda r: r["stage"]),
    }))
    spark.stop()


def main():
    n_conv = sys.argv[1] if len(sys.argv) > 1 else "600000"
    results = []
    for cpus in (8, 32):
        shm = f"/dev/shm/pcasc_{cpus}"
        os.makedirs(shm, exist_ok=True)
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_OFFHEAP_SIZE="16g",
            SPARK_DRIVER_MEM="16g",
            SPARK_LOCAL_DIRS=shm,
            TMPDIR=shm,
            BENCH_N_CONV=n_conv,
            SPARK_GRAFT_FAST_COMMIT="1",
            PROFILE_CASCADE_CHILD="1",
        )
        pin = (
            ["taskset", "-c", f"0-{cpus - 1}"]
            if shutil.which("taskset")
            else []
        )
        try:
            r = subprocess.run(
                pin + [sys.executable, os.path.abspath(__file__)],
                capture_output=True, text=True, env=env, timeout=3600,
            )
        finally:
            shutil.rmtree(shm, ignore_errors=True)
        if r.returncode != 0:
            raise RuntimeError(r.stderr[-3000:])
        line = [
            l for l in r.stdout.splitlines() if l.startswith("{")
        ][-1]
        res = json.loads(line)
        results.append(res)
        cpu = sum(s["cpu_ms"] for s in res["stages"]) / 1000
        print(
            f"== {cpus} cores: cascade "
            f"{res['cascade_wall_sec']}s, total cpu {cpu:.1f}s",
            file=sys.stderr,
        )
        for st in res["stages"]:
            print("  ", st, file=sys.stderr)
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    if os.environ.get("PROFILE_CASCADE_CHILD"):
        cascade_once()
    else:
        main()
