"""CLI-path benchmark of the engine.

    python3 clibench/run.py --workload batch_tiers --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads, metrics and the layer map are
described in clibench/README.md. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. Lines
before it, starting with '#', give the settings, the contention guard and
every metric by name with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".clibench_work")

# JVM sized to a 4-core / 15 GB box: the engine's 16g + 16g defaults
# exceed the machine. Passed through the engine's deployment env vars.
DRIVER_MEM = "2g"
OFFHEAP_SIZE = "2g"
JIT_FLAGS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks[:8])


def contention_guard(own_pid: int | None = None, ticks0=None) -> dict:
    """nproc, 1-minute load average, other live SparkSubmit JVMs and (at
    the end) the share of CPU time the hypervisor stole during the run: a
    concurrent Spark JVM slows runs 3-10x and a busy host slows them too,
    so an outlier run can be traced to either."""
    others = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in (os.getpid(), own_pid):
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and argv[0].endswith(b"java") and b"org.apache.spark.deploy.SparkSubmit" in argv:
            others.append(int(pid))
    guard = {
        "nproc": len(os.sched_getaffinity(0)),
        "load_1m": round(os.getloadavg()[0], 2),
        "other_spark_jvms": len(others),
    }
    if ticks0 is not None:
        steal, total = cpu_ticks()
        guard["steal_share"] = round(
            (steal - ticks0[0]) / max(total - ticks0[1], 1), 4)
    return guard


def configure(run_dir: str, nproc: int) -> dict:
    """Deployment settings, fixed before the JVM starts. The atomic v1
    output committer the CLI uses is kept (SPARK_GRAFT_FAST_COMMIT unset):
    that is the flush policy measured."""
    for k in ("SPARK_GRAFT_FAST_COMMIT", "SPARK_GRAFT_VIA_SUBMIT", "SPARK_GRAFT_OFFHEAP"):
        os.environ.pop(k, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_OFFHEAP_SIZE": OFFHEAP_SIZE,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    return env


def heap_live_mb(spark) -> float:
    """JVM heap in use after System.gc(), median of three."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
    return statistics.median(used)


def gc_seconds(spark) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def parquet_bytes(path: str) -> int:
    """Data files only: `_` sidecars (_meta, _settings) and `.` files
    (.crc, _SUCCESS) excluded."""
    total = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        total += sum(
            os.path.getsize(os.path.join(d, f))
            for f in files if not f.startswith(("_", "."))
        )
    return total


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ecmwf_models_spark")):
        print("clibench: engine package ecmwf_models_spark not found in "
              f"{ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    ticks0 = cpu_ticks()
    guard_start = contention_guard()
    env = configure(run_dir, nproc)
    sys.path.insert(0, ROOT)
    from workloads import APPEND_CONVS, APPEND_TURNS, WORKLOADS, Workload

    if args.workload not in WORKLOADS:
        print(f"clibench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    shape = WORKLOADS[args.workload]

    from checks import Oracle
    from spans import Spans, fold_event_log, median, per_op

    from ecmwf_models_spark.session import get_spark

    # C1-only JIT: a CLI command is a short-lived JVM that rarely reaches
    # C2, and under C2 a rep's time drifts ~30% over the first five reps,
    # which a run this short cannot wait out. C1 alone gets a 48 MB code
    # cache, which fills about a minute into a run and then stops all
    # compilation for the rest of it; 256 MB never fills here.
    extra = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
            f"{JIT_FLAGS}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    gateway = None
    oracle = Oracle(os.path.join(run_dir, "tmp"))
    try:
        t_setup = time.perf_counter()
        py_cpu0 = time.process_time()
        spark = get_spark("clibench", cores=nproc, extra_conf=extra)
        session_s = time.perf_counter() - t_setup
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        settings = {
            "master": spark.sparkContext.master,
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "SPARK_DRIVER_MEM": env["SPARK_DRIVER_MEM"],
            "SPARK_GRAFT_OFFHEAP_SIZE": env["SPARK_GRAFT_OFFHEAP_SIZE"],
            "SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
            "SPARK_GRAFT_FAST_COMMIT": "unset (atomic v1 committer)",
            "jit": f"C1 only ({JIT_FLAGS})",
            "event_log": bool(args.trace),
        }
        print(f"# settings: {json.dumps(settings)}")
        print(f"# guard start: {json.dumps(guard_start)}")

        spans = Spans(spark)
        wl = Workload(spark, spans, oracle, run_dir, shape, args.seed, bool(args.trace))
        wl.setup()
        setup_wall_s = time.perf_counter() - t_setup
        # the JVM started inside get_spark: all of its CPU time is set-up's
        setup_cpu_s = spans.jvm_cpu_seconds() + time.process_time() - py_cpu0

        def silver_bytes_per_turn():
            try:
                oracle.load_silver(wl.silver)
                return parquet_bytes(wl.silver) / oracle.silver_rows()
            except Exception as e:  # a failed rep left no silver: counted
                wl.problems.append(f"silver_bytes_per_turn: {e}")
                return 0.0

        if not shape.rebuild:
            # as set-up left it: a fixed number of appends behind it per
            # seed, whatever the speed of the timed loop
            bytes_per_turn = silver_bytes_per_turn()
        gc0 = gc_seconds(spark)
        cycle_s = wl.run(args.seconds)
        gc_per_cycle = (gc_seconds(spark) - gc0) / len(cycle_s)
        if shape.rebuild:  # the last timed rep's
            bytes_per_turn = silver_bytes_per_turn()
        wl.check_last_tiers()
        heap = heap_live_mb(spark)
        guard_end = contention_guard(spans.jvm_pid, ticks0)
        spark.stop()
        folded = fold_event_log(log_dir) if args.trace else {}
    finally:
        oracle.close()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(env["SPARK_LOCAL_DIRS"], ignore_errors=True)
        try:
            os.rmdir(WORK)  # only if no other run is using it
        except OSError:
            pass

    def layer(name):
        timed = spans.of(name, timed=True)
        return timed or spans.of(name)

    read_spans = spans.of("pointread.read", timed=True)
    reads = [s.seconds * 1000 for s in read_spans]
    appends = layer("incremental")
    ok_appends = [s for s in appends if s.timed and s.ok]
    # a run whose ops all failed still reports (failed > 0), with 0 rates
    write_s = median(wl.rep_s if shape.rebuild else [s.seconds for s in ok_appends])
    write_cpu_s = median(
        wl.rep_cpu_s if shape.rebuild else [s.cpu_s for s in ok_appends])
    turns = wl.bronze_turns if shape.rebuild else APPEND_CONVS * APPEND_TURNS
    turns_per_s = turns / write_s if write_s else 0.0
    turns_per_cpu_s = turns / write_cpu_s if write_cpu_s else 0.0
    read_cpu_ms = median(s.cpu_s for s in read_spans) * 1000
    read_p50 = median(reads)
    read_p90 = statistics.quantiles(reads, n=10)[8] if len(reads) > 1 else read_p50
    # the highest percentile with at least 10 reads beyond it
    tail_pct = max(50, int(100 * (1 - 10 / len(reads)))) if reads else 50
    read_tail = (statistics.quantiles(reads, n=100)[tail_pct - 1]
                 if len(reads) > 1 else read_p50)

    # Gated: CPU time (JVM + driver process, all threads), which leaves out
    # the time a busy host steals from this VM; see README, "Why CPU time".
    e2e = {
        "setup_s": (setup_cpu_s, "s"),
        "turns_per_cpu_s": (turns_per_cpu_s, "turns/s"),
        "read_cpu_ms": (read_cpu_ms, "ms"),
        "silver_bytes_per_turn": (bytes_per_turn, "B/turn"),
        "heap_live_mb": (heap, "MB"),
    }
    # Printed, not gated: the same ops in wall time, and the failure share.
    shown = dict(e2e, **{
        "setup_wall_s": (setup_wall_s, "s"),
        "turns_per_s": (turns_per_s, "turns/s"),
        "read_p50_ms": (read_p50, "ms"),
        "read_p90_ms": (read_p90, "ms"),
        "read_tail_ms": (read_tail, f"ms (p{tail_pct} of {len(reads)} reads)"),
        "append_p50_ms": (median(s.seconds for s in appends) * 1000, "ms"),
        "append_cpu_ms": (median(s.cpu_s for s in appends) * 1000, "ms"),
        "fail_share": (wl.failed / max(wl.attempted, 1), "ratio"),
    })

    tiers = [layer(f"tiers.{t}") for t in ("hourly", "daily", "monthly")]
    tier_spans = [s for t in tiers for s in t]
    n_reps = max(len(tiers[0]), 1)
    reshuffles = layer("reshuffle")
    opened = layer("pointread.open")
    timed_ops = [s for s in spans.spans if s.timed]
    per_layer = {
        "session.start_s": (session_s, "s"),
        "synth.bronze_s": (spans.of("synth")[0].seconds, "s"),
        "reshuffle.busy_s": (median(s.seconds for s in reshuffles), "s"),
        "reshuffle.cpu_s": (median(s.cpu_s for s in reshuffles), "s"),
        "reshuffle.jobs": (median(s.jobs for s in reshuffles), "count"),
        "reshuffle.shuffle_write_bytes": (per_op(folded, reshuffles, "shuffle_write_bytes"), "B"),
        "reshuffle.spill_bytes": (per_op(folded, reshuffles, "spill_bytes"), "B"),
        "reshuffle.bytes_out": (per_op(folded, reshuffles, "bytes_out"), "B"),
        "tiers.hourly_s": (median(s.seconds for s in tiers[0]), "s"),
        "tiers.daily_s": (median(s.seconds for s in tiers[1]), "s"),
        "tiers.monthly_s": (median(s.seconds for s in tiers[2]), "s"),
        "tiers.cpu_s": (sum(s.cpu_s for s in tier_spans) / n_reps, "s"),
        "tiers.jobs": (sum(s.jobs for s in tier_spans) / n_reps, "count"),
        "tiers.shuffle_write_bytes": (
            sum(per_op(folded, t, "shuffle_write_bytes") for t in tiers), "B"),
        "tiers.cells_committed": (
            sum(s.info["cells"] for s in tier_spans) / n_reps, "count"),
        "incremental.extend_s": (median(s.seconds for s in appends), "s"),
        "incremental.cpu_s": (median(s.cpu_s for s in appends), "s"),
        # the fewest over every extend of the run: see README, job counts
        "incremental.jobs": (
            min((s.jobs for s in spans.of("incremental")), default=0), "count"),
        "incremental.cells_rewritten": (median(s.info["cells"] for s in appends), "count"),
        "incremental.rows_rewritten_per_new_row": (median(
            s.info["rewritten"] / s.info["new_rows"]
            for s in appends if "rewritten" in s.info), "ratio"),
        "pointread.open_ms": (median(s.seconds for s in opened) * 1000, "ms"),
        "pointread.route_ms": (
            median(s.seconds for s in layer("pointread.route")) * 1000, "ms"),
        "pointread.read_ms": (read_p50, "ms"),
        "pointread.read_p90_ms": (read_p90, "ms"),
        "pointread.read_cpu_ms": (read_cpu_ms, "ms"),
        "pointread.jobs_per_read": (median(s.jobs for s in read_spans), "count"),
        "pointread.rows_per_read": (median(s.info["rows"] for s in read_spans), "rows"),
        "jvm.gc_s": (gc_per_cycle, "s"),
        "spark.stages_per_op": (per_op(folded, timed_ops, "stages"), "count"),
        "spark.tasks_per_op": (per_op(folded, timed_ops, "tasks"), "count"),
        "trace.turns_per_cpu_s": (turns_per_cpu_s, "turns/s"),
        "trace.read_cpu_ms": (read_cpu_ms, "ms"),
        "trace.turns_per_s": (turns_per_s, "turns/s"),
        "trace.read_p50_ms": (read_p50, "ms"),
    }

    print(f"# guard end: {json.dumps(guard_end)}")
    print(f"# cycles: {len(cycle_s)} timed after {shape.warmup} warm-up, "
          f"seconds {[round(x, 2) for x in cycle_s]}; reads: {len(reads)}; "
          f"appends: {len(spans.of('incremental', timed=True))}")
    for name, (v, unit) in list(shown.items()) + (
        list(per_layer.items()) if args.trace else []
    ):
        print(f"# {name} = {v:.6g} {unit}")
    for msg in wl.problems[:20]:
        print(f"# problem: {msg}")
    metrics = per_layer if args.trace else e2e
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
