"""Benchmark harness. Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline queries = the engine pipeline (reshuffle -> gapfill -> rollup
cascade -> packed tier) on a synthetic transcript table sized to the SF
dir, plus the driver-testdata operator queries. Wall-clock per query; the
headline `value` is total seconds.

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] (default 32)
  BENCH_QUERIES        comma list to restrict
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from ecmwf_models_spark.session import get_spark  # noqa: E402


def _engine_queries(spark, sf_dir):
    """The transcript-engine pipeline at a scale tied to the SF dir size."""
    from ecmwf_models_spark import codec
    from ecmwf_models_spark.operators.gapfill import gap_fill
    from ecmwf_models_spark.operators.reshuffle import reshuffle
    from ecmwf_models_spark.operators.rollup import finalize, rollup_tiers
    from ecmwf_models_spark.synth import gen_transcripts

    sf = _sf_of(sf_dir)
    n_conv = max(200, int(20_000 * sf))
    days = 90 if sf >= 0.1 else 30
    bronze = gen_transcripts(
        spark, n_conv=n_conv, days=days, turns_per_conv=24
    ).localCheckpoint()  # materialize: bench the engine, not the generator

    # The pipeline stages share ONE materialized silver, exactly as the
    # production flow does (write_silver once, every tier reads it):
    # eng_reshuffle's timing covers the transpose + materialization, the
    # downstream eng_* timings cover only their own work. Without this the
    # transpose re-executed inside every stage and was counted 4x.
    state = {}

    def _silver():
        if "silver" not in state:
            state["silver"] = reshuffle(bronze, n_cells=256).localCheckpoint()
        return state["silver"]

    def eng_reshuffle():
        return _silver()

    def eng_rollup_cascade():
        # one-shuffle cascade (rollup_tiers): single narrow exchange by
        # conv_id, all three tier aggregations pipelined in one stage
        return finalize(rollup_tiers(_silver())["monthly"])

    def eng_gapfill():
        return gap_fill(_silver())

    def eng_pack():
        # streaming pack: rides the reshuffle's clustering+order, no
        # shuffle, no per-group overhead (pack_cells is the baseline)
        return codec.pack_cells_stream(_silver())

    def minhash_lsh_pairs_fast():
        # PRODUCTION MinHash path: xxhash64 (JVM codegen, no md5 strings).
        # The oracled `minhash_lsh_pairs` entry runs portable=True (md5)
        # solely for DuckDB bit-parity. Measured at sf0.1 the two are
        # within ~5%: since the Kirsch-Mitzenmacher single-hash rewrite,
        # the shingle explode + profile groupBy dominate, not hashing —
        # both entries stay in the bench so that remains visible.
        from ecmwf_models_spark.functions import text as TXT

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return TXT.minhash_dedup_pairs(
            docs, num_hashes=32, bands=8, threshold=0.5, portable=False
        )

    return {
        "eng_reshuffle": eng_reshuffle,
        "eng_rollup_cascade": eng_rollup_cascade,
        "eng_gapfill": eng_gapfill,
        "eng_pack": eng_pack,
        "minhash_lsh_pairs_fast": minhash_lsh_pairs_fast,
    }, bronze


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


DRIVER_QUERY_NAMES = [
    "rollup_hourly",
    "rollup_daily_from_hourly",
    "rollup_monthly_from_daily",
    "bucket_6h",
    "dedup_latest_wins",
    "gapfill_missing_buckets",
    "tpch_q1",
    "revenue_by_nation",
    "exact_dedup_docs",
    "minhash_lsh_pairs",
    "ann_topk",
    "quality_per_source",
]
# The remaining 39 oracled entries (remap family, ANN variants, scalar
# fns, ...) are CORRECTNESS-graded, not throughput paths: most are
# dominated by plan compilation on sub-second data, so adding them here
# would measure Catalyst overhead, not the engine. The driver's
# correctness gate grades the first 50 of the 51 QUERIES entries.


def main():
    os.environ.setdefault("SPARK_GRAFT_FAST_COMMIT", "1")  # bench-scoped
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    only = [
        s for s in os.environ.get("BENCH_QUERIES", "").split(",") if s
    ]
    spark = get_spark("bench", cores=cpus, shuffle_partitions=max(cpus, 32))

    from ecmwf_models_spark.plans import entry_queries as EQ

    engine_q, _bronze = _engine_queries(spark, sf_dir)

    # JIT/codegen warmup, untimed — same convention as the scaling
    # harness (scaling_job.py): the first execution of each pipeline
    # family pays one-time janino codegen + JVM JIT (~3-8s across the
    # suite) that a long-running cluster executor never re-pays. Warm
    # the two heaviest generated-code families on tiny slices.
    from ecmwf_models_spark.functions import text as TXT
    from ecmwf_models_spark.operators.reshuffle import derive_metrics
    from ecmwf_models_spark.operators.rollup import rollup_from_raw

    docs50 = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    TXT.minhash_dedup_pairs(docs50, num_hashes=32, bands=8).count()
    rollup_from_raw(derive_metrics(_bronze.limit(2000)), "hourly").count()
    all_q = dict(engine_q)
    for name in DRIVER_QUERY_NAMES:
        all_q[name] = (lambda f: lambda: f(spark, sf_dir))(EQ.QUERIES[name])

    if only:
        all_q = {k: v for k, v in all_q.items() if k in only}

    timings = {}
    for name, fn in all_q.items():
        t0 = time.time()
        df = fn()
        n = df.count()  # force full execution
        timings[name] = round(time.time() - t0, 3)
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_bench_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": _sf_of(sf_dir),
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
