"""Deterministic synthetic transcript generator (the graft's test-data
submodule; reference keeps golden fixtures in a git submodule,
reference .gitmodules:1-3).

Everything is derived from integer arithmetic + xxhash64 over
`spark.range` — no Python loops, no rand(), so output is identical at any
parallelism level and any scale (the generator itself distributes).

Schema per BASELINE.json input_hint:
    conv_id string, turn_idx int, role string, text string,
    tool string, ts timestamp
plus engine metadata columns `is_prelim boolean, ingest_ts timestamp`
(the reference encodes preliminary-ness in the ERA5-T filename,
reference interface.py:289-296; we carry it as a column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

BASE_TS = "2010-01-01 00:00:00"  # mirrors the reference fixture date
                                 # (tests/tests_era5/test_era5_interface.py:252)
STEP_HOURS = 6                   # the regular 6-hourly grid (interface.py:268)

ROLES = ("user", "assistant", "tool")
N_TOOLS = 8


def gen_transcripts(
    spark: SparkSession,
    n_conv: int = 500,
    days: int = 31,
    turns_per_conv: int = 24,
    hot_every: int = 100,     # every k-th conv is "hot" (skew knob)
    hot_factor: int = 50,     # hot convs get this many x turns
    offgrid_frac_mod: int = 5,  # 1/mod of turns land off the 6-hourly grid
    prelim_frac_mod: int = 20,  # 1/mod of turns get a preliminary duplicate
    seed: int = 42,
) -> DataFrame:
    """Bronze transcript table, deterministic in (n_conv, days, ..., seed)."""
    n_buckets = days * (24 // STEP_HOURS)

    convs = (
        spark.range(n_conv)
        .withColumnRenamed("id", "conv_i")
        .withColumn(
            "n_turns",
            F.when(
                (F.col("conv_i") % hot_every) == 0,
                F.lit(turns_per_conv * hot_factor),
            ).otherwise(F.lit(turns_per_conv)),
        )
    )

    turns = convs.select(
        "conv_i",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )

    h = F.xxhash64(
        F.col("conv_i").cast("string"),
        F.col("turn_idx").cast("string"),
        F.lit(seed),
    )
    # spread each conv's turns across the day range; off-grid offset for a
    # deterministic subset exercises bucketing (fixture F1).
    bucket_i = F.pmod(
        F.col("conv_i") * 7 + F.col("turn_idx"), F.lit(n_buckets)
    )
    offgrid_secs = F.when(
        F.pmod(h, F.lit(offgrid_frac_mod)) == 0,
        (F.pmod(h, F.lit(STEP_HOURS * 3600 - 60)) + 60),
    ).otherwise(F.lit(0))

    df = turns.select(
        F.format_string("conv-%06d", F.col("conv_i")).alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.element_at(
            F.array(*[F.lit(r) for r in ROLES]),
            (F.pmod(F.col("turn_idx"), F.lit(3)) + 1).cast("int"),
        ).alias("role"),
        F.concat_ws(
            ":",
            F.format_string("conv-%06d", F.col("conv_i")),
            F.col("turn_idx").cast("string"),
            F.substring(
                F.sha1(
                    F.concat_ws(
                        "|",
                        F.col("conv_i").cast("string"),
                        F.col("turn_idx").cast("string"),
                        F.lit(seed),
                    )
                ),
                1,
                16,
            ),
        ).alias("text"),
        F.when(
            F.pmod(F.col("turn_idx"), F.lit(3)) == 2,
            F.format_string("tool-%d", F.pmod(h, F.lit(N_TOOLS)).cast("int")),
        ).alias("tool"),
        (
            F.to_timestamp(F.lit(BASE_TS))
            + F.make_interval(
                secs=(bucket_i * (STEP_HOURS * 3600) + offgrid_secs).cast(
                    "double"
                )
            )
        ).alias("ts"),
        h.alias("_h"),
    )

    base = df.withColumn("is_prelim", F.lit(False)).withColumn(
        "ingest_ts", F.col("ts")
    )
    # preliminary duplicates: same (conv_id, turn_idx), sentinel text that
    # must never survive dedup (reference test_era5_reshuffle.py:61-74 — the
    # 99-valued ERA5-T image must not leak into output).
    prelim = (
        df.where(F.pmod(F.col("_h"), F.lit(prelim_frac_mod)) == 1)
        .withColumn("text", F.lit("PRELIM-99"))
        .withColumn("is_prelim", F.lit(True))
        .withColumn("ingest_ts", F.col("ts") - F.expr("INTERVAL 1 HOUR"))
    )
    return base.unionByName(prelim).drop("_h")


def gen_conv_dim(
    spark: SparkSession, n_conv: int, n_cells: int = 64, seed: int = 42
) -> DataFrame:
    """Dimension table (conv_id, cell_id, is_active) — the graft analogue of
    grid.nc + the land mask (reference grid.py:86-142: land subgrid keeps
    244,450 of 1,038,240 points; here ~75% active)."""
    return spark.range(n_conv).select(
        F.format_string("conv-%06d", F.col("id")).alias("conv_id"),
        F.pmod(
            F.xxhash64(F.format_string("conv-%06d", F.col("id"))),
            F.lit(n_cells),
        )
        .cast("int")
        .alias("cell_id"),
        (
            F.pmod(
                F.xxhash64(F.format_string("conv-%06d", F.col("id")), F.lit(seed)),
                F.lit(4),
            )
            != 0
        ).alias("is_active"),
    )


def gen_clustered_embeddings(spark: SparkSession) -> DataFrame:
    """(vec_id int, embedding array<double>): 400 vectors of dim 16 in 16
    angular clusters (vec_id % 16), each a fixed cos-pattern centre plus
    a small sin perturbation — the clustered corpus on which IVF is the
    ANN family of choice (the sf embeddings tables are near-random)."""
    dim, n_clusters = 16, 16
    df = spark.range(400).select(
        F.col("id").cast("int").alias("vec_id"),
        (F.col("id") % n_clusters).alias("c"),
    )
    center = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.cos(F.col("c") * 2.39996 + d * 0.73),
    )
    perturb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.sin(F.col("vec_id") * 1.17 + d * 2.01) * 0.05,
    )
    return df.select(
        "vec_id",
        F.zip_with(center, perturb, lambda a, b: a + b).alias("embedding"),
    )
