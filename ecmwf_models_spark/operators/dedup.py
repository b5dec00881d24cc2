"""Duplicate resolution: final-over-preliminary, latest-writer-wins.

Reference semantics: when both ERA5_*.nc and ERA5-T_*.nc exist for one
timestamp, the final file silently wins (fn_templ_priority,
reference interface.py:289-296,344-354; golden test
tests/tests_era5/test_era5_reshuffle.py:61-74 — the 99-valued duplicate
must not leak). Graft: duplicate (conv_id, turn_idx) rows resolved by
(is_prelim asc, ingest_ts desc, payload hash).

Spark-first: a single window dedup — Catalyst plans it as one shuffle on
the partition keys which is then REUSED by the reshuffle's range partition
when they share keys. At 100 TB the window runs map-side-combinable only
if we pre-aggregate; row_number is the exact semantics so we keep it, but
the partition key (conv_id) distributes well and AQE splits skewed convs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def latest_final_wins(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    prelim_col: str = "is_prelim",
    ingest_col: str = "ingest_ts",
) -> DataFrame:
    """Keep exactly one row per key, ranked as reshuffle() ranks: final
    (a NULL prelim flag counts as final) before preliminary, then the
    latest ingest (a NULL ingest time falls back to `ts`), then the
    xxhash64 of the other columns. Deterministic for any input order."""
    order = []
    if prelim_col in df.columns:
        order.append(F.coalesce(F.col(prelim_col), F.lit(False)).asc())
    if ingest_col in df.columns:
        order.append(F.coalesce(F.col(ingest_col), F.col("ts")).desc())
    payload = [c for c in df.columns if c not in (*keys, prelim_col, ingest_col)]
    order.append(F.xxhash64(*payload))
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def drop_prelim(df: DataFrame, prelim_col: str = "is_prelim") -> DataFrame:
    """Ingest-time policy: drop preliminary rows outright
    (reference extract.py:165-188, keep_prelim=False path). A NULL prelim
    flag counts as final, as latest_final_wins ranks it."""
    return df.where(~F.coalesce(F.col(prelim_col), F.lit(False)))
