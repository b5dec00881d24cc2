"""Scalar column functions — the reference's numpy helpers (SURVEY 2.8)
re-expressed as Catalyst expressions (JVM-side, codegen'd; no UDFs).

F1 trafo_lon      (reference grid.py:13-29)      -> grid.trafo_lon
F2 safe_arange    (reference grid.py:32-56)      -> safe_sequence below
F3 datetime fmt   (reference globals.py:4-5,17)  -> fname_ts / doy_dir
F4 template parse (reference utils.py:325-332)   -> parse_fname
F7 is_sorted      (reference utils.py:419-421)   -> is_sorted_within
F8 round3         (reference reshuffle.py:194-6) -> round3
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

FNAME_TEMPL = r"^([A-Z0-9-]+)_([A-Z]+)_(\d{8}_\d{4})\.(\w+)$"


def safe_sequence(start: float, stop: float, step: float) -> Column:
    """Float-precise arange as an array column: integer arithmetic over
    scaled values, divided at the end (safe_arange semantics)."""
    scale = 1_000_000
    return F.transform(
        F.sequence(
            F.lit(int(round(start * scale))),
            F.lit(int(round(stop * scale)) - 1),
            F.lit(int(round(step * scale))),
        ),
        lambda x: x / scale,
    )


def fname_ts(ts: Column) -> Column:
    """Timestamp -> the reference's filename datetime `%Y%m%d_%H%M`."""
    return F.date_format(ts, "yyyyMMdd_HHmm")


def doy_dir(ts: Column) -> Column:
    """Timestamp -> the reference's `YYYY/DOY` subdir (globals.py:17)."""
    return F.concat_ws(
        "/",
        F.date_format(ts, "yyyy"),
        F.lpad(F.dayofyear(ts).cast("string"), 3, "0"),
    )


def parse_fname(fname: Column) -> Column:
    """Parse `{product}_{type}_{Ymd_HM}.{ext}` into a struct
    (product, kind, ts, ext) — filename-template parse (utils.py:325-332)."""
    return F.struct(
        F.regexp_extract(fname, FNAME_TEMPL, 1).alias("product"),
        F.regexp_extract(fname, FNAME_TEMPL, 2).alias("kind"),
        F.to_timestamp(
            F.regexp_extract(fname, FNAME_TEMPL, 3), "yyyyMMdd_HHmm"
        ).alias("ts"),
        F.regexp_extract(fname, FNAME_TEMPL, 4).alias("ext"),
    )


def round3(c: Column) -> Column:
    return F.round(c, 3)


def is_sorted_within(
    df: DataFrame, part_cols: list[str], order_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group monotonicity check (is_sorted, utils.py:419-421): within
    each part_cols group, in order_cols sequence order, does value_col
    never decrease? One row per group with sorted:boolean, via lag +
    bool_and."""
    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return (
        df.withColumn("_prev", F.lag(value_col).over(w))
        .groupBy(*part_cols)
        .agg(
            F.bool_and(
                F.col("_prev").isNull() | (F.col(value_col) >= F.col("_prev"))
            ).alias("sorted")
        )
    )
