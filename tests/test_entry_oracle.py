"""Self-check mimicking the driver's gate: run each queries() entry on
Spark AND its oracle_sql() on DuckDB over the same parquet, compare
row-count, column names, and order-insensitive values."""

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from ecmwf_models_spark.functions import text as TXT
from ecmwf_models_spark.operators import bucket, dedup, gapfill, masking

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif str(pdf[c].dtype).startswith(("int", "uint", "Int")):
            pdf[c] = pdf[c].astype("int64")
        elif str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].astype("float64").round(6)
        elif str(pdf[c].dtype) == "bool":
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


ORACLED = sorted(entry_mod.oracle_sql().keys())

# entry -> the engine operator it grades
ROUTED = [
    ("bucket_6h", bucket, "bucket_col"),
    ("h_steps_selection", bucket, "filter_h_steps"),
    ("gapfill_missing_buckets", gapfill, "gap_fill"),
    ("semijoin_active", masking, "subgrid_gather"),
    ("version_coalesce", masking, "coalesce_versions"),
    ("dedup_latest_wins", dedup, "latest_final_wins"),
    ("exact_dedup_docs", TXT, "exact_dedup"),
]


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema) > 0


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    ours = _canon(q(spark, SF).toPandas())
    theirs = _canon(ddb.execute(entry_mod.oracle_sql()[name]).df())
    assert list(ours.columns) == list(theirs.columns), (
        f"{name}: cols {list(ours.columns)} vs {list(theirs.columns)}"
    )
    assert len(ours) == len(theirs), f"{name}: {len(ours)} vs {len(theirs)} rows"
    pd.testing.assert_frame_equal(
        ours, theirs, check_dtype=False, check_exact=False, atol=1e-6,
        obj=name,
    )


def test_every_entry_is_oracled_and_graded():
    """Every queries() entry has a DuckDB oracle, and there are at most
    50 of them: the correctness gate grades only the first 50."""
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())
    assert len(entry_mod.queries()) <= 50


@pytest.mark.parametrize(
    "name,module,op", ROUTED, ids=[name for name, _, _ in ROUTED]
)
def test_entry_runs_its_operator(spark, monkeypatch, name, module, op):
    """The entry builds its frame with the operator it grades, so the
    oracle grades the engine, not an inline twin of it."""
    real, calls = getattr(module, op), []

    def spy(*args, **kwargs):
        calls.append(op)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, op, spy)
    entry_mod.queries()[name](spark, SF)
    assert calls, f"{name} does not call {module.__name__}.{op}"
