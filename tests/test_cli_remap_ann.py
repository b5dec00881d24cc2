"""CLI surface for the remap family and the materialized ANN index —
every library capability is also a command (reference cli.py:476-497
precedent). Drives cli.main() in-process against the shared session."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from ecmwf_models_spark import cli
from ecmwf_models_spark.functions import similarity as S


@pytest.fixture()
def argv_runner(spark, monkeypatch):
    # cli._spark would build its own session; reuse the test one
    monkeypatch.setattr(cli, "_spark", lambda args: spark)

    def run(*argv):
        cli.main(list(argv))

    return run


def test_cli_remap_con_and_con2(spark, tmp_path, argv_runner):
    field = spark.createDataFrame(
        [(i, 3.5 * ((i + 0.5) / 64) - 1.25) for i in range(64)],
        ["cell_id", "value"],
    )
    fdir = str(tmp_path / "field")
    field.write.parquet(fdir)
    for method in ("con", "con2"):
        out = str(tmp_path / f"out_{method}")
        argv_runner(
            "remap", "--field", fdir, "--out", out,
            "--method", method, "--n-src", "64", "--n-dst", "24",
        )
        got = spark.read.parquet(out).toPandas()
        assert len(got) == 24
        assert {"dst_cell", "value_remap", "w_sum"} <= set(got.columns)
    # con2 on a linear field reproduces the exact dst means; con does not
    con2 = spark.read.parquet(str(tmp_path / "out_con2")).toPandas()
    for _, r in con2.iterrows():
        expect = 3.5 * ((int(r["dst_cell"]) + 0.5) / 24) - 1.25
        assert r["value_remap"] / r["w_sum"] == pytest.approx(
            expect, abs=1e-9
        )


def test_cli_remap_2d_requires_grid(tmp_path, argv_runner, spark):
    field = spark.createDataFrame([(0, 1.0)], ["cell_id", "value"])
    fdir = str(tmp_path / "f2")
    field.write.parquet(fdir)
    with pytest.raises(SystemExit):
        argv_runner(
            "remap", "--field", fdir, "--out", str(tmp_path / "o2"),
            "--method", "bil",
        )
    with pytest.raises(SystemExit):
        argv_runner(
            "remap", "--field", fdir, "--out", str(tmp_path / "o3"),
            "--method", "con2",
        )


def test_cli_remap_bilinear_2d(spark, tmp_path, argv_runner):
    # 4x4 source grid, field linear in (lat, lon); interior dst points
    # reproduce it exactly (bilinear's defining property)
    field = spark.createDataFrame(
        [(i * 4 + j, 2.0 * i + 3.0 * j) for i in range(4) for j in range(4)],
        ["cell_id", "value"],
    )
    fdir = str(tmp_path / "fld2d")
    field.write.parquet(fdir)
    dst = spark.createDataFrame(
        [(0, 0.5, 1.5), (1, 2.25, 0.75)], ["gpi", "lat", "lon"]
    )
    ddir = str(tmp_path / "dst")
    dst.write.parquet(ddir)
    out = str(tmp_path / "bil_out")
    argv_runner(
        "remap", "--field", fdir, "--out", out, "--method", "bil",
        "--dst-points", ddir, "--grid", "0,1,4,0,1,4",
    )
    got = (
        spark.read.parquet(out).toPandas().set_index("dst_cell")
    )
    assert got.loc[0, "value_remap"] == pytest.approx(2.0 * 0.5 + 3.0 * 1.5)
    assert got.loc[1, "value_remap"] == pytest.approx(2.0 * 2.25 + 3.0 * 0.75)


def _query_arg(qv) -> str:
    # --query= form: a vector starting with a negative component would
    # otherwise parse as an option flag
    return "--query=" + ",".join(str(float(x)) for x in qv)


def test_cli_ann_index_and_query(spark, tmp_path, argv_runner, sf_dir, capsys):
    """The default round trip: ann-index builds a cross-polytope index
    and ann-query probes it with the method and table count the index
    recorded in its _settings; an index without them is refused."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    src = str(tmp_path / "emb")
    emb.write.parquet(src)
    idx = str(tmp_path / "annidx")
    argv_runner("ann-index", "--embeddings", src, "--out", idx)
    files = spark.read.parquet(idx)
    assert {"cp_table", "cp_bucket"} <= set(files.columns)

    qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
    capsys.readouterr()
    argv_runner("ann-query", "--index", idx, _query_arg(qv), "--k", "5")
    out = capsys.readouterr().out
    # the query vector itself is always its own nearest neighbour
    lines = [l for l in out.splitlines() if l.strip()]
    vec_id, cos_sim = lines[1].split()[1:]
    assert (vec_id, float(cos_sim)) == ("0", 1.0), out

    shutil.rmtree(f"{idx}/_settings")
    with pytest.raises(SystemExit, match="method"):
        argv_runner("ann-query", "--index", idx, _query_arg(qv))


def test_cli_ann_index_and_query_ivf(
    spark, tmp_path, argv_runner, sf_dir, capsys
):
    """--method ivf round-trip: the materialized IVF index (data
    partitioned by ivf_cell + persisted _quantizer) built and queried
    entirely through the CLI answers like ann_topk_ivf with the
    persisted quantizer."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    src = str(tmp_path / "emb")
    emb.write.parquet(src)
    idx = str(tmp_path / "ivfidx")
    argv_runner(
        "ann-index", "--embeddings", src, "--out", idx,
        "--method", "ivf", "--n-centroids", "8", "--lloyd-iters", "1",
    )
    files = spark.read.parquet(idx)
    assert "ivf_cell" in files.columns
    # quantizer travels with the index (underscore dir: hidden from reads)
    quant = spark.read.parquet(f"{idx}/_quantizer")
    assert quant.count() == 8

    qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
    capsys.readouterr()
    argv_runner(
        "ann-query", "--index", idx, _query_arg(qv),
        "--k", "5", "--n-probe", "3",
    )
    want = S.ann_topk_ivf(
        emb, list(qv), k=5, n_probe=3,
        centroids=S.load_ivf_quantizer(spark, idx),
    )
    assert capsys.readouterr().out == want.toPandas().to_string() + "\n"


def test_cli_ann_index_and_query_cp(
    spark, tmp_path, argv_runner, sf_dir, capsys
):
    """--method cp round-trip: the materialized cross-polytope index
    (one directory tree per table, partitioned by (cp_table, cp_bucket))
    built with 4 tables is queried through all 4 — the query gives no
    table count — and answers exactly like ann_topk_cp."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    src = str(tmp_path / "emb")
    emb.write.parquet(src)
    idx = str(tmp_path / "cpidx")
    argv_runner(
        "ann-index", "--embeddings", src, "--out", idx,
        "--method", "cp", "--n-tables", "4",
    )

    qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
    capsys.readouterr()
    argv_runner(
        "ann-query", "--index", idx, _query_arg(qv),
        "--k", "5", "--m-probe", "3",
    )
    want = S.ann_topk_cp(emb, list(qv), k=5, n_tables=4, m_probe=3)
    assert capsys.readouterr().out == want.toPandas().to_string() + "\n"
