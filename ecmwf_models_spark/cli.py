"""CLI — the `era5` command-group shape (reference cli.py:476-497:
download / update_img / reshuffle / update_ts) mapped to the engine:

    python -m ecmwf_models_spark.cli ingest    --out DIR [--n-conv N ...]
    python -m ecmwf_models_spark.cli reshuffle --bronze DIR --out DIR
    python -m ecmwf_models_spark.cli rollup    --silver DIR --out DIR --tiers hourly,daily,monthly
    python -m ecmwf_models_spark.cli extend    --silver DIR --bronze DIR
    python -m ecmwf_models_spark.cli read      --silver DIR --conv-id ID
    python -m ecmwf_models_spark.cli update-img --bronze DIR --out DIR
    python -m ecmwf_models_spark.cli remap     --field DIR --out DIR --method con2 --n-src 64 --n-dst 24
    python -m ecmwf_models_spark.cli ann-index --embeddings DIR --out DIR [--method cp|ivf]
    python -m ecmwf_models_spark.cli ann-query --index DIR --query 0.1,0.2,... --k 10
    python -m ecmwf_models_spark.cli bench     [--sf-dir DIR --cpus N]

Commands over a written table take the settings that fix its layout from
the table's `_settings` (lineage.write_run_settings): `rollup`, `extend`
and `read` the silver's n_cells, `ann-query` the index's method and
table count. A table without them is refused.

On a real cluster each subcommand is the driver program for
`spark-submit --py-files ecmwf_models_spark.zip`.
"""

from __future__ import annotations

import argparse
import sys


def _spark(args):
    from .session import get_spark

    return get_spark("cli", cores=args.cpus)


def _run_settings(spark, path: str, required: list[str]) -> dict:
    """The settings recorded in <path>/_settings by the command that wrote
    `path`; exits non-zero when any of `required` is missing."""
    from .lineage import read_run_settings

    stored = read_run_settings(spark, f"{path}/_settings")
    missing = [k for k in required if k not in stored]
    if missing:
        raise SystemExit(f"{path}/_settings records no {missing}")
    return stored


def _silver_n_cells(spark, silver: str) -> int:
    return int(_run_settings(spark, silver, ["n_cells"])["n_cells"])


def cmd_ingest(args):
    from pyspark.sql import functions as F

    from .synth import gen_transcripts

    spark = _spark(args)
    df = gen_transcripts(
        spark,
        n_conv=args.n_conv,
        days=args.days,
        turns_per_conv=args.turns,
    )
    # Bronze is DATE-partitioned — the engine's analogue of the
    # reference's YYYY/DOY image tree (save_ncs_from_nc,
    # reference extract.py:110-226): a ts-range scan of bronze prunes
    # whole day directories (PartitionFilters) instead of reading the
    # full table, and incremental extends append only new day partitions.
    df = df.withColumn("ds", F.to_date("ts"))
    df.write.mode("overwrite").partitionBy("ds").parquet(args.out)
    print(f"wrote {df.count()} bronze rows to {args.out}")


def cmd_reshuffle(args):
    from .lineage import write_run_settings
    from .operators.reshuffle import reshuffle, write_silver

    spark = _spark(args)
    bronze = spark.read.parquet(args.bronze)
    silver = reshuffle(
        bronze,
        n_cells=args.n_cells,
        salt_segment_hours=args.salt_segment_hours,
    )
    write_silver(silver, args.out)
    # the overview.yml parameter block: rollup/extend/read route with
    # THIS grid (reference reshuffle.py:280-295)
    write_run_settings(
        spark,
        f"{args.out}/_settings",
        {
            "n_cells": args.n_cells,
            "salt_segment_hours": args.salt_segment_hours,
        },
    )
    print(f"silver written to {args.out}")


def cmd_rollup(args):
    from .grid import with_cell_id
    from .lineage import ResumableTierWriter
    from .operators.rollup import TIERS, finalize, rollup_tiers

    tiers = args.tiers.split(",")
    unknown = sorted(set(tiers) - set(TIERS))
    if unknown:
        raise SystemExit(f"rollup: unknown tiers {unknown}; choose from {TIERS}")
    spark = _spark(args)
    n_cells = _silver_n_cells(spark, args.silver)
    frames = rollup_tiers(spark.read.parquet(args.silver))
    for tier in TIERS:
        if tier not in tiers:
            continue
        w = ResumableTierWriter(
            spark,
            f"{args.out}/{tier}",
            f"{args.out}/_lineage",
            tier=tier,
        )
        n = w.run(with_cell_id(finalize(frames[tier]), n_cells))
        print(f"tier {tier}: {n} cells committed")


def cmd_extend(args):
    from .incremental import extend_silver

    spark = _spark(args)
    n_cells = _silver_n_cells(spark, args.silver)
    new_bronze = spark.read.parquet(args.bronze)
    cells = extend_silver(spark, args.silver, new_bronze, n_cells=n_cells)
    print(f"extended {len(cells)} cells: {sorted(cells)[:20]}")


def cmd_read(args):
    from .operators.pointread import TsReader

    spark = _spark(args)
    n_cells = _silver_n_cells(spark, args.silver)
    pdf = TsReader(spark, args.silver, n_cells=n_cells).read(args.conv_id)
    print(pdf.to_string())


def cmd_update_img(args):
    """Streaming ingest pass — the reference's first-class `era5 update`
    image-extension command (reference cli.py:271-310 update_images):
    process every bronze file not yet in the checkpoint into the hourly
    stream rollup, then stop (Trigger.AvailableNow). Rerunning after new
    files land processes only the delta."""
    from .streaming.ingest import run_available_now

    spark = _spark(args)
    run_available_now(
        spark,
        input_dir=args.bronze,
        out_dir=args.out,
        checkpoint_dir=args.checkpoint or f"{args.out}/_checkpoint",
        watermark=args.watermark,
    )
    from pyspark.errors import AnalysisException

    from .lineage import is_path_not_found

    try:
        n = spark.read.parquet(args.out).count()
    except AnalysisException as e:
        # zero committed batches (empty bronze dir / all data late):
        # the sink holds only _spark_metadata — a successful no-op, not
        # an error (the reference's update_img on no new files). ONLY
        # absence maps to 0; a genuinely unreadable/corrupt sink must
        # surface, not masquerade as success.
        if not is_path_not_found(e):
            raise
        n = 0
    print(f"update-img: hourly stream table at {args.out} has {n} rows")


def _parse_grid(spec: str):
    lat0, dlat, nlat, lon0, dlon, nlon = (float(x) for x in spec.split(","))
    return lat0, dlat, int(nlat), lon0, dlon, int(nlon)


def cmd_remap(args):
    """Spatial remap as a first-class command (the reference exposes its
    CDO regrid through the CLI download path, cli.py:476-497 +
    era5/download.py:290-298 method list). 1-D cell-ring methods
    (con/con2/laf) take --n-src/--n-dst; 2-D point methods
    (bil/nn/bic/idw) take a dst-points parquet (id, lat, lon) plus the
    source grid spec. Weights are computed once and broadcast at apply —
    the reference's gencon-once / remap-many reuse contract."""
    from .operators import remap as R

    spark = _spark(args)
    fact = spark.read.parquet(args.field)
    method = args.method
    if method in ("con", "con2", "laf"):
        if args.n_src is None or args.n_dst is None:
            raise SystemExit(f"--n-src/--n-dst required for {method}")
        if method == "con":
            w = R.conservative_weights_1d(spark, args.n_src, args.n_dst)
            out = R.remap_weighted(
                fact, w, (args.value_col,), src_key=args.src_key
            )
        elif method == "con2":
            w = R.conservative_weights_1d_2nd(spark, args.n_src, args.n_dst)
            out = R.remap_con2(
                fact, w, args.value_col, args.n_src, src_key=args.src_key
            )
        else:
            w = R.conservative_weights_1d(spark, args.n_src, args.n_dst)
            out = R.remap_laf(fact, w, args.value_col, src_key=args.src_key)
    else:
        if not args.dst_points or not args.grid:
            raise SystemExit(f"--dst-points/--grid required for {method}")
        grid = _parse_grid(args.grid)
        dst = spark.read.parquet(args.dst_points)
        builder = {
            "bil": R.bilinear_weights_2d,
            "nn": R.nearest_weights_2d,
            "bic": R.bicubic_weights_2d,
            "dis": R.idw_weights_2d,
            "idw": R.idw_weights_2d,
        }[method]
        w = builder(dst, *grid)
        out = R.remap_weighted(
            fact, w, (args.value_col,), src_key=args.src_key
        )
    out.write.mode("overwrite").parquet(args.out)
    print(f"remap[{method}]: {out.count()} dst rows -> {args.out}")


def cmd_ann_index(args):
    """Materialize an ANN index: embeddings written partitioned by the
    probe key (per-table cp_bucket trees, or ivf_cell) so queries become
    directory-level partition pruning. IVF persists its quantizer under
    _quantizer. The method (and cp's table count) go to <out>/_settings,
    so ann-query probes the index as it was built."""
    from .functions import similarity as S
    from .lineage import write_run_settings

    spark = _spark(args)
    emb = spark.read.parquet(args.embeddings)
    if args.method == "cp":
        dim = args.dim
        if not dim:
            first = emb.select(args.vec_col).first()
            if first is None:
                raise SystemExit(
                    "ann-index: embeddings table is empty — pass --dim or "
                    "provide data"
                )
            dim = len(first[0])
        S.write_cp_index(
            emb, args.out, dim, n_tables=args.n_tables,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        write_run_settings(
            spark, f"{args.out}/_settings",
            {"method": "cp", "n_tables": args.n_tables},
        )
        print(
            f"ann-index: {args.out} (cp, dim={dim}, "
            f"tables={args.n_tables})"
        )
    else:
        if emb.select(args.vec_col).first() is None:
            raise SystemExit("ann-index: embeddings table is empty")
        cents = S.ivf_seed_centroids(
            emb, args.n_centroids, id_col=args.id_col, vec_col=args.vec_col
        )
        if args.lloyd_iters:
            cents = S.ivf_lloyd_iterate(
                emb, cents, args.lloyd_iters, vec_col=args.vec_col
            )
        S.write_ivf_index(emb, args.out, cents, vec_col=args.vec_col)
        write_run_settings(spark, f"{args.out}/_settings", {"method": "ivf"})
        print(
            f"ann-index: {args.out} (ivf, centroids={len(cents)}, "
            f"lloyd_iters={args.lloyd_iters})"
        )


def cmd_ann_query(args):
    """Query a materialized ANN index (cosine top-k; cp --m-probe or IVF
    --n-probe), with the method and table count the index recorded."""
    from .functions import similarity as S

    spark = _spark(args)
    qv = [float(x) for x in args.query.split(",")]
    stored = _run_settings(spark, args.index, ["method"])
    if stored["method"] == "cp":
        out = S.ann_topk_cp_indexed(
            spark,
            args.index,
            qv,
            k=args.k,
            n_tables=int(stored["n_tables"]),
            m_probe=args.m_probe,
            id_col=args.id_col,
            vec_col=args.vec_col,
        )
    else:
        out = S.ann_topk_ivf_indexed(
            spark,
            args.index,
            qv,
            k=args.k,
            n_probe=args.n_probe,
            id_col=args.id_col,
            vec_col=args.vec_col,
        )
    print(out.toPandas().to_string())


def cmd_bench(args):
    import os

    if args.sf_dir:
        os.environ["SPARK_GRAFT_SF_DIR"] = args.sf_dir
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    bench.main()


def main(argv=None):
    p = argparse.ArgumentParser(prog="ecmwf_models_spark")
    p.add_argument("--cpus", type=int, default=32)
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("ingest")
    s.add_argument("--out", required=True)
    s.add_argument("--n-conv", type=int, default=500)
    s.add_argument("--days", type=int, default=31)
    s.add_argument("--turns", type=int, default=24)
    s.set_defaults(fn=cmd_ingest)

    s = sub.add_parser("reshuffle")
    s.add_argument("--bronze", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--n-cells", type=int, default=64)
    s.add_argument(
        "--salt-segment-hours", type=int, default=None,
        help="split hot convs into ts segments of this size (skew salt). "
        "NOTE: dedup correctness with salting assumes duplicate/revised "
        "turns share their event ts (the reference's ERA5 vs ERA5-T "
        "shape — two files, same timestamp); duplicates with REVISED ts "
        "in different segments would both survive. Leave unset if your "
        "duplicates can carry changed timestamps.",
    )
    s.set_defaults(fn=cmd_reshuffle)

    s = sub.add_parser("rollup")
    s.add_argument("--silver", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--tiers", default="hourly,daily,monthly")
    s.set_defaults(fn=cmd_rollup)

    s = sub.add_parser("extend")
    s.add_argument("--silver", required=True)
    s.add_argument("--bronze", required=True)
    s.set_defaults(fn=cmd_extend)

    s = sub.add_parser("read")
    s.add_argument("--silver", required=True)
    s.add_argument("--conv-id", required=True)
    s.set_defaults(fn=cmd_read)

    s = sub.add_parser("update-img")
    s.add_argument("--bronze", required=True, help="bronze file-stream dir")
    s.add_argument("--out", required=True)
    s.add_argument(
        "--checkpoint", default=None,
        help="default: <out>/_checkpoint (resume state, plays overview.yml)",
    )
    s.add_argument("--watermark", default="2 hours")
    s.set_defaults(fn=cmd_update_img)

    s = sub.add_parser("remap")
    s.add_argument("--field", required=True, help="gridded field parquet")
    s.add_argument("--out", required=True)
    s.add_argument(
        "--method", required=True,
        choices=["con", "con2", "laf", "bil", "nn", "bic", "dis", "idw"],
    )
    s.add_argument("--value-col", default="value")
    s.add_argument("--src-key", default="cell_id")
    s.add_argument("--n-src", type=int, default=None)
    s.add_argument("--n-dst", type=int, default=None)
    s.add_argument(
        "--dst-points", default=None,
        help="parquet of (gpi, lat, lon) destination points (2-D methods)",
    )
    s.add_argument(
        "--grid", default=None,
        help="source grid spec lat0,dlat,nlat,lon0,dlon,nlon (2-D methods)",
    )
    s.set_defaults(fn=cmd_remap)

    s = sub.add_parser("ann-index")
    s.add_argument("--embeddings", required=True)
    s.add_argument("--out", required=True)
    s.add_argument(
        "--method", choices=("cp", "ivf"), default="cp",
        help="cp (default): near-random corpora; ivf: clustered corpora",
    )
    s.add_argument("--dim", type=int, default=None,
                   help="cp: default probed from the first row")
    s.add_argument("--n-tables", type=int, default=12)
    s.add_argument("--n-centroids", type=int, default=16)
    s.add_argument("--lloyd-iters", type=int, default=0)
    s.add_argument("--id-col", default="vec_id")
    s.add_argument("--vec-col", default="embedding")
    s.set_defaults(fn=cmd_ann_index)

    s = sub.add_parser("ann-query")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True, help="comma-separated floats")
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--n-probe", type=int, default=4, help="ivf")
    s.add_argument("--m-probe", type=int, default=4, help="cp")
    s.add_argument("--id-col", default="vec_id")
    s.add_argument("--vec-col", default="embedding")
    s.set_defaults(fn=cmd_ann_query)

    s = sub.add_parser("bench")
    s.add_argument("--sf-dir", default=None)
    s.set_defaults(fn=cmd_bench)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
