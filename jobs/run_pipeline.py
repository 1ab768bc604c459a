"""spark-submit entry point for the north-rule doc pipeline.

Ships via:
    tools/package.sh           # builds dist/gpiv_spark.zip
    spark-submit --master local[32] \
        --py-files dist/gpiv_spark.zip jobs/run_pipeline.py \
        --docs 2000000 --points 120000 --checkpoint /tmp/gpiv_ckpt

Stages checkpoint through gpiv_spark.plans.lineage, so a re-run with
the same arguments resumes from the last completed stage (per-partition
lineage + metrics written alongside each checkpoint).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--points", type=int, default=100_000)
    ap.add_argument("--checkpoint", default="/tmp/gpiv_ckpt")
    ap.add_argument("--sf-dir", default=None,
                    help="read doc_ids from this dir's documents.parquet "
                         "instead of synthesizing")
    ap.add_argument("--las", default=None,
                    help="read the point cloud from this LAS path/glob "
                         "(uncompressed 1.2-1.4, TPU extra-byte dims) "
                         "instead of synthesizing --points")
    ap.add_argument("--broadcast-budget-mb", type=int, default=1024,
                    help="max broadcast TIN pack size; larger TINs take "
                         "the shuffle equi-join plan (tin.choose_plan)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("gpiv-doc-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from gpiv_spark.dialect import SPARK as d
    from gpiv_spark.functions import geocode
    from gpiv_spark.operators.tin import (
        certified_blobs,
        choose_plan,
        propagate_plan,
    )
    from gpiv_spark.plans import lineage

    # -v2: the blob stage holds certified blobs (v1 checkpoints did not)
    fp = (f"las={args.las}-v2" if args.las else f"points={args.points}-v2")

    def build_points():
        if args.las:
            # S1 on the reference's real format (run_test_v1.py:43-58):
            # distributed binaryFile scan + worker-side parse
            from gpiv_spark.sources.las import las_table

            return las_table(spark, args.las).withColumnRenamed(
                "point_id", "pid"
            )
        pts = spark.range(args.points).select(F.col("id").alias("pid"))
        px = geocode.xq_expr(d, "pid")
        py = geocode.yq_expr(d, "pid")
        return pts.select(
            F.col("pid"),
            F.expr(px).alias("x"),
            F.expr(py).alias("y"),
            F.expr(
                f"5.0 + 0.01 * ({px} - {geocode.X0!r})"
                f" + 0.004 * ({py} - {geocode.Y0!r})"
            ).alias("z"),
            F.expr("(1 + pid % 7) * 0.0001").alias("var_x"),
            F.expr("(1 + pid % 5) * 0.0001").alias("var_y"),
            F.expr("(1 + pid % 3) * 0.0001").alias("var_z"),
            F.lit(0.0).alias("cov_xy"),
            F.lit(0.0).alias("cov_xz"),
            F.lit(0.0).alias("cov_yz"),
        )

    t0 = time.time()
    # checkpoint the expensive stage (per-cell Delaunay, certificate
    # repair, pack shards) as the tiny certified blob table — resumable
    # like any stage, and the input of both doc-probe plans
    blobs, resumed_t = lineage.resume_or_run(
        spark, args.checkpoint, "pack_blobs",
        lambda: certified_blobs(spark, build_points(), cell_res=4,
                                index_res=9, halo_m=6.0, id_col="pid",
                                collect=False),
        fp,
    )
    plan = choose_plan(blobs, args.broadcast_budget_mb << 20)

    if args.sf_dir:
        # parquet dir (testdata) or Iceberg catalog namespace — see
        # gpiv_spark.sources.tables for the cluster-side Iceberg config
        from gpiv_spark.sources.tables import read_table

        docs = read_table(spark, args.sf_dir, "documents").select(
            "doc_id",
            F.expr(geocode.x_expr(d, "doc_id")).alias("x"),
            F.expr(geocode.y_expr(d, "doc_id")).alias("y"),
        )
    else:
        docs = spark.range(args.docs).select(
            F.col("id").alias("doc_id"),
            F.expr(geocode.x_expr(d, "id")).alias("x"),
            F.expr(geocode.y_expr(d, "id")).alias("y"),
        )

    # docs source identity + physical plan in the fingerprint: switching
    # --sf-dir (or synthetic<->sf-dir mode, or the plan via
    # --broadcast-budget-mb) must invalidate the checkpoint. The
    # propagation construction lives inside the lambda so a resume
    # skips the pack merge / triangle join entirely.
    docs_fp = (args.sf_dir if args.sf_dir else f"docs={args.docs}") + f"-{plan}"
    cen = (geocode.X0 + 239.0, geocode.Y0 + 239.0, 7.0)

    out, resumed_p = lineage.resume_or_run(
        spark, args.checkpoint, "propagated",
        lambda: propagate_plan(spark, docs, blobs, plan, index_res=9,
                               centroid=cen),
        f"{fp}-{docs_fp}",
    )
    row = out.agg(
        F.count("*").alias("n"), F.avg("var_zp").alias("mean_var")
    ).collect()[0]
    wall = time.time() - t0
    print(json.dumps({
        "n_docs_out": row["n"],
        "mean_var": row["mean_var"],
        "mode": plan,
        "resumed": {"pack_blobs": resumed_t, "propagated": resumed_p},
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(row["n"] / wall) if wall > 0 else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
