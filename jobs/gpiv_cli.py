"""User-facing CLI mirroring the reference's command surface (gpiv.py:11-60).

    python jobs/gpiv_cli.py piv BEFORE.tif AFTER.tif TEMPLATE STEP \
        [--prop BU.tif AU.tif] [--outname NAME] [--scale 2] [--cpus N]
    python jobs/gpiv_cli.py dem POINTS OUT_DEM.tif OUT_TPU.tif \
        [--pixel 1.0] [--epsg 6344] [--cpus N]
    python jobs/gpiv_cli.py pivshow BACKGROUND.tif [--vec vectors.json]
        [--ell covariances.json] [--vecscale S] [--ellscale S] [--out f.png]

``piv`` reads GeoTIFFs with the pure-NumPy reader, validates the pair
(S2), runs the distributed PIV with the fused bias pass, and writes the
reference-named artifacts ``{base}vectors.json`` / ``{base}covariances.json``
(same row layouts as piv_functions.py:329-375). ``pivshow`` renders the
percentile-normalized background with vector/ellipse overlays to a PNG
when matplotlib is importable, else writes the overlay geometry as JSON
(the reference's interactive window is presentation-layer; the math —
display normalization A7, ellipse parameters P9 — is the engine's).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

_ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, _ROOT)
# python UDF workers import gpiv_spark by name; they inherit PYTHONPATH
# from the driver env, not the driver's sys.path
os.environ["PYTHONPATH"] = (
    _ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)


def cmd_piv(args) -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from gpiv_spark.operators.piv import add_bias_variance, bias_variance_fused
    from gpiv_spark.operators.piv import run_piv_arrays
    from gpiv_spark.operators.tiling import PivConfig
    from gpiv_spark.session import get_spark
    from gpiv_spark.sources.geotiff import read_geotiff
    from gpiv_spark.sources.raster import RasterPairMismatch, validate_geo_sidecars
    from gpiv_spark.sources import sinks

    before, bgeo = read_geotiff(args.before_height)
    after, ageo = read_geotiff(args.after_height)
    validate_geo_sidecars(bgeo, ageo)  # S2: reference exits on mismatch
    if before.shape != after.shape:
        raise RasterPairMismatch(
            f"shape mismatch {before.shape} vs {after.shape}"
        )
    nodata = bgeo.get("nodata")
    if nodata is not None:
        before = np.where(before == nodata, np.nan, before)
        after = np.where(after == nodata, np.nan, after)

    propagate = args.prop is not None
    bu = au = None
    if propagate:
        from gpiv_spark.sources.raster import TRANSFORM_KEYS

        bu, bug = read_geotiff(args.prop[0])
        au, aug = read_geotiff(args.prop[1])
        validate_geo_sidecars(bug, aug)
        # height-vs-uncertainty: the reference only requires transform
        # equality (piv_functions.py:82-84) — uncertainty products may
        # carry a different nodata/epsg tag and are still valid.
        validate_geo_sidecars(bgeo, bug, keys=TRANSFORM_KEYS)

    cfg = PivConfig(template=args.template_size, step=args.step_size,
                    scale=args.scale, dim=before.shape[0])
    spark = get_spark("gpiv-cli", cpus=args.cpus)
    piv = run_piv_arrays(spark, before, after, cfg, propagate=propagate,
                         before_unc=bu, after_unc=au, with_bias=propagate)
    base = (args.outname + "_") if args.outname else ""
    if propagate:
        # two-pass semantics, one pipeline: A4 bias from the fused columns
        piv = piv.cache()
        bias = bias_variance_fused(piv)
        # bias-only rows (main guards failed, self-pass survived) carry
        # NaN main fields — they feed the bias variance but not vectors
        piv_out = add_bias_variance(
            piv.drop("bias_dx", "bias_dy").filter(~F.isnan("dx_px")), bias
        )
    else:
        piv_out = piv
    # reference writes single JSON files (piv_functions.py:329-375); the
    # result is one row per tile, so the driver writes them directly
    # (sinks.export_* remain the distributed writers for cluster output)
    gv = sinks.ground_vectors(
        piv_out if propagate
        else piv_out.withColumns(
            {c: F.lit(float("nan")) for c in ("c00", "c01", "c10", "c11")}
        )
    ).toPandas()
    n = len(gv)
    vec_path = Path(base + "vectors.json")
    vec_path.write_text(
        "\n".join(
            json.dumps([r.origin_x, r.origin_y, r.dx, r.dy])
            for r in gv.itertuples()
        )
    )
    cov_path = None
    if propagate:
        cov_path = Path(base + "covariances.json")
        cov_path.write_text(
            "\n".join(
                json.dumps({"loc": [r.end_x, r.end_y],
                            "cov": [[r.c00, r.c01], [r.c10, r.c11]]})
                for r in gv.itertuples()
            )
        )
    print(json.dumps({"cells": n, "vectors": str(vec_path),
                      "covariances": str(cov_path) if cov_path else None}))
    spark.stop()


def cmd_dem(args) -> None:
    """Replicates the reference's DEM/TPU raster production
    (run_test_v1.py:105-133: grid the point cloud's TIN, write
    GeoTIFFs via rasters.py:21-43) with the engine's distributed TIN:
    points -> per-cell Delaunay pack -> shuffle-free mapInPandas probe
    of every pixel center -> DEM (interpolated z) and TPU
    (propagated sigma_z, E3) GeoTIFFs through sinks.write_raster."""
    import numpy as np
    from pyspark.sql import functions as F

    from gpiv_spark.operators.tin import build_broadcast_pack, probe_docs
    from gpiv_spark.session import get_spark
    from gpiv_spark.sources import sinks

    spark = get_spark("gpiv-dem", cpus=args.cpus)
    if args.points.endswith((".las", ".LAS")):
        from gpiv_spark.sources.las import las_table

        pts = las_table(spark, args.points).withColumnRenamed(
            "point_id", "pid"
        )
    else:
        pts = spark.read.parquet(args.points)
    b = pts.agg(
        F.min("x"), F.max("x"), F.min("y"), F.max("y"),
        F.avg("x"), F.avg("y"), F.avg("z"),
    ).collect()[0]
    pw = args.pixel
    ul_x, ul_y = b[0], b[3]
    width = int(np.ceil((b[1] - b[0]) / pw))
    height = int(np.ceil((b[3] - b[2]) / pw))
    grid = spark.range(width * height).select(
        F.col("id").alias("doc_id"),
        (F.lit(ul_x) + (F.col("id") % width + 0.5) * pw).alias("x"),
        (F.lit(ul_y) - (F.floor(F.col("id") / width) + 0.5) * pw).alias("y"),
    )
    bc = build_broadcast_pack(spark, pts, cell_res=4, index_res=9,
                              halo_m=6.0, id_col="pid")
    got = probe_docs(grid, bc, (b[4], b[5], b[6])).toPandas()
    dem = np.full(width * height, np.nan)
    tpu = np.full(width * height, np.nan)
    idx = got["doc_id"].to_numpy()
    dem[idx] = got["zp"].to_numpy()
    tpu[idx] = np.sqrt(got["var_zp"].to_numpy())
    for path, arr in ((args.out_dem, dem), (args.out_tpu, tpu)):
        sinks.write_raster(path, arr.reshape(height, width), (ul_x, ul_y),
                           pw, pw, args.epsg)
    print(json.dumps({
        "dem": args.out_dem, "tpu": args.out_tpu,
        "shape": [height, width],
        "filled": int(len(idx)), "pixels": width * height,
    }))
    spark.stop()


def cmd_pivshow(args) -> None:
    import numpy as np

    from gpiv_spark.operators import piv_math
    from gpiv_spark.sources.geotiff import read_geotiff

    bg, geo = read_geotiff(args.background_image)
    # A7 display normalization: percentile clip (show_functions.py:24-30)
    lo, hi = np.nanpercentile(bg, [2.0, 98.0])
    norm = np.clip((bg - lo) / max(hi - lo, 1e-12), 0.0, 1.0)

    overlays: dict = {"vectors": [], "ellipses": []}
    if args.vec:
        scale = args.vecscale or 1.0
        for line in Path(args.vec).read_text().splitlines():
            if not line.strip():
                continue
            x0, y0, dx, dy = json.loads(line)
            overlays["vectors"].append(
                [x0, y0, x0 + dx * scale, y0 + dy * scale]
            )
    if args.ell:
        import duckdb  # closed-form P9 via the shared SQL template

        escale = args.ellscale or 1.0
        ell = piv_math.ellipse_exprs("c00", "c01", "c11")
        rows = []
        for line in Path(args.ell).read_text().splitlines():
            if not line.strip():
                continue
            rec = json.loads(line)
            (x, y), ((c00, c01), (_, c11)) = rec["loc"], rec["cov"]
            rows.append((x, y, c00, c01, c11))
        if rows:
            con = duckdb.connect()
            con.execute(
                "CREATE TABLE c (x DOUBLE, y DOUBLE, c00 DOUBLE, "
                "c01 DOUBLE, c11 DOUBLE)"
            )
            con.executemany("INSERT INTO c VALUES (?, ?, ?, ?, ?)", rows)
            overlays["ellipses"] = con.execute(
                f"SELECT x, y, {ell['semimajor']} * {escale}, "
                f"{ell['semiminor']} * {escale}, {ell['angle_deg']} FROM c"
            ).fetchall()

    out = args.out or "pivshow.png"
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
        from matplotlib.patches import Ellipse

        fig, ax = plt.subplots(figsize=(8, 8))
        ax.imshow(norm, cmap="gray", origin="upper")
        for x0, y0, x1, y1 in overlays["vectors"]:
            ax.annotate("", xy=(x1, y1), xytext=(x0, y0),
                        arrowprops=dict(arrowstyle="->", color="red"))
        for x, y, a, b, ang in overlays["ellipses"]:
            ax.add_patch(Ellipse((x, y), 2 * a, 2 * b, angle=ang,
                                 fill=False, color="yellow"))
        fig.savefig(out, dpi=150)
        print(json.dumps({"rendered": out,
                          "n_vectors": len(overlays["vectors"]),
                          "n_ellipses": len(overlays["ellipses"])}))
    except ImportError:
        # no matplotlib in this environment: emit the overlay geometry
        out = Path(out).with_suffix(".json")
        out.write_text(json.dumps(
            {"shape": list(norm.shape), "clip": [float(lo), float(hi)],
             **overlays}
        ))
        print(json.dumps({"rendered": str(out), "backend": "json"}))


def main() -> None:
    ap = argparse.ArgumentParser(prog="gpiv")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("piv", help="PIV on a pre/post-event DEM pair")
    p.add_argument("before_height")
    p.add_argument("after_height")
    p.add_argument("template_size", type=int)
    p.add_argument("step_size", type=int)
    p.add_argument("--prop", nargs=2, metavar=("BU", "AU"),
                   help="pre/post-event uncertainty GeoTIFFs")
    p.add_argument("--outname", type=str, default=None)
    p.add_argument("--scale", type=int, default=2,
                   help="search scale (reference hardcodes 2)")
    p.add_argument("--cpus", type=int, default=None,
                   help="local cores (default: $SPARK_GRAFT_CPUS, else "
                        "the cores this process may run on)")
    p.set_defaults(fn=cmd_piv)

    g = sub.add_parser(
        "dem", help="grid a point cloud's TIN into DEM + TPU GeoTIFFs"
    )
    g.add_argument("points", help="parquet dir (pid,x,y,z,var_*) or .las")
    g.add_argument("out_dem")
    g.add_argument("out_tpu")
    g.add_argument("--pixel", type=float, default=1.0)
    g.add_argument("--epsg", type=int, default=6344)
    g.add_argument("--cpus", type=int, default=None,
                   help="local cores (default: $SPARK_GRAFT_CPUS, else "
                        "the cores this process may run on)")
    g.set_defaults(fn=cmd_dem)

    s = sub.add_parser("pivshow", help="render vectors/ellipses over a DEM")
    s.add_argument("background_image")
    s.add_argument("--vec")
    s.add_argument("--ell")
    s.add_argument("--vecscale", type=float)
    s.add_argument("--ellscale", type=float)
    s.add_argument("--out")
    s.set_defaults(fn=cmd_pivshow)

    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
