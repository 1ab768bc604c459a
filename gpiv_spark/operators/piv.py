"""Distributed PIV pipeline (SURVEY §2 G2/J4/A1/A3/F1-F3/P6/P7/E1/E2).

Spark-first physical plan for GPIV's run_piv loop (piv_functions.py:89-187):

1. **Patch packing** — long-form raster rows (row, col, value) are
   packed into dense step x step patches, one Arrow row per patch
   (binary payload). This is the unit of shuffle: 2500 float64 per
   row instead of 1, so the tile fan-out below shuffles ~2500x fewer
   rows than a per-pixel explode.
2. **Tile fan-out** — each PIV tile's search window covers a fixed
   (search/step + 1)^2 patch neighborhood; a small broadcast mapping
   (tile <- patches) joins each patch to the tiles that need it
   (deliberate, bounded duplication — SURVEY §4.2 tile-with-halo).
3. **Per-tile kernel** — groupBy(tile).applyInPandas assembles the
   dense windows and runs the batched NumPy kernel: FFT NCC (A1),
   argmax (A3), flat/NaN/edge guards (F1-F3), sub-pixel peak (P6),
   vector assembly (P7), and optionally E1/E2 covariance propagation
   with the ANALYTIC NCC Jacobian (numeric-diff stays in the test
   oracle only).
4. Ground export (P4) and the bias two-pass (A4/A5) are column
   arithmetic / aggregates on the result DataFrame.

At cluster scale: patches hash-shuffle on (tile_r, tile_c) — uniform
by construction (it's a regular grid), so no skew; AQE coalesces the
tail. The mapping table is O(#tiles), broadcast. No Python touches
anything bigger than one tile's windows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpiv_spark.functions import ncc as ncck
from gpiv_spark.operators.tiling import PivConfig

PATCH_SCHEMA = (
    "dataset string, patch_r int, patch_c int, r0 int, c0 int, "
    "h int, w int, data binary"
)

PIV_SCHEMA = (
    "tile_r int, tile_c int, origin_x_px double, origin_y_px double, "
    "dx_px double, dy_px double, peak_ncc double, "
    "c00 double, c01 double, c10 double, c11 double"
)

PIV_BIAS_SCHEMA = PIV_SCHEMA + ", bias_dx double, bias_dy double"


def patches_from_array(spark: SparkSession, arr, dataset: str,
                       cfg: PivConfig) -> DataFrame:
    """Driver-side fast path of pack_patches for an in-memory raster:
    the reference's rasters are single-node arrays anyway (a few MB), so
    slicing them into patch rows here skips a full groupBy shuffle per
    raster. The long-form pack_patches stays the path for rasters that
    live in parquet at cluster scale."""
    import numpy as np
    import pandas as pd

    step = cfg.step
    h, w = arr.shape
    rows = []
    for pr in range(0, (h + step - 1) // step):
        for pc in range(0, (w + step - 1) // step):
            r0, c0 = pr * step, pc * step
            sub = np.ascontiguousarray(arr[r0 : r0 + step, c0 : c0 + step],
                                       dtype=np.float64)
            rows.append(
                {
                    "dataset": dataset, "patch_r": pr, "patch_c": pc,
                    "r0": r0, "c0": c0, "h": sub.shape[0], "w": sub.shape[1],
                    "data": sub.tobytes(),
                }
            )
    return spark.createDataFrame(pd.DataFrame(rows), PATCH_SCHEMA)


def pack_patches(df: DataFrame, cfg: PivConfig) -> DataFrame:
    """(dataset, row, col, value) -> one dense patch row per step-cell."""
    step = cfg.step

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ds = pdf["dataset"].iloc[0]
        pr = int(pdf["patch_r"].iloc[0])
        pc = int(pdf["patch_c"].iloc[0])
        r0, c0 = pr * step, pc * step
        h = int(pdf["row"].max()) - r0 + 1
        w = int(pdf["col"].max()) - c0 + 1
        arr = np.full((h, w), np.nan)
        arr[pdf["row"].to_numpy() - r0, pdf["col"].to_numpy() - c0] = pdf[
            "value"
        ].to_numpy()
        return pd.DataFrame(
            [
                {
                    "dataset": ds,
                    "patch_r": pr,
                    "patch_c": pc,
                    "r0": r0,
                    "c0": c0,
                    "h": h,
                    "w": w,
                    "data": arr.tobytes(),
                }
            ]
        )

    # kernel-stage partitioning sized from raster GEOMETRY (patch
    # count), not the global shuffle default: the ~20 ms python-task
    # handshake does not parallelize (see CLAUDE.md), so 64 mostly-empty
    # tasks cost more than the packing itself on small rasters, while
    # big rasters still fan out (capped at a fixed 64 tasks).
    # Explicit hash repartition on the group keys also pre-satisfies the
    # groupBy distribution, so no second exchange is inserted.
    n_groups = 4 * (-(-cfg.dim // step)) ** 2  # <= 4 datasets
    npart = max(8, min(64, n_groups // 8))  # ~8 tiny pack calls per task
    return (
        df.withColumn("patch_r", (F.col("row") / step).cast("int"))
        .withColumn("patch_c", (F.col("col") / step).cast("int"))
        .repartition(npart, "dataset", "patch_r", "patch_c")
        .groupBy("dataset", "patch_r", "patch_c")
        .applyInPandas(_pack, PATCH_SCHEMA)
    )


def tile_patch_map(spark: SparkSession, cfg: PivConfig) -> DataFrame:
    """Broadcastable (tile_r, tile_c, patch_r, patch_c) membership table."""
    span = (cfg.search + cfg.search_pad - 1) // cfg.step + 1
    rows = [
        (tr, tc, tr + dr, tc + dc)
        for tr in range(cfg.count)
        for tc in range(cfg.count)
        for dr in range(span)
        for dc in range(span)
    ]
    return spark.createDataFrame(
        rows, "tile_r int, tile_c int, patch_r int, patch_c int"
    )


def run_piv(
    spark: SparkSession,
    before: DataFrame,
    after: DataFrame,
    cfg: PivConfig,
    propagate: bool = False,
    before_unc: DataFrame | None = None,
    after_unc: DataFrame | None = None,
    validate: bool = True,
    with_bias: bool = False,
) -> DataFrame:
    """Full PIV: returns one row per surviving tile (pixel units).

    Inputs are long-form rasters (row int, col int, value double).
    ``validate`` runs the S2 shape-equality stage first and raises
    RasterPairMismatch before any NCC work is scheduled
    (piv_functions.py:82-84). ``with_bias`` fuses the A4 bias self-PIV
    (before-vs-before) into the same kernel call — two NCC passes per
    tile, one pipeline instead of two. Each pass keeps its OWN guards:
    a tile appears when either pass survives; main fields (dx_px, ...)
    are NaN on bias-only rows and bias_dx/bias_dy are NaN when the
    self-pass guards reject the tile — exactly the union of the
    reference's two independent runs. Vector consumers filter
    ``~isnan(dx_px)``.
    """
    if validate:
        from gpiv_spark.sources.raster import validate_raster_pair

        validate_raster_pair(before, after)
    parts = [before.withColumn("dataset", F.lit("bh")),
             after.withColumn("dataset", F.lit("ah"))]
    if propagate:
        if before_unc is None or after_unc is None:
            raise ValueError("propagate=True requires uncertainty rasters")
        parts.append(before_unc.withColumn("dataset", F.lit("bu")))
        parts.append(after_unc.withColumn("dataset", F.lit("au")))
    allpx = parts[0]
    for p in parts[1:]:
        allpx = allpx.unionByName(p)

    patches = pack_patches(allpx.select("dataset", "row", "col", "value"), cfg)
    return _run_piv_from_patches(spark, patches, cfg, propagate, with_bias)


def run_piv_arrays(
    spark: SparkSession,
    before,
    after,
    cfg: PivConfig,
    propagate: bool = False,
    before_unc=None,
    after_unc=None,
    with_bias: bool = False,
) -> DataFrame:
    """run_piv over in-memory numpy rasters: driver-side patch packing
    (no per-raster groupBy shuffle), same kernel and semantics."""
    from gpiv_spark.sources.raster import RasterPairMismatch

    if before.shape != after.shape:
        raise RasterPairMismatch(
            f"raster shape mismatch: {before.shape} vs {after.shape}"
        )
    pieces = [patches_from_array(spark, before, "bh", cfg),
              patches_from_array(spark, after, "ah", cfg)]
    if propagate:
        if before_unc is None or after_unc is None:
            raise ValueError("propagate=True requires uncertainty rasters")
        pieces.append(patches_from_array(spark, before_unc, "bu", cfg))
        pieces.append(patches_from_array(spark, after_unc, "au", cfg))
    patches = pieces[0]
    for p in pieces[1:]:
        patches = patches.unionByName(p)
    return _run_piv_from_patches(spark, patches, cfg, propagate, with_bias)


def _run_piv_from_patches(spark: SparkSession, patches: DataFrame,
                          cfg: PivConfig, propagate: bool,
                          with_bias: bool) -> DataFrame:
    mapping = tile_patch_map(spark, cfg)
    fanned = patches.join(
        F.broadcast(mapping), ["patch_r", "patch_c"]
    )

    cfg_d = dict(template=cfg.template, step=cfg.step, scale=cfg.scale,
                 dim=cfg.dim, prop=propagate, bias=with_bias)

    def _tile_kernel(key, pdf):
        return _piv_tile(key, pdf, cfg_d)

    # one task per tile up to a fixed 64-task cap (same rationale as
    # pack_patches: handshake cost vs mostly-empty partitions)
    npart = max(8, min(64, cfg.count * cfg.count))
    return (
        fanned.repartition(npart, "tile_r", "tile_c")
        .groupBy("tile_r", "tile_c")
        .applyInPandas(_tile_kernel,
                       PIV_BIAS_SCHEMA if with_bias else PIV_SCHEMA)
    )


def _assemble(pdf: pd.DataFrame, ds: str, r_lo: int, c_lo: int,
              size_r: int, size_c: int) -> np.ndarray | None:
    """Rebuild the dense window [r_lo, r_lo+size_r) x [c_lo, ...) from patches."""
    out = np.full((size_r, size_c), np.nan)
    sub = pdf[pdf["dataset"] == ds]
    if sub.empty:
        return None
    # plain zipped ndarrays: iterrows built a Series per patch, ~30x the
    # cost of this scatter for the ~25 patches each tile gathers
    for data, h, w, r0, c0 in zip(
        sub["data"].to_numpy(), sub["h"].to_numpy(), sub["w"].to_numpy(),
        sub["r0"].to_numpy(), sub["c0"].to_numpy(),
    ):
        arr = np.frombuffer(data, dtype=np.float64).reshape(h, w)
        rr, cc = int(r0) - r_lo, int(c0) - c_lo
        rs, cs = max(0, -rr), max(0, -cc)
        re = min(int(h), size_r - rr)
        ce = min(int(w), size_c - cc)
        if re <= rs or ce <= cs:
            continue
        out[rr + rs : rr + re, cc + cs : cc + ce] = arr[rs:re, cs:ce]
    return out


def _piv_tile(key, pdf: pd.DataFrame, cfg: dict) -> pd.DataFrame:
    """Per-tile kernel: the reference's inner loop, one batched call."""
    tr, tc = int(key[0]), int(key[1])
    T = cfg["template"]
    step = cfg["step"]
    search = T * cfg["scale"]
    pad = search % 2
    ssize_r = min(search + pad, cfg["dim"] - tr * step)
    ssize_c = min(search + pad, cfg["dim"] - tc * step)
    off = (cfg["scale"] - 1) * T // 2
    empty = pd.DataFrame(
        columns=[
            "tile_r", "tile_c", "origin_x_px", "origin_y_px", "dx_px",
            "dy_px", "peak_ncc", "c00", "c01", "c10", "c11",
        ]
        + (["bias_dx", "bias_dy"] if cfg.get("bias") else [])
    )

    r_lo, c_lo = tr * step, tc * step
    bias_mode = bool(cfg.get("bias"))
    bh = _assemble(pdf, "bh", r_lo, c_lo, ssize_r, ssize_c)
    ah = _assemble(pdf, "ah", r_lo, c_lo, ssize_r, ssize_c)
    if bh is None or (ah is None and not bias_mode):
        return empty
    template = bh[off : off + T, off : off + T]

    # A4 fused self-pass FIRST — exact run_piv(before, before) math on
    # the already-assembled window, with guards depending ONLY on the
    # before raster (the reference derives bias from a standalone
    # before-vs-before run, gpiv.py -> get_bias_variance, so a tile the
    # MAIN pass rejects — e.g. nodata only in the after epoch — still
    # contributes to the bias sample set). NaN when the SELF-pass's own
    # guards reject the tile.
    bias_dx = bias_dy = float("nan")
    if bias_mode and not (
        np.isnan(bh).any()
        or np.nanmax(template) - np.nanmin(template) < ncck.EPS_FLAT
        or np.nanmax(bh) - np.nanmin(bh) < ncck.EPS_FLAT
    ):
        surf_b = ncck.ncc_surface(bh, template)
        rb, cb = np.unravel_index(int(np.argmax(surf_b)), surf_b.shape)
        if (0 < rb < surf_b.shape[0] - 1) and (0 < cb < surf_b.shape[1] - 1):
            hz_b, vt_b = ncck.subpixel_peak(
                surf_b[rb - 1 : rb + 2, cb - 1 : cb + 2]
            )
            bias_dx = float(cb - int(np.ceil(T / 2)) + hz_b)
            bias_dy = float(rb - int(np.ceil(T / 2)) + vt_b)

    # F1 flat guard + F2 NaN guard (piv_functions.py:130-136)
    main_ok = ah is not None and not (
        np.isnan(template).any()
        or np.isnan(ah).any()
        or np.nanmax(template) - np.nanmin(template) < ncck.EPS_FLAT
        or np.nanmax(ah) - np.nanmin(ah) < ncck.EPS_FLAT
    )
    if main_ok:
        surf = ncck.ncc_surface(ah, template)
        rmax, cmax = np.unravel_index(int(np.argmax(surf)), surf.shape)
        # F3 edge guard (piv_functions.py:141-146)
        if (rmax == 0 or cmax == 0 or rmax == surf.shape[0] - 1
                or cmax == surf.shape[1] - 1):
            main_ok = False
    if not main_ok and (not bias_mode or np.isnan(bias_dx)):
        return empty

    half = int(np.floor(search / 2))
    sub = (1 - search % 2) * 0.5
    row = {
        "tile_r": tr,
        "tile_c": tc,
        "origin_x_px": float(tc * step + half - sub),
        "origin_y_px": float(tr * step + half - sub),
        "dx_px": float("nan"),
        "dy_px": float("nan"),
        "peak_ncc": float("nan"),
        "c00": float("nan"),
        "c01": float("nan"),
        "c10": float("nan"),
        "c11": float("nan"),
    }
    if bias_mode:
        row["bias_dx"], row["bias_dy"] = bias_dx, bias_dy
    if not main_ok:
        # bias-only row: main fields NaN; consumers of the vector result
        # filter on ~isnan(dx_px) while bias_variance_fused reads the
        # bias columns from ALL rows
        return pd.DataFrame([row])

    patch33 = surf[rmax - 1 : rmax + 2, cmax - 1 : cmax + 2]
    hz_d, vt_d = ncck.subpixel_peak(patch33)
    row["dx_px"] = float(cmax - int(np.ceil(T / 2)) + hz_d)
    row["dy_px"] = float(rmax - int(np.ceil(T / 2)) + vt_d)
    row["peak_ncc"] = float(surf[rmax, cmax])

    if cfg["prop"]:
        bu = _assemble(pdf, "bu", r_lo, c_lo, ssize_r, ssize_c)
        au = _assemble(pdf, "au", r_lo, c_lo, ssize_r, ssize_c)
        if bu is not None and au is not None:
            unc_t = bu[off : off + T, off : off + T]
            s_sub = ah[rmax - 1 : rmax + T + 1, cmax - 1 : cmax + T + 1]
            u_sub = au[rmax - 1 : rmax + T + 1, cmax - 1 : cmax + T + 1]
            jac = ncck.analytic_correlation_jacobian(template, s_sub)
            corr_cov = ncck.propagate_pixel_into_correlation(jac, unc_t, u_sub)
            peak_cov = ncck.propagate_correlation_into_subpixel_peak(
                patch33, corr_cov, (hz_d, vt_d)
            )
            row["c00"], row["c01"] = float(peak_cov[0, 0]), float(peak_cov[0, 1])
            row["c10"], row["c11"] = float(peak_cov[1, 0]), float(peak_cov[1, 1])

    return pd.DataFrame([row])


def bias_variance(self_piv: DataFrame) -> DataFrame:
    """A4: var_pop of the self-correlation vectors (piv_functions.py:378-386)."""
    return self_piv.agg(
        F.var_pop("dx_px").alias("x_bias_variance"),
        F.var_pop("dy_px").alias("y_bias_variance"),
    )


def bias_variance_fused(piv_with_bias: DataFrame) -> DataFrame:
    """A4 over the fused bias columns (run_piv with_bias=True). NaN rows
    (tiles the self-pass guards rejected) are excluded, matching the
    two-pass flow where such tiles never reach the self-PIV result."""
    return piv_with_bias.agg(
        F.var_pop(F.when(~F.isnan("bias_dx"), F.col("bias_dx")))
        .alias("x_bias_variance"),
        F.var_pop(F.when(~F.isnan("bias_dy"), F.col("bias_dy")))
        .alias("y_bias_variance"),
    )


def add_bias_variance(piv: DataFrame, bias: DataFrame) -> DataFrame:
    """A5: add bias variances to the covariance diagonal (piv_functions.py:389-396)."""
    return piv.crossJoin(F.broadcast(bias)).withColumns(
        {
            "c00": F.col("c00") + F.col("x_bias_variance"),
            "c11": F.col("c11") + F.col("y_bias_variance"),
        }
    ).drop("x_bias_variance", "y_bias_variance")
