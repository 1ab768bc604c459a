"""Distributed TIN interpolation + error propagation (SURVEY §2 J1-J3,
P1-P3, P5, E3, F4).

Two jobs live here.

``tin_interpolate`` is the exact per-cell reference (tin_interpolation.py
:35-58 re-expressed for Spark): points fan out to their Z-order cell
plus a halo band, ``cogroup(...).applyInPandas`` pairs each cell's grid
points with its haloed point set, and one NumPy call per cell runs
Bowyer-Watson (J1), containment (J2, miss -> NaN row, F4), vertex
gather (J3), centroid conditioning (P1), plane coeffs (P2),
interpolation (P3), partials (P5) and the E3 quadratic form. It is the
oracle-gated kernel behind the ``tin_var`` golden.

The doc-scale job has ONE triangulation producer and one plan switch:

1. ``certified_blobs``: one kernel call per coarse cell
   (``_make_cell_blob_kernel``) triangulates the cell plus its halo,
   keeps the triangles it owns, certifies each of them against the
   halo it saw, and packs its shard (owned points, triangles as global
   point ids, fine-cell covering pairs) into a binary blob. The repair
   ladder rebuilds failed cells until every emitted triangle is in the
   global Delaunay.
2. ``choose_plan`` reads the point count off the certified blobs and
   picks a physical plan for the doc probe; ``propagate_plan`` runs it:
   - broadcast: ``merge_pack_blobs`` -> ``PackFileHandle`` (mmap'd
     pack) -> shuffle-free ``mapInPandas`` probe (``probe_docs``);
   - shuffle: ``triangles_from_blobs`` -> fine-cell equi-join plus
     refine in Catalyst (``propagate_at``); no node holds the whole TIN.
   Both plans read the same certified triangles, so one request gets
   one answer whichever plan runs.

Skew: the fan-out is bounded (cell + halo band) and cells are
equal-area.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpiv_spark.functions import delaunay as dl
from gpiv_spark.functions.cells import numpy_zcell, zcell_expr
from gpiv_spark.dialect import SPARK as SD

TIN_SCHEMA = (
    "grid_id long, x double, y double, zp double, var_zp double, found boolean"
)

TPU_COLS = ["var_x", "var_y", "var_z", "cov_xy", "cov_xz", "cov_yz"]

# Fixed task count for the pack-build kernel stage. Fixed (not
# cores-derived) so task granularity is identical at every measured
# parallelism level, and small: each Python task pays a fixed cost
# before its kernel runs, and with the C Delaunay core the per-cell
# kernel is cheap enough that this overhead outweighs wave balance.
# That fixed cost was ~70 ms of core time per task when 64 was chosen
# and is ~24 ms since workers freeze their heap after the first task
# and talk to the JVM over Unix sockets (session.py; a 256-task no-op
# mapInPandas at 4 cores, 4.3-4.6 s -> 1.5-1.6 s). 64 has not been
# re-tuned at the new floor. Measured at the old floor (best-of-2
# certified builds): 32 cores/1.6M pts 10.6 s (128 tasks) -> 9.8 s
# (64); 8 cores/400k 5.2/4.3 -> 4.2/4.5. 32 tasks is slightly faster
# still at 8 cores but leaves a single skew-sensitive wave at 32
# cores; 64 keeps two waves.
PACK_TASKS = 64


def fan_out_points(spark: SparkSession, points: DataFrame, cell_res: int,
                   halo_m: float | None = None,
                   extra_cols: tuple[str, ...] = (),
                   edge_halo_m: float | None = None) -> DataFrame:
    """Replicate each point into its Z-order cell + the neighbor cells
    within ``halo_m`` metres (None = the full 8-neighbor ring).

    The halo makes per-cell Delaunay agree with the global one wherever
    boundary-triangle circumcircles fit inside it (SURVEY §7.3). A
    margin of a few mean point spacings keeps the fan-out factor near
    1 + 4*halo/cell instead of the naive 9x (which made the build
    memory-bound rather than compute-bound).

    ``edge_halo_m`` (default: same as ``halo_m``) is the halo used for
    fan-in to cells on the extent boundary: hull slivers there have
    circumcircles running along the data edge, so those cells need a
    wider margin than the interior for the certificate to pass without
    a retry pass (see build_broadcast_pack).
    """
    n = 1 << cell_res
    csize = _EXT / n
    if halo_m is None:
        halo_m = csize  # degenerate: full neighbor ring
    if edge_halo_m is None:
        edge_halo_m = halo_m
    neigh = spark.createDataFrame(
        [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)], "dr int, dc int"
    )

    # double literals: a bare 29.875 parses as DECIMAL, which made every
    # row and neighbour run cast(cast(_ix as decimal(20,0)) * 29.875 as
    # double). csize = 478 / 2^k and _ix < 2^k, so the double product is
    # exact and the offsets (hence the pack) stay bit-identical.
    def lit(v: float) -> str:
        return f"{float(v)!r}D"

    x0, y0, ext, cs = lit(_X0), lit(_Y0), lit(_EXT), lit(csize)
    # offset of the point inside its home cell, in metres
    fx = f"((x - {x0}) - _ix * {cs})"
    fy = f"((y - {y0}) - _iy * {cs})"
    # halo of the TARGET cell (_ix+dc, _iy+dr): extent-boundary cells
    # use the wider edge margin
    h = (f"(CASE WHEN (_ix + dc) IN (0, {n - 1})"
         f" OR (_iy + dr) IN (0, {n - 1})"
         f" THEN {lit(edge_halo_m)} ELSE {lit(halo_m)} END)")
    keep = (
        f"(dc = 0 OR (dc = -1 AND {fx} < {h})"
        f" OR (dc = 1 AND {cs} - {fx} < {h}))"
        f" AND (dr = 0 OR (dr = -1 AND {fy} < {h})"
        f" OR (dr = 1 AND {cs} - {fy} < {h}))"
    )
    return (
        points.withColumn("_ix", F.expr(
            f"greatest(0, least({n - 1}, CAST(floor((x - {x0}) / {ext} * {n}) AS BIGINT)))"))
        .withColumn("_iy", F.expr(
            f"greatest(0, least({n - 1}, CAST(floor((y - {y0}) / {ext} * {n}) AS BIGINT)))"))
        .crossJoin(F.broadcast(neigh))
        .filter(F.expr(keep))
        .withColumn("_jx", F.col("_ix") + F.col("dc"))
        .withColumn("_jy", F.col("_iy") + F.col("dr"))
        .filter((F.col("_jx") >= 0) & (F.col("_jx") < n)
                & (F.col("_jy") >= 0) & (F.col("_jy") < n))
        .withColumn("cell", F.col("_jy") * n + F.col("_jx"))
        .select("cell", *extra_cols, "x", "y", "z", *TPU_COLS)
    )


def tin_numpy(points: np.ndarray, tpu: np.ndarray, grids: np.ndarray,
              centroid: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Reference math on one point set: returns (zp, var_zp, found).

    points (n,3), tpu (n,6) fixed order, grids (m,2), centroid (3,).
    Formula twins of operators.tin_math (validated cross-engine) —
    vectorized over grid points.
    """
    m = len(grids)
    zp = np.full(m, np.nan)
    var = np.full(m, np.nan)
    found = np.zeros(m, dtype=bool)
    if len(points) < 3 or m == 0:
        return zp, var, found

    tri = dl.delaunay(points[:, :2])
    if len(tri) == 0:
        return zp, var, found
    fs = dl.find_simplex(points[:, :2], tri, grids)
    ok = fs >= 0
    if not ok.any():
        return zp, var, found
    t = tri[fs[ok]]

    pv = points - centroid  # P1 centroid conditioning
    g = grids[ok] - centroid[:2]
    x1, y1, z1 = pv[t[:, 0], 0], pv[t[:, 0], 1], pv[t[:, 0], 2]
    x2, y2, z2 = pv[t[:, 1], 0], pv[t[:, 1], 1], pv[t[:, 1], 2]
    x3, y3, z3 = pv[t[:, 2], 0], pv[t[:, 2], 1], pv[t[:, 2], 2]
    xp, yp = g[:, 0], g[:, 1]

    # P2 (tin_interpolation.py:125-141)
    A = y1 * z3 - y1 * z2 + y2 * z1 - y2 * z3 + y3 * z2 - y3 * z1
    B = x1 * z2 - x1 * z3 + x2 * z3 - x2 * z1 + x3 * z1 - x3 * z2
    C = x1 * y2 - x1 * y3 + x2 * y3 - x2 * y1 + x3 * y1 - x3 * y2
    D = (x1 * y2 * z3 - x1 * y3 * z2 + x2 * y3 * z1 - x2 * y1 * z3
         + x3 * y1 * z2 - x3 * y2 * z1)

    # P3 (tin_interpolation.py:185-211)
    zp[ok] = (A / C) * xp + (B / C) * yp + D / C + centroid[2]

    # P5 (tin_interpolation.py:88-119)
    C2 = C * C
    E = xp * A + yp * B + D
    d = np.empty((ok.sum(), 9))
    d[:, 0] = ((y3 - y2) * E + ((z2 - z3) * yp + (y2 * z3 - y3 * z2)) * C) / C2
    d[:, 3] = ((y1 - y3) * E + ((z3 - z1) * yp + (y3 * z1 - y1 * z3)) * C) / C2
    d[:, 6] = ((y2 - y1) * E + ((z1 - z2) * yp + (y1 * z2 - y2 * z1)) * C) / C2
    d[:, 1] = ((x2 - x3) * E + ((z3 - z2) * xp + (x3 * z2 - x2 * z3)) * C) / C2
    d[:, 4] = ((x3 - x1) * E + ((z1 - z3) * xp + (x1 * z3 - x3 * z1)) * C) / C2
    d[:, 7] = ((x1 - x2) * E + ((z2 - z1) * xp + (x2 * z1 - x1 * z2)) * C) / C2
    d[:, 2] = ((y2 - y3) * xp + (x3 - x2) * yp + (x2 * y3 - x3 * y2)) / C
    d[:, 5] = ((y3 - y1) * xp + (x1 - x3) * yp + (x3 * y1 - x1 * y3)) / C
    d[:, 8] = ((y1 - y2) * xp + (x2 - x1) * yp + (x1 * y2 - x2 * y1)) / C

    # E3 block-diagonal quadratic form (tin_interpolation.py:146-181)
    v = np.zeros(ok.sum())
    for k in range(3):
        tp = tpu[t[:, k]]
        dx, dy, dz = d[:, 3 * k], d[:, 3 * k + 1], d[:, 3 * k + 2]
        v += (dx * dx * tp[:, 0] + dy * dy * tp[:, 1] + dz * dz * tp[:, 2]
              + 2 * dx * dy * tp[:, 3] + 2 * dx * dz * tp[:, 4]
              + 2 * dy * dz * tp[:, 5])
    var[ok] = v
    found[ok] = True
    return zp, var, found


def tin_interpolate(
    spark: SparkSession,
    points: DataFrame,
    grid: DataFrame,
    cell_res: int = 4,
    centroid: tuple[float, float, float] | None = None,
    halo_m: float | None = None,
) -> DataFrame:
    """points(x,y,z,+TPU) x grid(grid_id,x,y) -> TIN_SCHEMA rows.

    ``centroid`` defaults to the exact P1 data centroid computed by a
    Spark agg; pass explicitly for bit-reproducible comparisons.
    """
    if centroid is None:
        c = points.agg(
            F.avg("x").alias("cx"), F.avg("y").alias("cy"), F.avg("z").alias("cz")
        ).collect()[0]
        centroid = (c["cx"], c["cy"], c["cz"])
    cen = np.asarray(centroid, dtype=np.float64)

    n = 1 << cell_res
    pts = fan_out_points(spark, points, cell_res, halo_m)
    grd = grid.withColumn(
        "cell",
        F.expr(
            f"greatest(0, least({n - 1}, CAST(floor((y - {_Y0!r}) / {_EXT!r} * {n}) AS BIGINT)))"
        ) * n
        + F.expr(
            f"greatest(0, least({n - 1}, CAST(floor((x - {_X0!r}) / {_EXT!r} * {n}) AS BIGINT)))"
        ),
    ).select("cell", "grid_id", "x", "y")

    def _cell_kernel(key, gpdf, ppdf):  # untyped: full hints or none for pyspark eval-type inference
        if gpdf.empty:
            return pd.DataFrame(
                columns=["grid_id", "x", "y", "zp", "var_zp", "found"]
            )
        # dedupe exact-duplicate XY (degenerate for Delaunay);
        # sort first so the kept row is deterministic — plain
        # drop_duplicates keeps whichever duplicate the shuffle
        # delivered first, so coincident points with different z/TPU
        # made re-runs nondeterministic
        ppdf = ppdf.sort_values(
            list(ppdf.columns), kind="mergesort"
        ).drop_duplicates(subset=["x", "y"])
        p = ppdf[["x", "y", "z"]].to_numpy(dtype=np.float64)
        tpu = ppdf[TPU_COLS].to_numpy(dtype=np.float64)
        g = gpdf[["x", "y"]].to_numpy(dtype=np.float64)
        zp, var, found = tin_numpy(p, tpu, g, cen)
        return pd.DataFrame(
            {
                "grid_id": gpdf["grid_id"].to_numpy(),
                "x": g[:, 0],
                "y": g[:, 1],
                "zp": zp,
                "var_zp": var,
                "found": found,
            }
        )

    return (
        grd.groupBy("cell")
        .cogroup(pts.groupBy("cell"))
        .applyInPandas(_cell_kernel, TIN_SCHEMA)
    )


from gpiv_spark.functions.geocode import EXTENT as _EXT, X0 as _X0, Y0 as _Y0  # noqa: E402


# ---------------------------------------------------------------------------
# Scale path: certified per-cell blobs -> one of two doc-probe plans.
#
# tin_interpolate above is the exact per-cell reference; for doc-scale
# throughput (10^12 docs) the TIN is built ONCE, distributed, as one
# blob per coarse cell (halo'd Delaunay, each triangle owned by the
# cell containing its centroid -> no duplicates, each owned triangle
# certified against the halo its kernel saw). The blobs then feed
# either the broadcast pack (merge_pack_blobs: Python cost O(points),
# docs probed worker-side with no shuffle) or the triangle table
# (triangles_from_blobs: docs equi-join it on the fine Z-order cells
# its bbox covers, Raptor-style, then a barycentric refine and the
# P2/P3/P5/E3 closed forms as Catalyst column arithmetic). choose_plan
# is the only place that picks between them.
# ---------------------------------------------------------------------------

TRI_SCHEMA = (
    "tri_id long, "
    + ", ".join(f"{c}{k} double" for k in (1, 2, 3) for c in ("x", "y", "z"))
    + ", "
    + ", ".join(
        f"{t}_{k} double" for k in (1, 2, 3)
        for t in ("var_x", "var_y", "var_z", "cov_xy", "cov_xz", "cov_yz")
    )
)

# blob shard fields exploded by triangles_from_blobs (names = shard keys)
TRI_ID_SCHEMA = "tri_id long, v1 long, v2 long, v3 long"
_SHARD_POINT_SCHEMA = ("pid long, px double, py double, pz double, "
                       + ", ".join(f"p_{t} double" for t in TPU_COLS))


PACK_BLOB_SCHEMA = ("cell long, n_pts long, n_tri long, n_pairs long, "
                    "n_uncert long, n_outside long, halo_need double, "
                    "payload binary")


def _make_cell_blob_kernel(n: int, csize: float, nf: int, fs: float,
                           halo_eff: float, edge_eff: float, id_col: str):
    """Factory for the per-cell pack kernel (shared by the ring-1 pass
    of build_pack_blobs and the wide-reach certify retries of
    build_pack_blobs_at_cells). ``halo_eff``/``edge_eff`` are the halo
    the CERTIFICATE may claim — callers must guarantee the fan-in
    actually delivered every point within that distance of the cell."""
    import pickle

    def _cell_blob(key, pdf):
        import numpy as _np

        cell = int(key[0])
        cy, cx = divmod(cell, n)
        x_lo, x_hi = _X0 + cx * csize, _X0 + (cx + 1) * csize
        y_lo, y_hi = _Y0 + cy * csize, _Y0 + (cy + 1) * csize
        # ownership bounds for POINTS mirror the clamped home-cell expr:
        # edge cells absorb out-of-extent points.
        px_lo = -_np.inf if cx == 0 else x_lo
        px_hi = _np.inf if cx == n - 1 else x_hi
        py_lo = -_np.inf if cy == 0 else y_lo
        py_hi = _np.inf if cy == n - 1 else y_hi

        ax = pdf["x"].to_numpy(_np.float64)
        ay = pdf["y"].to_numpy(_np.float64)
        own_pt = (ax >= px_lo) & (ax < px_hi) & (ay >= py_lo) & (ay < py_hi)
        shard = {
            "cell": cell,  # lets merge_pack_blobs order shards by cell
            "pid": pdf[id_col].to_numpy(_np.int64)[own_pt],
            "px": ax[own_pt],
            "py": ay[own_pt],
            "pz": pdf["z"].to_numpy(_np.float64)[own_pt],
        }
        for t in TPU_COLS:
            shard[f"p_{t}"] = pdf[t].to_numpy(_np.float64)[own_pt]

        # deterministic keeper: min id wins for coincident XY
        ddf = pdf.sort_values(id_col, kind="mergesort").drop_duplicates(
            subset=["x", "y"])
        p = ddf[["x", "y"]].to_numpy(_np.float64)
        pid = ddf[id_col].to_numpy(_np.int64)
        tri = dl.delaunay(p) if len(p) >= 3 else _np.empty((0, 3), _np.int64)
        n_uncert = 0
        halo_need = 0.0
        # strays outside the nominal extent, counted on OWNED points so
        # the per-cell sums add up to the global count (ownership is a
        # partition); any stray voids the certificate's bbox clamp
        n_outside = int((
            (shard["px"] < _X0) | (shard["px"] >= _X0 + _EXT)
            | (shard["py"] < _Y0) | (shard["py"] >= _Y0 + _EXT)
        ).sum())
        if len(tri):
            cen_x = p[tri, 0].mean(axis=1)
            cen_y = p[tri, 1].mean(axis=1)
            own = ((cen_x >= x_lo) & (cen_x < x_hi)
                   & (cen_y >= y_lo) & (cen_y < y_hi))
            tri = tri[own]
        if len(tri):
            # Halo-sufficiency certificate (distributed-Delaunay
            # soundness): an owned triangle provably belongs to the
            # GLOBAL Delaunay iff its circumcircle is empty of points
            # this kernel never saw — i.e. the circle, restricted to
            # where points can exist, fits inside cell + halo band.
            # "Where points can exist" is the nominal data bbox
            # [X0, X0+EXT]^2, valid only when no point lies outside it
            # (the kernel counts strays in n_outside; the driver must
            # see zero before trusting bbox-clamped counts). Hull
            # slivers have huge circumcircles bulging OUTSIDE the bbox
            # — the clamp uses the true chord extent so they certify.
            # Coordinates are centered on the cell before the
            # circumcircle math: at UTM magnitudes the squares lose
            # ~13 digits to cancellation (see functions/delaunay.py).
            ccx0, ccy0 = 0.5 * (x_lo + x_hi), 0.5 * (y_lo + y_hi)
            pc = p - _np.array([[ccx0, ccy0]])
            cc, r2 = dl._circumcircles(pc, tri)
            on_edge = cx in (0, n - 1) or cy in (0, n - 1)
            half = 0.5 * csize + (edge_eff if on_edge else halo_eff)
            # data bbox in cell-centered coords
            bx_lo, bx_hi = _X0 - ccx0, _X0 + _EXT - ccx0
            by_lo, by_hi = _Y0 - ccy0, _Y0 + _EXT - ccy0
            # true extent of (circle ∩ bbox): chord half-length at
            # horizontal/vertical distance h from the center to the
            # bbox's x/y-interval (0 when the center is inside it)
            hx = _np.maximum(0.0, _np.maximum(bx_lo - cc[:, 0],
                                              cc[:, 0] - bx_hi))
            hy = _np.maximum(0.0, _np.maximum(by_lo - cc[:, 1],
                                              cc[:, 1] - by_hi))
            chord_y = _np.sqrt(_np.maximum(0.0, r2 - hx * hx))
            chord_x = _np.sqrt(_np.maximum(0.0, r2 - hy * hy))
            ok = _np.ones(len(tri), dtype=bool)
            if cx > 0:
                ok &= _np.maximum(cc[:, 0] - chord_x, bx_lo) >= -half
            if cx < n - 1:
                ok &= _np.minimum(cc[:, 0] + chord_x, bx_hi) <= half
            if cy > 0:
                ok &= _np.maximum(cc[:, 1] - chord_y, by_lo) >= -half
            if cy < n - 1:
                ok &= _np.minimum(cc[:, 1] + chord_y, by_hi) <= half
            n_uncert = int((~ok).sum())
            if n_uncert:
                # the halo at which every CURRENTLY-failing triangle's
                # clamped circumcircle would fit — lets the driver
                # retry once at the reported need instead of walking a
                # blind doubling ladder (a wider build can still
                # surface new slivers; the driver keeps doubling then)
                req = _np.zeros(len(tri))
                if cx > 0:
                    req = _np.maximum(
                        req, -_np.maximum(cc[:, 0] - chord_x, bx_lo))
                if cx < n - 1:
                    req = _np.maximum(
                        req, _np.minimum(cc[:, 0] + chord_x, bx_hi))
                if cy > 0:
                    req = _np.maximum(
                        req, -_np.maximum(cc[:, 1] - chord_y, by_lo))
                if cy < n - 1:
                    req = _np.maximum(
                        req, _np.minimum(cc[:, 1] + chord_y, by_hi))
                halo_need = float(req[~ok].max() - 0.5 * csize)
        shard["tri_id"] = (cell * (1 << 24)
                           + _np.arange(len(tri), dtype=_np.int64))
        for k in range(3):
            shard[f"v{k + 1}"] = pid[tri[:, k]] if len(tri) else _np.empty(0, _np.int64)
        # fine-cell bbox covering, vectorized per cell (same math as the
        # old driver-side pack, now embarrassingly parallel)
        if len(tri):
            vx = p[tri, 0]
            vy = p[tri, 1]
            ix_lo = _np.clip(((vx.min(1) - _X0) / fs).astype(_np.int64), 0, nf - 1)
            ix_hi = _np.clip(((vx.max(1) - _X0) / fs).astype(_np.int64), 0, nf - 1)
            iy_lo = _np.clip(((vy.min(1) - _Y0) / fs).astype(_np.int64), 0, nf - 1)
            iy_hi = _np.clip(((vy.max(1) - _Y0) / fs).astype(_np.int64), 0, nf - 1)
            nx = ix_hi - ix_lo + 1
            ny = iy_hi - iy_lo + 1
            reps = nx * ny
            total = int(reps.sum())
            rows = _np.repeat(_np.arange(len(tri), dtype=_np.int32), reps)
            base = _np.concatenate([[0], _np.cumsum(reps)[:-1]])
            within = _np.arange(total) - _np.repeat(base, reps)
            wx = within % _np.repeat(nx, reps)
            wy = within // _np.repeat(nx, reps)
            shard["pair_icell"] = (
                (_np.repeat(iy_lo, reps) + wy) * nf
                + (_np.repeat(ix_lo, reps) + wx)
            ).astype(_np.int64)
            shard["pair_tri"] = rows
        else:
            shard["pair_icell"] = _np.empty(0, _np.int64)
            shard["pair_tri"] = _np.empty(0, _np.int32)
        return pd.DataFrame(
            {
                "cell": [cell],
                "n_pts": [len(shard["pid"])],
                "n_tri": [len(tri)],
                "n_pairs": [len(shard["pair_icell"])],
                "n_uncert": [n_uncert],
                "halo_need": [halo_need],
                "n_outside": [n_outside],
                "payload": [pickle.dumps(shard, protocol=4)],
            }
        )

    return _cell_blob


def build_pack_blobs(spark: SparkSession, points: DataFrame,
                     cell_res: int = 4, index_res: int = 9,
                     halo_m: float | None = None,
                     id_col: str = "point_id",
                     only_cells: list[int] | None = None,
                     edge_halo_m: float | None = None) -> DataFrame:
    """Distributed pack build: one kernel call per coarse cell does the
    local Delaunay AND packs its shard of the broadcast index — owned
    points (no dedupe: any pid a neighbor cell's triangle references
    must resolve), owned triangles as global-pid refs, and each owned
    triangle's fine-cell bbox covering pairs. The driver's only job is
    concatenation + two O(n log n) sorts (merge_pack_blobs) — no
    toArrow() of the full triangle/point tables, no single-threaded
    covering computation (kills the round-1 scale/Amdahl bottleneck).
    """
    n = 1 << cell_res
    nf = 1 << index_res
    fs = _EXT / nf
    csize = _EXT / n
    # The halo the CERTIFICATE may claim is capped at csize:
    # fan_out_points only ever reaches the 8-neighbor ring, so the
    # seen region is cell + csize no matter how large halo_m is — a
    # larger claimed halo would certify triangles against points the
    # kernel never saw (wide-reach retries go through
    # build_pack_blobs_at_cells, whose fan-in honors any halo; this
    # clamp closes the caller-supplied halo_m > csize hole here).
    halo_eff = min(csize, csize if halo_m is None else halo_m)
    edge_eff = min(csize, halo_eff if edge_halo_m is None else edge_halo_m)
    pts = fan_out_points(spark, points, cell_res, halo_m,
                         extra_cols=(id_col,), edge_halo_m=edge_halo_m)
    npart = PACK_TASKS
    if only_cells is not None:
        # certify-retry path: re-derive just these cells' shards. A
        # per-cell bbox prefilter on the POINTS (before the 9-way
        # neighbor cross join) keeps the retry's JVM scan proportional
        # to the failed region, and the task count tracks the retry's
        # actual group count instead of paying PACK_TASKS handshakes
        # for a handful of cells (task count stays data-derived, never
        # cores-derived — the granularity discipline in CLAUDE.md).
        reach = max(halo_eff, edge_eff) + csize
        pre = " OR ".join(
            f"(x >= {_X0 + (c % n) * csize - reach!r} AND "
            f"x < {_X0 + (c % n + 1) * csize + reach!r} AND "
            f"y >= {_Y0 + (c // n) * csize - reach!r} AND "
            f"y < {_Y0 + (c // n + 1) * csize + reach!r})"
            for c in only_cells[:64]
        )
        if pre and len(only_cells) <= 64:
            points = points.filter(F.expr(pre))
            pts = fan_out_points(spark, points, cell_res, halo_m,
                                 extra_cols=(id_col,),
                                 edge_halo_m=edge_halo_m)
        pts = pts.filter(F.col("cell").isin([int(c) for c in only_cells]))
        npart = max(8, min(PACK_TASKS, 4 * len(only_cells)))

    _cell_blob = _make_cell_blob_kernel(n, csize, nf, fs, halo_eff,
                                        edge_eff, id_col)
    return (
        pts.repartition(npart, "cell")
        .groupBy("cell")
        .applyInPandas(_cell_blob, PACK_BLOB_SCHEMA)
    )


def build_pack_blobs_at_cells(spark: SparkSession, points: DataFrame,
                              cells: list[int], cell_res: int,
                              index_res: int, halo_m: float,
                              id_col: str = "point_id") -> DataFrame:
    """Wide-reach certify retry: rebuild the given cells' shards with a
    halo that may exceed the 8-neighbor ring's reach. Fan-in is a
    broadcast join of points against the (tiny) failed-cell list — each
    point reaches every listed cell whose bbox it lies within ``halo_m``
    of (Chebyshev distance, the same per-axis rule fan_out_points
    applies inside the ring). Cost is O(n_points * n_cells) predicate
    work with no 9-way row multiplication, so escalating the halo all
    the way to the full extent stays a bounded, targeted job instead of
    the old global grid-coarsen rebuild."""
    n = 1 << cell_res
    nf = 1 << index_res
    fs = _EXT / nf
    csize = _EXT / n
    cell_rows = [(int(c),
                  _X0 + (int(c) % n) * csize, _X0 + (int(c) % n + 1) * csize,
                  _Y0 + (int(c) // n) * csize, _Y0 + (int(c) // n + 1) * csize)
                 for c in cells]
    tgt = spark.createDataFrame(
        cell_rows, "cell long, cx_lo double, cx_hi double, "
        "cy_lo double, cy_hi double")
    keep = (f"(x >= cx_lo - {halo_m!r} AND x < cx_hi + {halo_m!r} "
            f"AND y >= cy_lo - {halo_m!r} AND y < cy_hi + {halo_m!r})")
    pts = (points.crossJoin(F.broadcast(tgt))
           .filter(F.expr(keep))
           .select("cell", id_col, "x", "y", "z", *TPU_COLS))
    _cell_blob = _make_cell_blob_kernel(n, csize, nf, fs, halo_m, halo_m,
                                        id_col)
    npart = max(8, min(PACK_TASKS, 4 * len(cells)))
    return (
        pts.repartition(npart, "cell")
        .groupBy("cell")
        .applyInPandas(_cell_blob, PACK_BLOB_SCHEMA)
    )


def merge_pack_blobs(blob_rows, index_res: int) -> dict:
    """Concatenate per-cell shards into the broadcast pack dict (same
    layout as pack_triangle_index_normalized's output). Driver cost:
    memcpy-level concatenation, one argsort over points, one over
    triangles, one lexsort over covering pairs."""
    import pickle

    nf = 1 << index_res
    if not isinstance(blob_rows, list):  # pyarrow Table from toArrow()
        payloads = blob_rows.column("payload").to_pylist()
    else:
        payloads = [r["payload"] for r in blob_rows]
    shards = [pickle.loads(b) for b in payloads]
    if not shards:
        raise ValueError(
            "merge_pack_blobs: no cell shards — the points input was "
            "empty (or an only_cells filter matched nothing)"
        )
    # Cell-ascending shard order makes the concatenated tri_id column
    # ALREADY sorted (tri_id = cell*(1<<24) + arange), which deletes
    # the 3M-row triangle argsort + inverse-permutation gathers, and
    # makes the concatenated covering pairs pre-sorted by global tri
    # row — so the (icell, tri) order the probe needs is ONE stable
    # radix pass on the short icell key instead of an introsort on a
    # 64-bit composite. Bit-identical pack (r6; shards carry their
    # cell since the same round).
    shards.sort(key=lambda s: s["cell"])

    def cat(name, dtype):
        return np.concatenate([s[name] for s in shards]).astype(dtype, copy=False)

    # "normalized" names the vertex-indexed layout (points once, triangles
    # as int32 rows into them), now the only one; kept so the pack's
    # contents, and hashes taken of them, stay unchanged
    pack = {"nf": nf, "normalized": True}

    # The covering-pair pipeline (concat + radix argsort + gather +
    # bincount, ~2/3 of the merge's memory traffic) shares no data
    # with the point/vertex pipeline, and numpy's sorts/gathers
    # release the GIL — run it on a thread so the driver's serial
    # merge wall is max(pipelines), not their sum (the merge is the
    # build's one remaining parallelism-independent term).
    def _pairs():
        # pairs reference blob-local triangle rows; lift to global rows
        # (int32: triangle counts are < 2^31 by the pack's own tri_id
        # layout, and halving the bandwidth matters at 10^7 pairs)
        bases = np.cumsum([0] + [len(s["tri_id"]) for s in shards[:-1]],
                          dtype=np.int64)
        pair_tri = np.concatenate(
            [s["pair_tri"].astype(np.int32) + np.int32(b)
             for s, b in zip(shards, bases)]
        )
        pair_icell = cat("pair_icell", np.int64)
        # icell-major, tri-row-minor: the probe's reversed scan then
        # picks the LOWEST tri row (= min tri_id) per doc, same as the
        # old pack. pair_tri is globally ascending (cell-sorted shards,
        # in-shard covering order), so a STABLE sort on icell alone
        # preserves the tri-minor order — numpy's stable int sort is a
        # radix sort.
        porder = np.argsort(pair_icell, kind="stable")
        counts = np.bincount(pair_icell, minlength=nf * nf)
        offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
        return offsets, pair_tri[porder]

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        pairs_fut = pool.submit(_pairs)

        pid = cat("pid", np.int64)
        order = np.argsort(pid, kind="stable")  # radix for ints
        pid_sorted = pid[order]
        pack["px"] = cat("px", np.float64)[order]
        pack["py"] = cat("py", np.float64)[order]
        pack["pz"] = cat("pz", np.float64)[order]
        for t in TPU_COLS:
            pack[f"p_{t}"] = cat(f"p_{t}", np.float64)[order]

        tri_id = cat("tri_id", np.int64)
        n_tri = len(tri_id)
        assert n_tri < 2 or (np.diff(tri_id) > 0).all(), (
            "tri_id not globally ascending after cell-sorted shard concat")
        # pid -> sorted-row lookup: dense inverse table when ids are
        # compact (O(1) gathers), searchsorted fallback for sparse ids
        lo = int(pid_sorted[0]) if len(pid_sorted) else 0
        hi = int(pid_sorted[-1]) if len(pid_sorted) else 0
        dense = len(pid_sorted) > 0 and (hi - lo + 1) <= 4 * len(pid_sorted)
        if dense:
            # int32 table: the gather then lands in tv's dtype directly
            # (no 3 int64->int32 astype passes over 3n rows)
            inv_pid = np.empty(hi - lo + 1, dtype=np.int32)
            inv_pid[pid_sorted - lo] = np.arange(len(pid_sorted),
                                                 dtype=np.int32)
        tv = np.empty((n_tri, 3), dtype=np.int32)
        for k in range(3):
            vk = cat(f"v{k + 1}", np.int64)
            if dense:
                tv[:, k] = inv_pid[vk - lo]
            else:
                tv[:, k] = np.searchsorted(pid_sorted, vk).astype(np.int32)
        pack["tv"] = tv
        for k in range(3):
            # direct per-column gathers: an (m,3) temp + slice copies
            # doubled the traffic on this 3-6M-triangle phase
            pack[f"x{k + 1}"] = pack["px"][tv[:, k]]
            pack[f"y{k + 1}"] = pack["py"][tv[:, k]]

        pack["offsets"], pack["cell_tri"] = pairs_fut.result()
    return pack


# Per-process cache of opened pack views (worker processes are reused
# across tasks; the mmap views live as long as the handle's directory
# key stays cached). A miss evicts every other pack's views: a reused
# worker never sees the driver's destroy(), so without eviction it
# would keep the deleted files of every earlier build mapped.
_PACK_CACHE: dict = {}


class PackFileHandle:
    """Broadcast-compatible handle (.value / .destroy / .unpersist) for
    a merged TIN pack, backed by one .npy file per array + mmap.

    Why not sc.broadcast(pack): the pickled broadcast cost 2.5-4 s of
    serial driver time at a 336 MB pack (1.6M points), and every
    reused worker process then held its OWN unpickled copy — 32
    workers x 336 MB = 10.7 GB of duplicated, cache-hostile heap. The
    file handle writes the arrays once (page cache), ships only the
    directory path + tiny metadata in the task closure, and every
    worker maps the SAME physical pages read-only (np.load
    mmap_mode='r'). On a real cluster the constructor registers the
    directory with sc.addFile(recursive=True) so executors fetch it
    once per node — the same per-node distribution a TorrentBroadcast
    gives, minus the per-process deserialization.
    """

    def __init__(self, spark: SparkSession, pack: dict):
        import atexit
        import os
        import shutil
        import tempfile

        self._dir = tempfile.mkdtemp(prefix="gpiv_pack_")
        # callers that drop the handle without destroy() (bench children
        # loop builds) must not leak ~100-340 MB dirs per build — clean
        # at driver-interpreter exit; workers only ever read.
        atexit.register(shutil.rmtree, self._dir, ignore_errors=True)
        meta = {}
        arrays = []
        for k, v in pack.items():
            if isinstance(v, np.ndarray):
                np.save(os.path.join(self._dir, f"{k}.npy"), v)
                arrays.append(k)
            else:
                meta[k] = v
        self._meta = meta
        self._arrays = arrays
        if not spark.sparkContext.master.startswith("local"):
            spark.sparkContext.addFile(self._dir, recursive=True)

    @property
    def value(self) -> dict:
        import os

        d = _PACK_CACHE.get(self._dir)
        if d is None:
            _PACK_CACHE.clear()
            base = self._dir
            if not os.path.isdir(base):  # executor without shared fs
                from pyspark import SparkFiles

                base = SparkFiles.get(os.path.basename(self._dir))
            d = dict(self._meta)
            for k in self._arrays:
                d[k] = np.load(os.path.join(base, f"{k}.npy"),
                               mmap_mode="r")
            _PACK_CACHE[self._dir] = d
        return d

    def destroy(self, blocking: bool = False) -> None:
        import shutil

        _PACK_CACHE.pop(self._dir, None)
        shutil.rmtree(self._dir, ignore_errors=True)

    def unpersist(self, blocking: bool = False) -> None:
        _PACK_CACHE.pop(self._dir, None)


_BLOB_COUNTERS = ("cell", "n_uncert", "halo_need", "n_outside")


def certified_blobs(spark: SparkSession, points: DataFrame,
                    cell_res: int = 4, index_res: int = 9,
                    halo_m: float | None = None,
                    id_col: str = "point_id", collect: bool = True):
    """points -> per-cell pack blobs whose every owned triangle carries
    the halo-sufficiency certificate (the one TIN producer).

    Cells with uncertified owned triangles (in practice a handful of
    hull-edge cells whose sliver circumcircles run along the data
    boundary) are rebuilt with wider halos — only their fan-in rows
    reshuffle — until every owned triangle certifies. This is what
    makes a density-adaptive halo safe: the fixed-metre default is
    wasteful on dense clouds and silently insufficient on sparse ones.
    The certificate guarantees every EMITTED triangle is globally
    Delaunay (soundness); completeness of the thin band between the
    local and global convex hulls is not claimed (F4 hull-membership
    probes there return NULL either way).

    ``collect=True`` (build_broadcast_pack) brings each round's blob
    table to the driver in one Spark job and returns the certified rows
    as a list of ``{"payload": bytes}`` dicts for merge_pack_blobs — the
    merge needs every payload on the driver anyway. ``collect=False``
    keeps the payloads on the executors: each round is local-checkpointed
    (so reading its counters does not re-run the kernels), the ladder
    reads only the counter columns, and the result is a PACK_BLOB_SCHEMA
    DataFrame with one row per cell.
    """
    csize = _EXT / (1 << cell_res)
    rounds = []  # per build round: its blob table (collect) or DataFrame
    owner = {}  # cell -> index of the round whose shard the cell keeps

    def run(blobs):
        """Materialize one build round -> (failed cells, max halo_need)."""
        if collect:
            counters = blobs.toArrow()
            rounds.append(counters)
        else:
            blobs = blobs.localCheckpoint()
            rounds.append(blobs)
            counters = blobs.select(*_BLOB_COUNTERS).toArrow()
        strays = int(sum(counters.column("n_outside").to_pylist()))
        if strays:
            raise ValueError(
                f"{strays} points lie outside the nominal extent: the "
                "certificate's bbox clamp is unsound for this cloud — "
                "re-extent the data")
        cells = counters.column("cell").to_pylist()
        owner.update(dict.fromkeys(cells, len(rounds) - 1))
        failed = [c for c, u in zip(cells,
                                    counters.column("n_uncert").to_pylist())
                  if u]
        # a zero-area owned triangle has no finite circumcircle: its cell
        # reports a NaN need (null once in Arrow), and the ladder's
        # doubling alone carries that cell's retries
        needs = [h for h in counters.column("halo_need").to_pylist()
                 if h is not None and not math.isnan(h)]
        return failed, max(needs, default=0.0)

    # extent-boundary cells get 4x the halo up front: hull slivers
    # along the data edge are where the certificate fails in practice,
    # and paying their wider fan-in immediately beats a whole extra
    # retry job (capped at csize — the 8-ring's reach).
    base_halo = csize if halo_m is None else halo_m
    halo_r = min(4.0 * base_halo, csize)
    failed, halo_need = run(build_pack_blobs(
        spark, points, cell_res, index_res, halo_m, id_col,
        edge_halo_m=halo_r))
    # Repair ladder: (1) if failures are WIDESPREAD (a large share of
    # populated cells), walk cheap in-ring halo doublings via
    # only_cells; if most cells still fail, the grid itself is too fine
    # for the cloud's density — coarsen globally, which also keeps the
    # hull-band completeness of a coarser rebuild; (2) once only a FEW
    # stubborn cells remain (dense clouds: hull slivers along the
    # extent edge), rebuild just those cells with halos beyond the
    # 8-ring's reach (build_pack_blobs_at_cells) instead of re-running
    # the whole build one resolution coarser — the coarsen path
    # measured ~12 s of a 23 s 8-core/400k-point build for ONE stubborn
    # cell. At halo >= n*csize a retried kernel sees the entire cloud
    # and the certificate's cell+halo region contains the whole data
    # bbox, so the targeted loop provably terminates.
    few = max(2, 0.05 * len(owner))
    if len(failed) > few:
        while failed and halo_r < csize:
            halo_r = min(2.0 * halo_r, csize)
            failed, halo_need = run(build_pack_blobs(
                spark, points, cell_res, index_res, halo_r, id_col,
                only_cells=failed, edge_halo_m=halo_r))
        if failed and cell_res > 0 and len(failed) > few:
            return certified_blobs(spark, points, cell_res - 1, index_res,
                                   halo_m, id_col, collect)
    max_halo = (1 << cell_res) * csize
    while failed:
        # one wide-reach rebuild of just the stubborn cells, at the
        # halo the certificate REPORTED it needs (+2% slack) — a blind
        # doubling chain spent two sequential Spark jobs (~3 s of a 6 s
        # 8-core/400k build) fixing 2 cells. A wider build can surface
        # new slivers with their own reported need; doubling is the
        # progress guarantee when the report alone does not grow.
        halo_r = min(max(1.02 * halo_need, 2.0 * halo_r), max_halo)
        failed, halo_need = run(build_pack_blobs_at_cells(
            spark, points, failed, cell_res, index_res, halo_r, id_col))
        if failed and halo_r >= max_halo:
            raise ValueError(
                f"halo certificate still failing for cells {failed[:8]} "
                f"at a whole-extent halo ({halo_r:.1f} m) — unreachable "
                "unless the certificate itself is broken")

    if collect:
        payload_by_cell = {}
        for table in rounds:
            payload_by_cell.update(zip(table.column("cell").to_pylist(),
                                       table.column("payload").to_pylist()))
        return [{"payload": b} for b in payload_by_cell.values()]
    kept = [blobs.filter(F.col("cell").isin(
                [c for c, r in owner.items() if r == i]))
            for i, blobs in enumerate(rounds) if i in owner.values()]
    return functools.reduce(DataFrame.unionByName, kept)


def build_broadcast_pack(spark: SparkSession, points: DataFrame,
                         cell_res: int = 4, index_res: int = 9,
                         halo_m: float | None = None,
                         id_col: str = "point_id", certify: bool = True):
    """points -> certified blobs -> merged pack -> PackFileHandle.

    The pack is always certified (see certified_blobs); ``certify`` is
    accepted only as ``True``, for callers written when it was optional.
    """
    if certify is not True:
        raise ValueError(
            "build_broadcast_pack always certifies its triangles; "
            f"certify={certify!r} is not supported")
    rows = certified_blobs(spark, points, cell_res, index_res, halo_m,
                           id_col)
    return PackFileHandle(spark, merge_pack_blobs(rows, index_res))


def _schema_names(schema: str) -> list[str]:
    return [f.split()[0] for f in schema.split(", ")]


def _explode_blobs(blobs: DataFrame, schema: str) -> DataFrame:
    """One row per element of the blob shard fields named in ``schema``
    (its column names are shard keys). Vectorized: one unpickle per
    blob and one Arrow batch out per Arrow batch in."""
    names = _schema_names(schema)

    def explode(batches):
        import pickle

        import numpy as _np
        import pyarrow as pa

        for batch in batches:
            shards = [pickle.loads(b)
                      for b in batch.column("payload").to_pylist()]
            if shards:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(_np.concatenate([s[c] for s in shards]))
                     for c in names], names=names)

    return blobs.select("payload").mapInArrow(explode, schema)


def triangles_from_blobs(blobs: DataFrame) -> DataFrame:
    """Certified blob rows -> TRI_SCHEMA rows (the shuffle plan's
    triangle table), without collecting anything to the driver.

    The payloads' triangles (tri_id + three global point ids) gather
    their vertices' coordinates and TPU with a Spark join on point id
    against the payloads' owned points — the same arrays
    merge_pack_blobs packs for the broadcast plan."""
    tris = _explode_blobs(blobs, TRI_ID_SCHEMA)
    pts = _explode_blobs(blobs, _SHARD_POINT_SCHEMA)
    for k in (1, 2, 3):
        tris = tris.join(pts.select(
            F.col("pid").alias(f"v{k}"),
            *[F.col(f"p{c}").alias(f"{c}{k}") for c in ("x", "y", "z")],
            *[F.col(f"p_{t}").alias(f"{t}_{k}") for t in TPU_COLS],
        ), f"v{k}")
    return tris.select(*_schema_names(TRI_SCHEMA))


def pack_triangle_index_normalized(tri_tbl, pts_tbl, index_res: int,
                                   id_col: str = "point_id") -> dict:
    """Driver-side pack from a (tri_id, v1..v3) table + the points
    table: the single-process twin of merge_pack_blobs (same layout),
    for packing a triangulation that did not come from the blob kernel.
    Points' coordinates/TPU are stored once plus int32 vertex indices,
    and the probe gathers per batch (two fancy-index hops)."""

    def _np_cols(tbl, names, dtypes):
        if isinstance(tbl, pd.DataFrame):
            return {c: tbl[c].to_numpy(t) for c, t in zip(names, dtypes)}
        return {
            c: tbl.column(c).to_numpy(zero_copy_only=False).astype(t)
            for c, t in zip(names, dtypes)
        }

    nf = 1 << index_res
    fs = _EXT / nf
    pcols = _np_cols(
        pts_tbl, [id_col, "x", "y", "z"] + TPU_COLS,
        [np.int64] + [np.float64] * 9,
    )
    order = np.argsort(pcols[id_col], kind="stable")
    pid_sorted = pcols[id_col][order]
    pack = {"nf": nf, "normalized": True}
    pack["px"] = pcols["x"][order]
    pack["py"] = pcols["y"][order]
    pack["pz"] = pcols["z"][order]
    for t in TPU_COLS:
        pack[f"p_{t}"] = pcols[t][order]

    tcols = _np_cols(tri_tbl, ["tri_id", "v1", "v2", "v3"], [np.int64] * 4)
    torder = np.argsort(tcols["tri_id"], kind="stable")
    tv = np.empty((len(torder), 3), dtype=np.int32)
    for k, c in enumerate(("v1", "v2", "v3")):
        tv[:, k] = np.searchsorted(pid_sorted, tcols[c][torder]).astype(np.int32)
    pack["tv"] = tv

    vx = pack["px"][tv]
    vy = pack["py"][tv]
    # dense containment arrays (the hot per-candidate phase reads these;
    # z/TPU stay normalized behind tv — hybrid keeps the pack ~2x smaller
    # than fully dense at fully-dense probe speed)
    for k in range(3):
        pack[f"x{k + 1}"] = np.ascontiguousarray(vx[:, k])
        pack[f"y{k + 1}"] = np.ascontiguousarray(vy[:, k])
    ix_lo = np.clip(((vx.min(1) - _X0) / fs).astype(np.int64), 0, nf - 1)
    ix_hi = np.clip(((vx.max(1) - _X0) / fs).astype(np.int64), 0, nf - 1)
    iy_lo = np.clip(((vy.min(1) - _Y0) / fs).astype(np.int64), 0, nf - 1)
    iy_hi = np.clip(((vy.max(1) - _Y0) / fs).astype(np.int64), 0, nf - 1)
    nx = ix_hi - ix_lo + 1
    ny = iy_hi - iy_lo + 1
    reps = nx * ny
    total = int(reps.sum())
    rows = np.repeat(np.arange(len(tv), dtype=np.int32), reps)
    base = np.concatenate([[0], np.cumsum(reps)[:-1]])
    within = np.arange(total) - np.repeat(base, reps)
    wx = within % np.repeat(nx, reps)
    wy = within // np.repeat(nx, reps)
    icell = (np.repeat(iy_lo, reps) + wy) * nf + (np.repeat(ix_lo, reps) + wx)
    order2 = np.argsort(icell, kind="stable")
    counts = np.bincount(icell, minlength=nf * nf)
    pack["offsets"] = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
    pack["cell_tri"] = rows[order2]
    return pack


def index_triangles(triangles: DataFrame, index_res: int) -> DataFrame:
    """Explode each triangle to the fine Z-order cells its bbox covers.

    Pure JVM (explode(sequence(...)) twice) — the Raptor-style equi-join
    index for the shuffle plan. The broadcast plan's covering pairs come
    from the same bbox math, run inside the blob kernel.
    """
    nf = 1 << index_res
    fs = _EXT / nf

    def lo(c, o):
        return (f"greatest(0, least({nf - 1}, "
                f"CAST(floor((least(x1,x2,x3) - {o!r}) / {fs!r}) AS BIGINT)))"
                .replace("x1,x2,x3", c))

    def hi(c, o):
        return (f"greatest(0, least({nf - 1}, "
                f"CAST(floor((greatest(x1,x2,x3) - {o!r}) / {fs!r}) AS BIGINT)))"
                .replace("x1,x2,x3", c))

    return (
        triangles
        .withColumn("_iy", F.expr(
            f"explode(sequence({lo('y1,y2,y3', _Y0)}, {hi('y1,y2,y3', _Y0)}))"))
        .withColumn("_ix", F.expr(
            f"explode(sequence({lo('x1,x2,x3', _X0)}, {hi('x1,x2,x3', _X0)}))"))
        .withColumn("icell", F.col("_iy") * nf + F.col("_ix"))
        .drop("_ix", "_iy")
    )


def propagate_at(docs_geo: DataFrame, triangles: DataFrame, index_res: int = 7,
                 centroid: tuple[float, float, float] = (0.0, 0.0, 0.0),
                 ) -> DataFrame:
    """Per-doc TIN interpolation + E3 variance — pure Catalyst exprs.

    docs_geo needs (doc_id, x, y). Returns doc_id, zp, var_zp (docs whose
    location is outside every owned triangle are dropped — hull edge).

    Physical shape (semi-join reduction): the high-fanout containment
    probe (docs x candidate triangles, ~10-30 candidates/doc) runs on a
    NARROW index projection (icell, tri_id, 3 vertex xy pairs); only
    each doc's single winning tri_id survives to the second, 1:1 join
    that gathers the full 27-column triangle payload for the E3 math.
    A wide-row fanout join was memory-traffic-bound and anti-scaled
    with executor threads; the narrow probe is ~5x less traffic.
    """
    from gpiv_spark.operators import tin_math

    nf = 1 << index_res
    d = docs_geo.withColumn(
        "icell",
        F.expr(
            f"greatest(0, least({nf - 1}, CAST(floor((y - {_Y0!r}) / {_EXT!r} * {nf}) AS BIGINT)))"
        ) * nf
        + F.expr(
            f"greatest(0, least({nf - 1}, CAST(floor((x - {_X0!r}) / {_EXT!r} * {nf}) AS BIGINT)))"
        ),
    )
    narrow = index_triangles(
        triangles.select("tri_id", "x1", "y1", "x2", "y2", "x3", "y3"),
        index_res,
    )
    j = d.join(narrow, "icell")

    # barycentric containment (boundary-inclusive, CCW triangles) —
    # the ONE edge-sign template (pip.edge_sign), not a byte-for-byte
    # copy that could drift from it
    from gpiv_spark.operators.pip import edge_sign as _sign

    s1 = _sign("x", "y", "x1", "y1", "x2", "y2")
    s2 = _sign("x", "y", "x2", "y2", "x3", "y3")
    s3 = _sign("x", "y", "x3", "y3", "x1", "y1")
    inside = (
        f"(({s1} >= 0 AND {s2} >= 0 AND {s3} >= 0) OR "
        f"({s1} <= 0 AND {s2} <= 0 AND {s3} <= 0))"
    )
    # a doc on a shared edge matches 2 triangles: deterministic pick
    hits = (
        j.filter(F.expr(inside))
        .groupBy("doc_id")
        .agg(
            F.min("tri_id").alias("tri_id"),
            F.first("x").alias("x"),
            F.first("y").alias("y"),
        )
    )

    j = hits.join(triangles, "tri_id")

    cx, cy, cz = centroid
    v = {}
    for k in (1, 2, 3):
        v[f"x{k}"] = f"(x{k} - {cx!r})"
        v[f"y{k}"] = f"(y{k} - {cy!r})"
        v[f"z{k}"] = f"(z{k} - {cz!r})"
    co = tin_math.tin_coeffs_exprs(v)
    xp, yp = f"(x - {cx!r})", f"(y - {cy!r})"
    zp = tin_math.tin_interp_expr(co["A"], co["B"], co["C"], co["D"], xp, yp,
                                  repr(cz))
    pd9 = tin_math.tin_partials_exprs(v, xp, yp, co["A"], co["B"], co["C"],
                                      co["D"])
    tpus = [
        {t: f"{t}_{k}" for t in TPU_COLS}
        for k in (1, 2, 3)
    ]
    var = tin_math.tin_propagate_expr(pd9, tpus)
    return j.select(
        "doc_id",
        F.expr(zp).alias("zp"),
        F.expr(var).alias("var_zp"),
    )


# Cache-blocking for the NumPy fallback probe only (_probe_batch_core,
# used when the C core cannot build; the C probe keeps its state in
# registers and orders each call's docs by cell itself): at Arrow's
# 65536-row batches every intermediate array (~3.4 candidates/point x
# 8 B x dozens of temporaries in the geometry/Jacobian chain) is
# ~1.8 MB — past L2, so each numpy op round-trips DRAM, and 32
# concurrent workers saturate memory bandwidth. Measured on this box (pinned multiprocessing,
# 2 waves/level, best-of-2): 8->32 weak-scaling efficiency 0.67 at
# 65536-row chunks vs 0.78-0.82 at 2-8k chunks, with 32-way absolute
# throughput +25%; single-threaded the 4k chunk is also ~24% faster.
# Results are bit-identical (per-point math, chunking only).
PROBE_CHUNK = 4096


_PROBE_ARGTYPES = None


def _probe_c(idx: dict, x: np.ndarray, y: np.ndarray, centroid: tuple):
    """C probe (functions/_probe_core.c): exact expression-order port —
    bit-identical to _probe_batch_core, pinned by tests/test_probe_c.py.

    The kernel visits the docs in Morton order of their fine cell (an
    in-C radix sort of the doc indices) and writes each result to the
    doc's own slot, so docs sharing a cell read the same pack rows back
    to back. Per-doc results depend only on the doc, so the order leaves
    them bit-identical. Returns None when the core is unavailable."""
    import ctypes
    from pathlib import Path

    from gpiv_spark.functions import _delaunay_cc

    lib = _delaunay_cc.load_lib(
        Path(_delaunay_cc.__file__).resolve().parent / "_probe_core.c")
    if lib is None:
        return None
    global _PROBE_ARGTYPES
    fn = lib.gpiv_probe_batch
    if _PROBE_ARGTYPES is None:
        V, D, I = ctypes.c_void_p, ctypes.c_double, ctypes.c_int64
        fn.restype = ctypes.c_int64
        fn.argtypes = ([V, V, I, D, D, D, I] + [V] * 16
                       + [D, D, D] + [V] * 3)
        _PROBE_ARGTYPES = fn.argtypes
    n = len(x)
    zp = np.empty(n)
    var = np.empty(n)
    found = np.empty(n, dtype=np.uint8)

    def p(a):
        return a.ctypes.data_as(ctypes.c_void_p)

    x = np.ascontiguousarray(x, dtype=np.float64)
    y = np.ascontiguousarray(y, dtype=np.float64)
    cx, cy, cz = centroid
    rc = fn(p(x), p(y), ctypes.c_int64(n),
            ctypes.c_double(_X0), ctypes.c_double(_Y0), ctypes.c_double(_EXT),
            ctypes.c_int64(idx["nf"]),
            p(idx["offsets"]), p(idx["cell_tri"]), p(idx["tv"]),
            p(idx["x1"]), p(idx["y1"]), p(idx["x2"]), p(idx["y2"]),
            p(idx["x3"]), p(idx["y3"]), p(idx["pz"]),
            p(idx["p_var_x"]), p(idx["p_var_y"]), p(idx["p_var_z"]),
            p(idx["p_cov_xy"]), p(idx["p_cov_xz"]), p(idx["p_cov_yz"]),
            ctypes.c_double(cx), ctypes.c_double(cy), ctypes.c_double(cz),
            p(zp), p(var), p(found))
    if rc != 0:
        raise MemoryError("C probe: sort scratch allocation failed")
    return zp, var, found.astype(bool)


def _probe_batch(idx: dict, x: np.ndarray, y: np.ndarray,
                 centroid: tuple) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cache-blocked driver over _probe_batch_core (see PROBE_CHUNK)."""
    res = _probe_c(idx, x, y, centroid)
    if res is not None:
        return res
    n = len(x)
    if n <= PROBE_CHUNK:
        return _probe_batch_core(idx, x, y, centroid)
    zp = np.empty(n)
    var = np.empty(n)
    found = np.empty(n, dtype=bool)
    for s in range(0, n, PROBE_CHUNK):
        e = s + PROBE_CHUNK
        z, v, f = _probe_batch_core(idx, x[s:e], y[s:e], centroid)
        zp[s:e] = z
        var[s:e] = v
        found[s:e] = f
    return zp, var, found


def _probe_batch_core(idx: dict, x: np.ndarray, y: np.ndarray,
                      centroid: tuple
                      ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized containment + P2/P3/P5/E3 for one batch of points."""
    nf = idx["nf"]
    fsize = _EXT / nf
    ix = np.clip(((x - _X0) / fsize).astype(np.int64), 0, nf - 1)
    iy = np.clip(((y - _Y0) / fsize).astype(np.int64), 0, nf - 1)
    cell = iy * nf + ix
    off = idx["offsets"]
    lo = off[cell]
    hi = off[cell + 1]
    ncand = hi - lo
    doc_idx = np.repeat(np.arange(len(x)), ncand)
    # candidate slots: ranges [lo_i, hi_i) concatenated, vectorized
    total = int(ncand.sum())
    if total == 0:
        return (np.full(len(x), np.nan), np.full(len(x), np.nan),
                np.zeros(len(x), bool))
    starts = np.repeat(lo, ncand)
    within = np.arange(total) - np.repeat(
        np.concatenate([[0], np.cumsum(ncand)[:-1]]), ncand
    )
    tri_idx = idx["cell_tri"][starts + within]
    if len(tri_idx) == 0:
        return (np.full(len(x), np.nan), np.full(len(x), np.nan),
                np.zeros(len(x), bool))
    px = x[doc_idx]
    py = y[doc_idx]
    x1, y1 = idx["x1"][tri_idx], idx["y1"][tri_idx]
    x2, y2 = idx["x2"][tri_idx], idx["y2"][tri_idx]
    x3, y3 = idx["x3"][tri_idx], idx["y3"][tri_idx]
    d1 = (px - x2) * (y1 - y2) - (x1 - x2) * (py - y2)
    d2 = (px - x3) * (y2 - y3) - (x2 - x3) * (py - y3)
    d3 = (px - x1) * (y3 - y1) - (x3 - x1) * (py - y1)
    inside = ((d1 >= 0) & (d2 >= 0) & (d3 >= 0)) | (
        (d1 <= 0) & (d2 <= 0) & (d3 <= 0)
    )
    # first (lowest tri row id == min tri_id order) hit per doc
    sel = np.full(len(x), -1, dtype=np.int64)
    hit_docs = doc_idx[inside][::-1]
    hit_tris = tri_idx[inside][::-1]
    sel[hit_docs] = hit_tris  # reversed: earliest candidate wins
    found = sel >= 0
    s = sel[found]
    cx, cy, cz = centroid
    v = {}
    # one (m,3) vertex-id gather, shared with the E3 loop below (it was
    # re-gathered 3x per chunk — wasted DRAM traffic in the kernel the
    # PROBE_CHUNK cache blocking exists to keep bandwidth-lean)
    tvs = idx["tv"][s]
    for k in (1, 2, 3):
        v[f"x{k}"] = idx[f"x{k}"][s] - cx
        v[f"y{k}"] = idx[f"y{k}"][s] - cy
        v[f"z{k}"] = idx["pz"][tvs[:, k - 1]] - cz
    xp = x[found] - cx
    yp = y[found] - cy
    x1, y1, z1 = v["x1"], v["y1"], v["z1"]
    x2, y2, z2 = v["x2"], v["y2"], v["z2"]
    x3, y3, z3 = v["x3"], v["y3"], v["z3"]
    A = y1 * z3 - y1 * z2 + y2 * z1 - y2 * z3 + y3 * z2 - y3 * z1
    B = x1 * z2 - x1 * z3 + x2 * z3 - x2 * z1 + x3 * z1 - x3 * z2
    C = x1 * y2 - x1 * y3 + x2 * y3 - x2 * y1 + x3 * y1 - x3 * y2
    D = (x1 * y2 * z3 - x1 * y3 * z2 + x2 * y3 * z1 - x2 * y1 * z3
         + x3 * y1 * z2 - x3 * y2 * z1)
    zp = np.full(len(x), np.nan)
    var = np.full(len(x), np.nan)
    zp[found] = (A / C) * xp + (B / C) * yp + D / C + cz
    C2 = C * C
    E = xp * A + yp * B + D
    dmat = np.empty((9, found.sum()))
    dmat[0] = ((y3 - y2) * E + ((z2 - z3) * yp + (y2 * z3 - y3 * z2)) * C) / C2
    dmat[3] = ((y1 - y3) * E + ((z3 - z1) * yp + (y3 * z1 - y1 * z3)) * C) / C2
    dmat[6] = ((y2 - y1) * E + ((z1 - z2) * yp + (y1 * z2 - y2 * z1)) * C) / C2
    dmat[1] = ((x2 - x3) * E + ((z3 - z2) * xp + (x3 * z2 - x2 * z3)) * C) / C2
    dmat[4] = ((x3 - x1) * E + ((z1 - z3) * xp + (x1 * z3 - x3 * z1)) * C) / C2
    dmat[7] = ((x1 - x2) * E + ((z2 - z1) * xp + (x2 * z1 - x1 * z2)) * C) / C2
    dmat[2] = ((y2 - y3) * xp + (x3 - x2) * yp + (x2 * y3 - x3 * y2)) / C
    dmat[5] = ((y3 - y1) * xp + (x1 - x3) * yp + (x3 * y1 - x1 * y3)) / C
    dmat[8] = ((y1 - y2) * xp + (x2 - x1) * yp + (x1 * y2 - x2 * y1)) / C
    acc = np.zeros(found.sum())
    for k in range(3):
        dx, dy, dz = dmat[3 * k], dmat[3 * k + 1], dmat[3 * k + 2]
        vk = tvs[:, k]
        tp = {t: idx[f"p_{t}"][vk] for t in TPU_COLS}
        acc += (dx * dx * tp["var_x"]
                + dy * dy * tp["var_y"]
                + dz * dz * tp["var_z"]
                + 2 * dx * dy * tp["cov_xy"]
                + 2 * dx * dz * tp["cov_xz"]
                + 2 * dy * dz * tp["cov_yz"])
    var[found] = acc
    return zp, var, found


def probe_docs(docs_geo: DataFrame, bc,
               centroid: tuple[float, float, float]) -> DataFrame:
    """mapInPandas containment+E3 probe of (doc_id, x, y) rows against a
    pack handle (a PackFileHandle over merge_pack_blobs' pack). Docs
    outside every triangle are dropped, as in propagate_at."""
    cen = tuple(centroid)

    def probe(batches):
        idx = bc.value
        for pdf in batches:
            x = pdf["x"].to_numpy(np.float64)
            y = pdf["y"].to_numpy(np.float64)
            zp, var, found = _probe_batch(idx, x, y, cen)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[found],
                    "zp": zp[found],
                    "var_zp": var[found],
                }
            )
            yield out

    return docs_geo.mapInPandas(probe, "doc_id long, zp double, var_zp double")


# rough bytes/point of the merged pack: 10 point doubles + ~2
# triangles/point x (12B tv + 48B containment xy) + ~3.4 covering
# pairs/tri x 4B cell_tri + offsets; measured 90 MB at 400k points
# => ~225 B/pt.
PACK_BYTES_PER_POINT = 240
BROADCAST_BUDGET_BYTES = 1 << 30


def choose_plan(blobs: DataFrame,
                budget_bytes: int = BROADCAST_BUDGET_BYTES) -> str:
    """The doc probe's physical-plan switch: 'broadcast' when the merged
    pack of these certified blobs (point count read off their counter
    column x PACK_BYTES_PER_POINT) fits ``budget_bytes``, else
    'shuffle'."""
    n_pts = blobs.agg(F.sum("n_pts")).first()[0] or 0
    if n_pts * PACK_BYTES_PER_POINT <= budget_bytes:
        return "broadcast"
    return "shuffle"


def propagate_plan(spark: SparkSession, docs_geo: DataFrame,
                   blobs: DataFrame, plan: str, index_res: int = 9,
                   centroid: tuple[float, float, float] = (0.0, 0.0, 0.0),
                   ) -> DataFrame:
    """Probe (doc_id, x, y) docs against certified blobs with the plan
    choose_plan picked -> (doc_id, zp, var_zp), docs outside every
    triangle dropped.

    broadcast: merge_pack_blobs -> PackFileHandle -> shuffle-free
    mapInPandas probe. shuffle: triangles_from_blobs -> propagate_at;
    the triangle table stays distributed, so no node ever holds the
    whole TIN. Both read the same triangles and pick the same one on
    shared edges (the lowest tri_id), so they give the same answer.
    """
    if plan == "broadcast":
        pack = merge_pack_blobs(blobs.select("payload").toArrow(),
                                index_res)
        return probe_docs(docs_geo, PackFileHandle(spark, pack), centroid)
    if plan == "shuffle":
        return propagate_at(docs_geo, triangles_from_blobs(blobs), index_res,
                            centroid)
    raise ValueError(f"unknown plan {plan!r}")


def propagate_auto(spark: SparkSession, docs_geo: DataFrame,
                   points: DataFrame, cell_res: int = 4, index_res: int = 9,
                   halo_m: float | None = None, id_col: str = "point_id",
                   centroid: tuple[float, float, float] = (0.0, 0.0, 0.0),
                   broadcast_budget_bytes: int = BROADCAST_BUDGET_BYTES,
                   ) -> tuple[DataFrame, str]:
    """points + docs -> certified blobs -> choose_plan -> propagate_plan.

    Returns (result_df, 'broadcast'|'shuffle').
    """
    blobs = certified_blobs(spark, points, cell_res, index_res, halo_m,
                            id_col, collect=False)
    plan = choose_plan(blobs, broadcast_budget_bytes)
    return propagate_plan(spark, docs_geo, blobs, plan, index_res,
                          centroid), plan
