"""From-scratch 2-D Delaunay triangulation + containment query (NumPy).

Replaces scipy.spatial.Delaunay (unavailable here; and the engine's
J1 operator runs it per spatial cell inside applyInPandas, so a
self-contained NumPy implementation is required anyway — see
SURVEY.md §7.3 "Distributed Delaunay").

Bowyer-Watson incremental insertion. The NumPy loop below tests every
live triangle per insertion (one vectorized mask, no per-triangle
Python loop), so it is O(n * m) with m = live triangles; it is the
reference and the fallback. The compiled core (_delaunay_core.c) finds
the same conflicting triangles through a bucket grid of circumcircles,
testing only those whose circle can reach the point's bucket, so its
per-insertion cost stays near-constant at the per-cell point counts
the tiling produces (10^3..10^4).

``find_simplex`` mirrors scipy's semantics used by the reference
(tin_interpolation.py:76-83): returns -1 for points outside the hull.
"""

from __future__ import annotations

import numpy as np


def delaunay(points: np.ndarray) -> np.ndarray:
    """Triangulate (n,2) points -> (m,3) int32 vertex-index triples (CCW).

    The insertion loop runs in a compiled C core when available
    (functions/_delaunay_core.c — an exact port: same insertion order,
    same float expression order, same tie handling, and a grid-indexed
    search that yields the full scan's conflict set in the full scan's
    slot order, so the output is bit-identical to the NumPy loop below,
    which remains both the reference twin and the fallback;
    tests/test_delaunay_c.py asserts array equality across fixture
    shapes). The C core exists because
    the NumPy loop pays ~40 us/insertion of interpreter+temporary
    overhead and streams full-range temporaries through DRAM, which
    made the 32-worker pack build memory-bandwidth-bound (round-6
    profiling: ~450 core-s at 1.6M points vs ~25 in C).
    """
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    if n < 3:
        return np.empty((0, 3), dtype=np.int32)

    # Center internally: the in-circle/circumcenter math squares
    # coordinates, and at UTM magnitudes (~3e6 -> ~1e13 squared) the
    # cancellation costs ~13 of 16 float digits — measured in-circle
    # errors up to 1e-3 relative on the lattice-quantized fixtures.
    # Delaunay is translation-invariant; indices are unchanged.
    pts = pts - pts.mean(axis=0)

    # Super-triangle comfortably containing everything.
    cx, cy = 0.0, 0.0
    span = max(np.ptp(pts[:, 0]), np.ptp(pts[:, 1]), 1.0) * 64.0
    sup = np.array(
        [[cx - span, cy - span * 0.5], [cx + span, cy - span * 0.5], [cx, cy + span]]
    )
    allp = np.vstack([pts, sup])

    from gpiv_spark.functions import _delaunay_cc

    lib = _delaunay_cc.load()
    if lib is not None:
        out = _delaunay_c(lib, pts, allp, n)
        if out is not None:
            return out

    # Preallocated triangle store (capacity-doubling, free-slot reuse):
    # per-insertion cost is ONE vectorized circumcircle test over the
    # live range plus O(|cavity|) Python bookkeeping — no reallocation
    # churn (a naive vstack-per-insertion version was memory-bandwidth
    # bound and did not scale across executor cores).
    cap = max(4 * n + 16, 64)
    tri = np.empty((cap, 3), dtype=np.int64)
    ccx = np.empty(cap)
    ccy = np.empty(cap)
    rr = np.empty(cap)
    alive = np.zeros(cap, dtype=bool)
    tri[0] = (n, n + 1, n + 2)
    c0, r0 = _circumcircles(allp, tri[0:1])
    ccx[0], ccy[0] = c0[0, 0], c0[0, 1]
    rr[0] = r0[0]
    alive[0] = True
    hi = 1  # exclusive upper bound of used slots
    free: list[int] = []

    # Insert in a shuffled-but-deterministic order (plain sequential order
    # on LCG-walk fixtures degrades to worst case).
    order = np.argsort((np.arange(n, dtype=np.int64) * 2654435761) % 4294967296)

    axl = allp[:, 0].tolist()
    ayl = allp[:, 1].tolist()
    for i in order:
        px = pts[i, 0].item()
        py = pts[i, 1].item()
        dx = ccx[:hi] - px
        dy = ccy[:hi] - py
        dx *= dx
        dy *= dy
        dx += dy
        bad = dx < rr[:hi]
        bad &= alive[:hi]
        bad_idx = np.nonzero(bad)[0]
        if len(bad_idx) == 0:
            continue  # on/outside all circumcircles (degenerate duplicate)
        # Boundary polygon: edges used exactly once among bad triangles.
        ecount: dict[tuple[int, int], tuple[int, int]] = {}
        for bi in bad_idx:
            a, b, c = tri[bi]
            for e0, e1 in ((a, b), (b, c), (c, a)):
                key = (e0, e1) if e0 < e1 else (e1, e0)
                if key in ecount:
                    ecount[key] = None
                else:
                    ecount[key] = (e0, e1)
            alive[bi] = False
            free.append(bi)
        slots = []
        for ori in ecount.values():
            if ori is None:
                continue
            slot = free.pop() if free else hi
            if slot == hi:
                hi += 1
                if hi > cap:  # grow (rare)
                    cap *= 2
                    tri = np.resize(tri, (cap, 3))
                    ccx = np.resize(ccx, cap)
                    ccy = np.resize(ccy, cap)
                    rr = np.resize(rr, cap)
                    alive = np.resize(alive, cap)
                    alive[hi:] = False
            tri[slot] = (ori[0], ori[1], i)
            slots.append(slot)
        # circumcircles of the new fan, scalar-ish (cavity is 3-8
        # triangles; the generic _circumcircles' column_stack/where
        # overhead dominated the whole build at this size)
        for slot in slots:
            # python-float scalar math: numpy-scalar dtype dispatch is
            # ~5x slower per op at cavity sizes of 3-8 triangles
            t0, t1, t2 = tri[slot]
            ax = axl[t0]; ay = ayl[t0]
            bx = axl[t1]; by = ayl[t1]
            cx2 = axl[t2]; cy2 = ayl[t2]
            d = 2.0 * ((bx - ax) * (cy2 - ay) - (by - ay) * (cx2 - ax))
            if -1e-300 < d < 1e-300:
                d = 1e-300
            a2 = ax * ax + ay * ay
            b2 = bx * bx + by * by
            c2 = cx2 * cx2 + cy2 * cy2
            ux = (a2 * (by - cy2) + b2 * (cy2 - ay) + c2 * (ay - by)) / d
            uy = (a2 * (cx2 - bx) + b2 * (ax - cx2) + c2 * (bx - ax)) / d
            ccx[slot] = ux
            ccy[slot] = uy
            rr[slot] = (ax - ux) ** 2 + (ay - uy) ** 2
            alive[slot] = True

    live = tri[: hi][alive[:hi]]
    real = (live < n).all(axis=1)
    out = live[real]
    # Canonicalize to CCW winding.
    a, b, c = allp[out[:, 0]], allp[out[:, 1]], allp[out[:, 2]]
    cwmask = _cross(a, b, c) < 0
    out[cwmask, 1], out[cwmask, 2] = out[cwmask, 2].copy(), out[cwmask, 1].copy()
    return out.astype(np.int32)


def _delaunay_c(lib, pts: np.ndarray, allp: np.ndarray,
                n: int) -> np.ndarray | None:
    """Drive the C insertion core; postprocessing (live-row filter,
    super-vertex drop, CCW canonicalization) matches the NumPy loop
    verbatim. Returns None if the core reports an unexpected state."""
    import ctypes

    order = np.argsort((np.arange(n, dtype=np.int64) * 2654435761) % 4294967296)
    order = np.ascontiguousarray(order, dtype=np.int64)
    pts_c = np.ascontiguousarray(pts)
    allp_c = np.ascontiguousarray(allp)
    cap = max(4 * n + 16, 64)
    for _ in range(8):  # capacity-doubling retries, like np.resize growth
        tri = np.empty((cap, 3), dtype=np.int64)
        ccx = np.empty(cap)
        ccy = np.empty(cap)
        rr = np.empty(cap)
        alive = np.zeros(cap, dtype=np.uint8)
        tri[0] = (n, n + 1, n + 2)
        c0, r0 = _circumcircles(allp_c, tri[0:1])
        ccx[0], ccy[0] = c0[0, 0], c0[0, 1]
        rr[0] = r0[0]
        alive[0] = 1
        bad_buf = np.empty(cap, dtype=np.int64)
        free_stack = np.empty(cap, dtype=np.int64)
        edge_buf = np.empty(15 * (cap + 4), dtype=np.int64)
        hi = lib.gpiv_delaunay_core(
            pts_c.ctypes.data_as(ctypes.c_void_p),
            allp_c.ctypes.data_as(ctypes.c_void_p),
            order.ctypes.data_as(ctypes.c_void_p),
            ctypes.c_int64(n),
            tri.ctypes.data_as(ctypes.c_void_p),
            ccx.ctypes.data_as(ctypes.c_void_p),
            ccy.ctypes.data_as(ctypes.c_void_p),
            rr.ctypes.data_as(ctypes.c_void_p),
            alive.ctypes.data_as(ctypes.c_void_p),
            ctypes.c_int64(cap),
            free_stack.ctypes.data_as(ctypes.c_void_p),
            bad_buf.ctypes.data_as(ctypes.c_void_p),
            edge_buf.ctypes.data_as(ctypes.c_void_p),
        )
        if hi == -1:
            cap *= 2
            continue
        if hi <= 0:
            return None
        live = tri[:hi][alive[:hi].astype(bool)]
        real = (live < n).all(axis=1)
        out = live[real]
        a, b, c = allp[out[:, 0]], allp[out[:, 1]], allp[out[:, 2]]
        cwmask = _cross(a, b, c) < 0
        out[cwmask, 1], out[cwmask, 2] = (
            out[cwmask, 2].copy(), out[cwmask, 1].copy())
        return out.astype(np.int32)
    return None


def _cross(a, b, c):
    return (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1]) - (b[:, 1] - a[:, 1]) * (
        c[:, 0] - a[:, 0]
    )


def _circumcircles(pts: np.ndarray, tri: np.ndarray):
    a, b, c = pts[tri[:, 0]], pts[tri[:, 1]], pts[tri[:, 2]]
    d = 2.0 * _cross(a, b, c)
    d = np.where(np.abs(d) < 1e-300, 1e-300, d)
    a2 = (a * a).sum(1)
    b2 = (b * b).sum(1)
    c2 = (c * c).sum(1)
    ux = (a2 * (b[:, 1] - c[:, 1]) + b2 * (c[:, 1] - a[:, 1]) + c2 * (a[:, 1] - b[:, 1])) / d
    uy = (a2 * (c[:, 0] - b[:, 0]) + b2 * (a[:, 0] - c[:, 0]) + c2 * (b[:, 0] - a[:, 0])) / d
    cc = np.column_stack([ux, uy])
    rr = ((a[:, 0] - ux) ** 2 + (a[:, 1] - uy) ** 2)
    return cc, rr


def find_simplex(points: np.ndarray, tri: np.ndarray,
                 queries: np.ndarray, n_grid: int = 64) -> np.ndarray:
    """Index of the triangle containing each query point; -1 if none.

    Uniform-grid bucketing of triangle bboxes, then a vectorized
    barycentric-sign test per bucket — no all-pairs blowup.
    """
    q = np.asarray(queries, dtype=np.float64)
    out = np.full(len(q), -1, dtype=np.int64)
    if len(tri) == 0 or len(q) == 0:
        return out
    a, b, c = points[tri[:, 0]], points[tri[:, 1]], points[tri[:, 2]]
    lox = np.minimum(np.minimum(a[:, 0], b[:, 0]), c[:, 0])
    hix = np.maximum(np.maximum(a[:, 0], b[:, 0]), c[:, 0])
    loy = np.minimum(np.minimum(a[:, 1], b[:, 1]), c[:, 1])
    hiy = np.maximum(np.maximum(a[:, 1], b[:, 1]), c[:, 1])
    gx0, gx1 = lox.min(), hix.max()
    gy0, gy1 = loy.min(), hiy.max()
    sx = (gx1 - gx0) / n_grid or 1.0
    sy = (gy1 - gy0) / n_grid or 1.0

    def cell_of(x, y):
        return (
            np.clip(((x - gx0) / sx).astype(np.int64), 0, n_grid - 1),
            np.clip(((y - gy0) / sy).astype(np.int64), 0, n_grid - 1),
        )

    # bucket -> triangle ids (triangles span multiple buckets)
    buckets: dict[tuple[int, int], list[int]] = {}
    tlo = cell_of(lox, loy)
    thi = cell_of(hix, hiy)
    for t in range(len(tri)):
        for bx in range(tlo[0][t], thi[0][t] + 1):
            for by in range(tlo[1][t], thi[1][t] + 1):
                buckets.setdefault((bx, by), []).append(t)

    qb = cell_of(q[:, 0], q[:, 1])
    from collections import defaultdict

    by_bucket: dict[tuple[int, int], list[int]] = defaultdict(list)
    for qi in range(len(q)):
        by_bucket[(qb[0][qi], qb[1][qi])].append(qi)

    for key, qids in by_bucket.items():
        tids = buckets.get(key)
        if not tids:
            continue
        tids = np.asarray(tids)
        qs = q[qids]  # (nq, 2)
        ta, tb, tc = a[tids], b[tids], c[tids]  # (nt, 2)
        px = qs[:, 0][:, None]
        py = qs[:, 1][:, None]
        d1 = (px - tb[None, :, 0]) * (ta[None, :, 1] - tb[None, :, 1]) - (
            ta[None, :, 0] - tb[None, :, 0]
        ) * (py - tb[None, :, 1])
        d2 = (px - tc[None, :, 0]) * (tb[None, :, 1] - tc[None, :, 1]) - (
            tb[None, :, 0] - tc[None, :, 0]
        ) * (py - tc[None, :, 1])
        d3 = (px - ta[None, :, 0]) * (tc[None, :, 1] - ta[None, :, 1]) - (
            tc[None, :, 0] - ta[None, :, 0]
        ) * (py - ta[None, :, 1])
        eps = 1e-12
        inside = (d1 >= -eps) & (d2 >= -eps) & (d3 >= -eps)
        hit = inside.any(axis=1)
        first = inside.argmax(axis=1)
        res = np.where(hit, tids[first], -1)
        out[np.asarray(qids)] = res
    return out
