"""Point-in-polygon spatial join (SURVEY §2.3 J2 generalization).

What callers build today: a broadcast nested-loop LEFT join of the
points against the small ROI triangle set (``roi_triangles``), with
``inside_triangle_pred`` as the join condition —

    geo.alias("g").join(F.broadcast(roi.alias("r")),
                        F.expr(inside_triangle_pred("g.x", "g.y", ...)),
                        "left")

Spark plans it as a BroadcastNestedLoopJoin: every point is refined
against every triangle. The predicate is the half-plane sign test for
CCW triangles (GPIV's TIN case), boundary-inclusive, pure column
arithmetic rendered to both dialects, so the DuckDB oracle
(``roi_values_sql``) shares its math. LEFT semantics keep "outside
every triangle" rows with a NULL roi_id, mirroring find_simplex == -1
-> NaN (tin_interpolation.py:76-83); a point on a shared edge matches
once per triangle that contains it. The general concave-ring
crossing-number test is ``numpy_point_in_ring``, for pandas-UDF kernels.

Not built yet (ROADMAP direction 6): the Raptor-style equi-join that
keys points and triangles to covering cells and refines only within a
cell.
"""

from __future__ import annotations

import numpy as np

from gpiv_spark.functions.geocode import EXTENT, X0, Y0

# Deterministic ROI fixture: a 4x4 block of squares inset 39 px from the
# extent origin, each split into 2 triangles (CCW) -> 32 triangles
# covering [X0+39, X0+439) x [Y0+39, Y0+439).
ROI_INSET = 39.0
ROI_CELL = 100.0
ROI_N = 4


def roi_triangles() -> list[tuple[int, float, float, float, float, float, float]]:
    """(roi_id, x1, y1, x2, y2, x3, y3), CCW winding."""
    out = []
    rid = 0
    for j in range(ROI_N):
        for i in range(ROI_N):
            x0 = X0 + ROI_INSET + i * ROI_CELL
            y0 = Y0 + ROI_INSET + j * ROI_CELL
            x1, y1 = x0 + ROI_CELL, y0 + ROI_CELL
            # lower-right triangle (CCW): (x0,y0) (x1,y0) (x1,y1)
            out.append((rid, x0, y0, x1, y0, x1, y1))
            rid += 1
            # upper-left triangle (CCW): (x0,y0) (x1,y1) (x0,y1)
            out.append((rid, x0, y0, x1, y1, x0, y1))
            rid += 1
    return out


def edge_sign(px: str, py: str, ax: str, ay: str, bx: str, by: str) -> str:
    """Cross product sign of (b->a) x (b->p): >=0 == left-of/on edge (CCW)."""
    return f"(({px} - {bx}) * ({ay} - {by}) - ({ax} - {bx}) * ({py} - {by}))"


def inside_triangle_pred(px: str, py: str, v: dict[str, str]) -> str:
    """CCW triangle containment, boundary-inclusive (all signs >= 0)."""
    d1 = edge_sign(px, py, v["x1"], v["y1"], v["x2"], v["y2"])
    d2 = edge_sign(px, py, v["x2"], v["y2"], v["x3"], v["y3"])
    d3 = edge_sign(px, py, v["x3"], v["y3"], v["x1"], v["y1"])
    return f"({d1} >= 0 AND {d2} >= 0 AND {d3} >= 0)"


def roi_values_sql(alias: str = "r") -> str:
    """DuckDB/Spark-compatible VALUES table of the ROI triangles."""
    rows = ", ".join(
        f"({rid}, {x1!r}, {y1!r}, {x2!r}, {y2!r}, {x3!r}, {y3!r})"
        for rid, x1, y1, x2, y2, x3, y3 in roi_triangles()
    )
    return (
        f"(VALUES {rows}) AS {alias}(roi_id, x1, y1, x2, y2, x3, y3)"
    )


def numpy_point_in_ring(px: np.ndarray, py: np.ndarray, ring_x: np.ndarray,
                        ring_y: np.ndarray) -> np.ndarray:
    """Vectorized crossing-number test for one closed ring vs many points.

    General concave-polygon refine used inside pandas-UDF kernels.
    Boundary semantics: even-odd rule, half-open edges (standard).
    """
    inside = np.zeros(px.shape[0], dtype=bool)
    n = len(ring_x)
    for i in range(n):
        x1, y1 = ring_x[i], ring_y[i]
        x2, y2 = ring_x[(i + 1) % n], ring_y[(i + 1) % n]
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (px < np.where(crosses, xint, np.inf))
    return inside
