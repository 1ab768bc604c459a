"""Seeded inputs for the engine and spans around its entry points.

The engine is reached through its entry points (see README.md), never
through ``bench.py`` or ``tools/``. ``instrument_tin`` wraps the four calls that
``build_broadcast_pack`` makes into the TIN layers (first-pass blobs,
certify-repair blobs, merge, pack write) so one certified build yields
nested spans and the per-cell kernel counters, without any change to
the engine.
"""

from __future__ import annotations

import hashlib
import inspect
import time
from contextlib import contextmanager

import numpy as np

# Input sizes, chosen so one run (set-up included) fits in well under a
# minute on 4 cores.
TIN_POINTS = 200_000
STREAM_DOCS = 3_000_000
CELL_RES, INDEX_RES = 4, 9
PROBE_CENTROID_OFFSET = (239.0, 239.0, 7.0)

# Seed -> id offsets. Strides are not multiples of the geocode moduli,
# so every seed yields a different point cloud.
PID_STRIDE = 7_777_777
DOC_STRIDE = 100_000_007


def seed_offset(seed: int, stride: int) -> int:
    return (seed % (1 << 20)) * stride


def tin_halo(n_points: int) -> float:
    """Density-adaptive halo (~6 mean point spacings, 1-6 m)."""
    from gpiv_spark.operators.tin import _EXT

    return min(6.0, max(1.0, 6.0 * _EXT / max(1.0, float(n_points)) ** 0.5))


def points_df(spark, n: int, seed: int):
    """Synthetic LiDAR-like cloud: scrambled XY over the fixture extent,
    a smooth surface and per-point TPU, ids offset by the seed."""
    from pyspark.sql import functions as F

    from gpiv_spark.dialect import SPARK as d
    from gpiv_spark.functions import geocode

    off = seed_offset(seed, PID_STRIDE)
    px = geocode.xq_expr(d, "pid")
    py = geocode.yq_expr(d, "pid")
    dx = f"({px} - {geocode.X0!r})"
    dy = f"({py} - {geocode.Y0!r})"
    return spark.range(off, off + n).select(F.col("id").alias("pid")).select(
        "pid",
        F.expr(px).alias("x"),
        F.expr(py).alias("y"),
        F.expr(f"5.0 + 0.01 * {dx} + 0.004 * {dy} + 0.00005 * ({dx} * {dy})")
        .alias("z"),
        F.expr("(1 + pid % 7) * 0.0001").alias("var_x"),
        F.expr("(1 + pid % 5) * 0.0001").alias("var_y"),
        F.expr("(1 + pid % 3) * 0.0001").alias("var_z"),
        F.lit(0.0).alias("cov_xy"),
        F.lit(0.0).alias("cov_xz"),
        F.lit(0.0).alias("cov_yz"),
    )


def certified_pack(spark, points, n_points: int):
    from gpiv_spark.operators.tin import build_broadcast_pack

    return build_broadcast_pack(spark, points, CELL_RES, INDEX_RES,
                                tin_halo(n_points), "pid", certify=True)


def pack_digest(handle) -> str:
    """Content hash of every array (and scalar) of a merged pack."""
    h = hashlib.blake2b(digest_size=16)
    pack = handle.value
    for k in sorted(pack):
        v = pack[k]
        h.update(k.encode())
        if isinstance(v, np.ndarray):
            h.update(str(v.dtype).encode())
            h.update(np.ascontiguousarray(v).view(np.uint8).data)
        else:
            h.update(repr(v).encode())
    return h.hexdigest()


def probe_centroid() -> tuple[float, float, float]:
    from gpiv_spark.functions import geocode

    ox, oy, z = PROBE_CENTROID_OFFSET
    return (geocode.X0 + ox, geocode.Y0 + oy, z)


class BuildRecord:
    """Kernel counters of the latest certified build, as its blob
    tables came back to the driver."""

    def __init__(self):
        self.reset()

    def reset(self) -> None:
        self.cell_ntri: dict[int, int] = {}
        self.cells = 0
        self.uncertified_first_pass = 0
        self.triangles = -1
        self.points = -1
        self.pack_bytes = 0


class _CollectSpan:
    """A DataFrame whose toArrow() runs inside a span and reports the
    collected blob table."""

    def __init__(self, df, tracer, name, on_table):
        self._df, self._tracer = df, tracer
        self._name, self._on_table = name, on_table

    def toArrow(self):
        with self._tracer.span(self._name):
            table = self._df.toArrow()
        self._on_table(table)
        return table

    def __getattr__(self, attr):
        return getattr(self._df, attr)


@contextmanager
def instrument_tin(tracer, record: BuildRecord):
    """Route build_broadcast_pack's layer calls through spans and
    ``record``; restores the engine's functions on exit."""
    from gpiv_spark.operators import tin

    names = ("build_pack_blobs", "build_pack_blobs_at_cells",
             "merge_pack_blobs", "PackFileHandle")
    orig = {n: getattr(tin, n) for n in names}
    blobs_sig = inspect.signature(orig["build_pack_blobs"])

    def on_table(first):
        def take(table):
            cells = table.column("cell").to_pylist()
            if first:
                record.reset()
                record.cells = len(cells)
                record.uncertified_first_pass = int(
                    sum(table.column("n_uncert").to_pylist()))
            record.cell_ntri.update(
                zip(cells, table.column("n_tri").to_pylist()))
        return take

    def build_pack_blobs(*a, **k):
        first = blobs_sig.bind(*a, **k).arguments.get("only_cells") is None
        name = "tin.build_pack_blobs" if first else "tin.certify_repair"
        return _CollectSpan(orig["build_pack_blobs"](*a, **k), tracer, name,
                            on_table(first))

    def build_pack_blobs_at_cells(*a, **k):
        return _CollectSpan(orig["build_pack_blobs_at_cells"](*a, **k),
                            tracer, "tin.certify_repair", on_table(False))

    def merge_pack_blobs(*a, **k):
        with tracer.span("tin.merge_pack_blobs"):
            pack = orig["merge_pack_blobs"](*a, **k)
        record.triangles = len(pack["tv"])
        record.points = len(pack["px"])
        record.pack_bytes = int(sum(v.nbytes for v in pack.values()
                                    if isinstance(v, np.ndarray)))
        return pack

    def pack_file_handle(*a, **k):
        with tracer.span("tin.pack_write"):
            return orig["PackFileHandle"](*a, **k)

    tin.build_pack_blobs = build_pack_blobs
    tin.build_pack_blobs_at_cells = build_pack_blobs_at_cells
    tin.merge_pack_blobs = merge_pack_blobs
    tin.PackFileHandle = pack_file_handle
    try:
        yield
    finally:
        for n, f in orig.items():
            setattr(tin, n, f)


def check_pack(handle, record: BuildRecord, n_points: int,
               want_digest: str | None) -> tuple[str, list[str]]:
    """(digest, problems) for one certified build."""
    problems = []
    digest = pack_digest(handle)
    if want_digest is not None and digest != want_digest:
        problems.append("pack arrays differ from the first build")
    n_tri = sum(record.cell_ntri.values())
    if n_tri != record.triangles:
        problems.append(f"sum of per-cell n_tri {n_tri} != pack "
                        f"triangles {record.triangles}")
    if record.points != n_points:
        problems.append(f"pack holds {record.points} points, "
                        f"input {n_points}")
    if not 0 < record.triangles < 2 * n_points:
        problems.append(f"implausible triangle count {record.triangles}")
    return digest, problems


# --- doc stream ----------------------------------------------------------------

def doc_stream_plan(spark, n_docs: int, seed: int, handle):
    """geocode -> Z-cell -> PIV tile -> broadcast point-in-polygon ->
    probe_docs against the pack -> one aggregate row. Built fresh per
    pass: re-collecting one DataFrame reuses AQE's materialized stages."""
    from pyspark.sql import functions as F

    from gpiv_spark.operators.tin import probe_docs

    joined = doc_geo_joined(spark, n_docs, seed)
    return probe_docs(joined, handle, probe_centroid()).agg(
        F.count("*").alias("n"), F.avg("zp").alias("mean_zp"),
        F.avg("var_zp").alias("mean_var"))


def doc_geo_joined(spark, n_docs: int, seed: int):
    """The JVM half of the doc stream (no Python stage)."""
    from pyspark.sql import functions as F

    from gpiv_spark.dialect import SPARK as d
    from gpiv_spark.functions import cells, geocode
    from gpiv_spark.operators import pip as pip_op
    from gpiv_spark.operators import tiling

    off = seed_offset(seed, DOC_STRIDE)
    docs = spark.range(off, off + n_docs, 1, 64).select(
        F.col("id").alias("doc_id"))
    x = geocode.x_expr(d, "doc_id")
    y = geocode.y_expr(d, "doc_id")
    geo = docs.select(
        "doc_id",
        F.expr(x).alias("x"),
        F.expr(y).alias("y"),
        F.expr(cells.zcell_expr(d, x, y, 6)).alias("cell_id"),
        F.expr(geocode.px_row_expr(d, y)).alias("px_row"),
        F.expr(geocode.px_col_expr(d, x)).alias("px_col"),
    )
    geo = tiling.assign_tiles(geo, tiling.PivConfig())
    roi = spark.createDataFrame(
        pip_op.roi_triangles(),
        "roi_id int, x1 double, y1 double, x2 double, y2 double, "
        "x3 double, y3 double",
    ).alias("r")
    pred = pip_op.inside_triangle_pred(
        "g.x", "g.y",
        {k: f"r.{k}" for k in ("x1", "y1", "x2", "y2", "x3", "y3")})
    return geo.alias("g").join(F.broadcast(roi), F.expr(pred), "left").select(
        "g.doc_id", "g.x", "g.y", "g.tile_r", "r.roi_id")


def _roi_multiplicity(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Rows each doc yields in the LEFT point-in-polygon join: the
    number of ROI triangles holding it (boundary-inclusive), at least 1.
    Same float expression order as the Spark predicate."""
    from gpiv_spark.operators import pip as pip_op

    def side(ax, ay, bx, by):
        return (x - bx) * (ay - by) - (ax - bx) * (y - by)

    hits = np.zeros(len(x), dtype=np.int64)
    for _, x1, y1, x2, y2, x3, y3 in pip_op.roi_triangles():
        hits += ((side(x1, y1, x2, y2) >= 0) & (side(x2, y2, x3, y3) >= 0)
                 & (side(x3, y3, x1, y1) >= 0))
    return np.maximum(hits, 1)


def doc_stream_twin(n_docs: int, seed: int, handle,
                    chunk: int = 1_000_000) -> dict:
    """The stream's aggregate recomputed in-process: numpy_geocode +
    the ROI join multiplicity + _probe_batch over the same docs."""
    from gpiv_spark.functions.geocode import numpy_geocode
    from gpiv_spark.operators.tin import _probe_batch

    idx = handle.value
    cen = probe_centroid()
    off = seed_offset(seed, DOC_STRIDE)
    n = 0
    s_zp = s_var = 0.0
    probe_s = 0.0
    for lo in range(off, off + n_docs, chunk):
        ids = np.arange(lo, min(lo + chunk, off + n_docs), dtype=np.int64)
        x, y = numpy_geocode(ids)
        mult = _roi_multiplicity(x, y)
        t0 = time.perf_counter()
        zp, var, found = _probe_batch(idx, x, y, cen)
        probe_s += time.perf_counter() - t0
        m = mult[found]
        n += int(m.sum())
        s_zp += float((zp[found] * m).sum())
        s_var += float((var[found] * m).sum())
    return {"n": n, "mean_zp": s_zp / n, "mean_var": s_var / n,
            "probe_s": probe_s}


def check_stream(row, twin: dict) -> list[str]:
    problems = []
    if row["n"] != twin["n"]:
        problems.append(f"count {row['n']} != twin {twin['n']}")
    for k in ("mean_zp", "mean_var"):
        if not np.isclose(row[k], twin[k], rtol=1e-9, atol=0.0):
            problems.append(f"{k} {row[k]!r} != twin {twin[k]!r}")
    return problems
