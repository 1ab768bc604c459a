"""The C Bowyer-Watson core must be a BIT-IDENTICAL twin of the NumPy
insertion loop (same insertion order, float expression order, tie
handling) — the tin_var golden and every TIN oracle depend on the
triangulation being reproducible to the last ulp. These tests compare
the two paths' raw index arrays with array_equal (not set equality):
row order and vertex order must match too."""

import re
from pathlib import Path

import numpy as np
import pytest

import gpiv_spark.functions.delaunay as dl
from gpiv_spark.functions import _delaunay_cc


def _numpy_twin(pts):
    saved = _delaunay_cc._lib, _delaunay_cc._tried
    _delaunay_cc._lib, _delaunay_cc._tried = None, True
    try:
        return dl.delaunay(pts)
    finally:
        _delaunay_cc._lib, _delaunay_cc._tried = saved


def test_c_core_available():
    assert _delaunay_cc.load() is not None, (
        "C core failed to build — the NumPy fallback keeps results "
        "correct but the build loses its round-6 kernel speedup"
    )


@pytest.mark.parametrize("name", [
    "uniform", "lattice", "collinear", "duplicates", "clustered", "tiny",
])
def test_c_matches_numpy_bitwise(name):
    rng = np.random.default_rng(17)
    base = np.array([273111.0, 3289311.0])
    if name == "uniform":
        pts = rng.random((3000, 2)) * 478.0 + base
    elif name == "lattice":
        g = np.stack(np.meshgrid(np.arange(45.0), np.arange(45.0)), -1)
        pts = g.reshape(-1, 2) * 3.3 + base
    elif name == "collinear":
        pts = np.stack([np.arange(400.0), np.arange(400.0) * 1e-9], -1) + base
    elif name == "duplicates":
        p = rng.random((500, 2)) * 478.0 + base
        pts = np.concatenate([p, p[:100]])  # exact duplicate XY rows
    elif name == "clustered":
        centers = rng.random((4, 2)) * 478.0 + base
        pts = np.concatenate(
            [c + rng.normal(0, 8.0, (250, 2)) for c in centers])
    else:
        pts = rng.random((4, 2)) * 10.0 + base
    a = dl.delaunay(pts)
    b = _numpy_twin(pts)
    assert np.array_equal(a, b)


def test_capacity_growth_retry_identical():
    # tiny inputs keep cap at the 64 floor; growth paths must agree too
    rng = np.random.default_rng(3)
    for n in (3, 4, 7, 12, 33):
        pts = rng.random((n, 2)) * 100.0
        assert np.array_equal(dl.delaunay(pts), _numpy_twin(pts))


def _pts_per_bucket() -> float:
    src = (Path(dl.__file__).parent / "_delaunay_core.c").read_text()
    return float(re.search(r"#define PTS_PER_BUCKET ([0-9.]+)", src)[1])


@pytest.mark.parametrize("name", [
    "halo_cell", "retry_cloud", "thin_strip", "bucket_lattice", "outlier",
])
def test_grid_search_matches_numpy_bitwise(name):
    """Shapes aimed at the C core's bucket grid: a real cell's size, a
    wide-reach retry cell's size, a degenerate bucket aspect, points on
    bucket edges and mostly empty buckets. The bad set (and so the
    triangulation) must equal the NumPy loop's full scan exactly."""
    rng = np.random.default_rng(29)
    base = np.array([273111.0, 3289311.0])
    if name == "halo_cell":
        # a 29.9 m cell plus a 6 m halo band, ~3.7k points
        core = rng.random((1900, 2)) * 29.9
        band = rng.random((4000, 2)) * 41.9 - 6.0
        inner = ((band >= 0.0) & (band < 29.9)).all(axis=1)
        pts = np.concatenate([core, band[~inner][:1800]]) + base
    elif name == "retry_cloud":
        pts = rng.random((13000, 2)) * 150.0 + base
    elif name == "thin_strip":
        pts = rng.random((2000, 2)) * np.array([478.0, 0.5]) + base
    elif name == "bucket_lattice":
        # a k x k lattice plus random fill sized so the core's bucket
        # step (sqrt(area / (n / PTS_PER_BUCKET + 1))) equals the
        # lattice spacing: every lattice point sits on a bucket edge
        k, sp = 30, 2.0
        n = int(round(_pts_per_bucket() * ((k - 1) ** 2 - 1)))
        g = np.stack(np.meshgrid(np.arange(k), np.arange(k)), -1)
        lat = g.reshape(-1, 2) * sp
        fill = rng.random((n - len(lat), 2)) * (k - 1) * sp
        pts = np.concatenate([lat, fill]) + base
    else:
        # a dense cluster and one far outlier: nearly every bucket empty
        pts = np.concatenate([rng.normal(0.0, 3.0, (3000, 2)),
                              [[5000.0, -4000.0]]]) + base
    a = dl.delaunay(pts)
    b = _numpy_twin(pts)
    assert len(a) > 0
    assert np.array_equal(a, b)
