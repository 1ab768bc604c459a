"""The C TIN probe must be a BIT-IDENTICAL twin of the NumPy
_probe_batch_core path (zp/var to the last ulp, found equal): the
headline stream's numbers and the propagate oracles ride on it."""

import numpy as np

from gpiv_spark.functions import geocode
from gpiv_spark.operators import tin


def _mini_pack():
    rng = np.random.default_rng(9)
    n = 3000
    pts = {
        "pid": np.arange(n, dtype=np.int64),
        "x": geocode.X0 + rng.random(n) * geocode.EXTENT,
        "y": geocode.Y0 + rng.random(n) * geocode.EXTENT,
        "z": rng.random(n) * 10.0,
        "var_x": rng.random(n) * 1e-4,
        "var_y": rng.random(n) * 1e-4,
        "var_z": rng.random(n) * 1e-4,
        "cov_xy": rng.random(n) * 1e-5,
        "cov_xz": rng.random(n) * 1e-5,
        "cov_yz": rng.random(n) * 1e-5,
    }
    import pandas as pd

    pdf = pd.DataFrame(pts)
    from gpiv_spark.functions import delaunay as dl

    tri = dl.delaunay(pdf[["x", "y"]].to_numpy(np.float64))
    tris = pd.DataFrame({
        "tri_id": np.arange(len(tri), dtype=np.int64),
        "v1": pdf["pid"].to_numpy()[tri[:, 0]],
        "v2": pdf["pid"].to_numpy()[tri[:, 1]],
        "v3": pdf["pid"].to_numpy()[tri[:, 2]],
    })
    return tin.pack_triangle_index_normalized(
        tris, pdf.rename(columns={"pid": "point_id"}), 8)


def test_c_probe_matches_numpy_bitwise():
    pack = _mini_pack()
    rng = np.random.default_rng(4)
    m = 20000
    # queries spread inside AND outside the extent (clip/miss paths)
    qx = geocode.X0 + (rng.random(m) * 1.2 - 0.1) * geocode.EXTENT
    qy = geocode.Y0 + (rng.random(m) * 1.2 - 0.1) * geocode.EXTENT
    cen = (geocode.X0 + 239.0, geocode.Y0 + 239.0, 5.0)

    zc, vc, fc = tin._probe_c(pack, qx, qy, cen)
    zn = np.empty(m)
    vn = np.empty(m)
    fn = np.empty(m, dtype=bool)
    for s in range(0, m, tin.PROBE_CHUNK):
        e = s + tin.PROBE_CHUNK
        z, v, f = tin._probe_batch_core(pack, qx[s:e], qy[s:e], cen)
        zn[s:e] = z
        vn[s:e] = v
        fn[s:e] = f
    assert np.array_equal(fc, fn)
    assert fn.any() and not fn.all()
    assert np.array_equal(zc[fc], zn[fn])       # exact, not allclose
    assert np.array_equal(vc[fc], vn[fn])
    assert np.isnan(zc[~fc]).all() and np.isnan(vc[~fc]).all()


def test_probe_c_loads():
    assert tin._probe_c(_mini_pack(), np.array([geocode.X0 + 1.0]),
                        np.array([geocode.Y0 + 1.0]),
                        (0.0, 0.0, 0.0)) is not None, (
        "C probe core failed to build — NumPy fallback keeps results "
        "correct but the stream loses its round-6 kernel speedup")


def _bits(a):
    a = np.ascontiguousarray(a)
    return a.view(np.uint8) if a.dtype == bool else a.view(np.uint64)


def _assert_same_bits(got, want):
    for g, w in zip(got, want):
        assert g.dtype == w.dtype and g.shape == w.shape
        assert np.array_equal(_bits(g), _bits(w))


def _chunked_core(pack, qx, qy, cen):
    m = len(qx)
    zn = np.full(m, np.nan)
    vn = np.full(m, np.nan)
    fn = np.zeros(m, dtype=bool)
    for s in range(0, m, tin.PROBE_CHUNK):
        e = s + tin.PROBE_CHUNK
        zn[s:e], vn[s:e], fn[s:e] = tin._probe_batch_core(
            pack, qx[s:e], qy[s:e], cen)
    return zn, vn, fn


def test_c_probe_visit_order_is_invisible():
    """The C kernel visits each call's docs in Morton fine-cell order;
    results must land in each doc's own slot, bit-for-bit as the NumPy
    path in arrival order — also on ties (docs on pack vertices and
    shared edges, where the first containing triangle wins), duplicate
    coordinates, fine-cell boundaries, out-of-extent docs and batches of
    0 and 1 docs — and a permuted batch must give the permuted output."""
    pack = _mini_pack()
    rng = np.random.default_rng(11)
    fs = geocode.EXTENT / pack["nf"]
    grid = geocode.X0 + fs * np.arange(pack["nf"] + 1)
    qx = np.concatenate([
        pack["x1"], pack["x2"],                     # vertices
        (pack["x1"] + pack["x2"]) / 2,              # shared-edge midpoints
        (pack["x2"] + pack["x3"]) / 2,
        grid, grid[::7],                            # fine-cell boundaries
        geocode.X0 + (rng.random(2000) * 1.4 - 0.2) * geocode.EXTENT,
    ])
    qy = np.concatenate([
        pack["y1"], pack["y2"],
        (pack["y1"] + pack["y2"]) / 2,
        (pack["y2"] + pack["y3"]) / 2,
        geocode.Y0 + fs * np.arange(pack["nf"] + 1),
        geocode.Y0 + geocode.EXTENT / 2 + np.zeros(len(grid[::7])),
        geocode.Y0 + (rng.random(2000) * 1.4 - 0.2) * geocode.EXTENT,
    ])
    dup = rng.integers(0, len(qx), 3000)            # duplicate coordinates
    qx = np.concatenate([qx, qx[dup]])
    qy = np.concatenate([qy, qy[dup]])
    cen = (geocode.X0 + 239.0, geocode.Y0 + 239.0, 5.0)

    want = _chunked_core(pack, qx, qy, cen)
    assert want[2].any() and not want[2].all()
    _assert_same_bits(tin._probe_c(pack, qx, qy, cen), want)

    perm = rng.permutation(len(qx))
    _assert_same_bits(tin._probe_c(pack, qx[perm], qy[perm], cen),
                      tuple(a[perm] for a in want))

    for s, n in ((0, 0), (0, 1), (7, 1), (len(qx) - 1, 1)):
        _assert_same_bits(
            tin._probe_c(pack, qx[s:s + n], qy[s:s + n], cen),
            tin._probe_batch_core(pack, qx[s:s + n], qy[s:s + n], cen))


def test_c_probe_past_one_sort_block():
    """Calls longer than the kernel's 2^20-doc sort block are sorted and
    probed block by block; each doc's result must not depend on the
    block it falls in."""
    pack = _mini_pack()
    rng = np.random.default_rng(5)
    m = (1 << 20) + 4099
    qx = geocode.X0 + (rng.random(m) * 1.2 - 0.1) * geocode.EXTENT
    qy = geocode.Y0 + (rng.random(m) * 1.2 - 0.1) * geocode.EXTENT
    cen = (geocode.X0 + 239.0, geocode.Y0 + 239.0, 5.0)
    whole = tin._probe_c(pack, qx, qy, cen)
    cut = 300_001
    parts = [tin._probe_c(pack, qx[a:b], qy[a:b], cen)
             for a, b in ((0, cut), (cut, m))]
    _assert_same_bits(whole, tuple(np.concatenate(p) for p in zip(*parts)))
