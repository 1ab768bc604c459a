"""The two doc-probe plans over the certified blobs (shuffle equi+refine
join, broadcast pack probe) must agree with each other, interpolate
planes exactly, and pack exactly what a driver-side packer would."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from gpiv_spark.dialect import SPARK as d
from gpiv_spark.functions import geocode
from gpiv_spark.operators import tin
from gpiv_spark.operators.tin import (
    certified_blobs,
    merge_pack_blobs,
    propagate_at,
    triangles_from_blobs,
)

X0, Y0 = geocode.X0, geocode.Y0
CEN = (X0 + 239.0, Y0 + 239.0, 7.0)


def _point_df(spark, n):
    pts = spark.range(n).select(F.col("id").alias("pid"))
    px = geocode.xq_expr(d, "pid")
    py = geocode.yq_expr(d, "pid")
    return pts.select(
        F.col("pid"),
        F.expr(px).alias("x"),
        F.expr(py).alias("y"),
        F.expr(f"0.01 * ({px} - {X0!r}) - 0.02 * ({py} - {Y0!r}) + 5.0").alias("z"),
        F.expr("(1 + pid % 7) * 0.0001").alias("var_x"),
        F.expr("(1 + pid % 5) * 0.0001").alias("var_y"),
        F.expr("(1 + pid % 3) * 0.0001").alias("var_z"),
        F.lit(0.0).alias("cov_xy"),
        F.lit(0.0).alias("cov_xz"),
        F.lit(0.0).alias("cov_yz"),
    )


@pytest.fixture(scope="module")
def blobs(spark):
    return certified_blobs(spark, _point_df(spark, 20_000), cell_res=3,
                           index_res=8, halo_m=8.0, id_col="pid",
                           collect=False)


@pytest.fixture(scope="module")
def tris(blobs):
    t = triangles_from_blobs(blobs).cache()
    t.count()
    yield t
    t.unpersist()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.expr(geocode.x_expr(d, "id")).alias("x"),
        F.expr(geocode.y_expr(d, "id")).alias("y"),
    )


def test_shuffle_path_plane_exact(spark, tris, docs):
    res = propagate_at(docs, tris, index_res=8, centroid=CEN).toPandas()
    assert len(res) > 4900  # nearly all docs inside the hull
    dgeo = docs.toPandas().set_index("doc_id")
    exp = 0.01 * (dgeo.loc[res["doc_id"], "x"].to_numpy() - X0) - 0.02 * (
        dgeo.loc[res["doc_id"], "y"].to_numpy() - Y0
    ) + 5.0
    np.testing.assert_allclose(res["zp"], exp, atol=1e-7)
    assert (res["var_zp"] > 0).all()


def test_broadcast_path_matches_shuffle_path(spark, blobs, tris, docs):
    """Same certified triangles, same shared-edge pick (lowest tri_id):
    the two plans find the same docs and agree to rounding."""
    a = (
        propagate_at(docs, tris, index_res=8, centroid=CEN)
        .toPandas().set_index("doc_id").sort_index()
    )
    handle = tin.PackFileHandle(spark, merge_pack_blobs(blobs.toArrow(), 8))
    b = (
        tin.probe_docs(docs, handle, CEN)
        .toPandas().set_index("doc_id").sort_index()
    )
    handle.destroy()
    assert a.index.equals(b.index)
    np.testing.assert_allclose(a["zp"], b["zp"], rtol=1e-9)
    np.testing.assert_allclose(a["var_zp"], b["var_zp"], rtol=1e-9)


def test_triangles_from_blobs_match_payloads(blobs, tris):
    """Every certified triangle becomes exactly one TRI_SCHEMA row whose
    vertex columns are its payload points' values."""
    pack = merge_pack_blobs(blobs.toArrow(), 8)
    t = tris.toPandas().sort_values("tri_id").reset_index(drop=True)
    assert list(t.columns) == tin._schema_names(tin.TRI_SCHEMA)
    assert len(t) == len(pack["tv"]) == t["tri_id"].nunique()
    for k in (1, 2, 3):
        rows = pack["tv"][:, k - 1]
        np.testing.assert_array_equal(t[f"x{k}"], pack["px"][rows])
        np.testing.assert_array_equal(t[f"y{k}"], pack["py"][rows])
        np.testing.assert_array_equal(t[f"z{k}"], pack["pz"][rows])
        np.testing.assert_array_equal(t[f"var_y_{k}"], pack["p_var_y"][rows])


def test_blob_pack_identical_to_driver_pack(spark, blobs, docs):
    """The distributed per-cell blob merge must reproduce the
    driver-side packer EXACTLY on the same certified triangles — same
    arrays, same probe output."""
    from gpiv_spark.operators.tin import (
        TRI_ID_SCHEMA,
        _explode_blobs,
        _probe_batch,
        pack_triangle_index_normalized,
    )

    points = _point_df(spark, 20_000)
    pack_old = pack_triangle_index_normalized(
        _explode_blobs(blobs, TRI_ID_SCHEMA).toPandas(), points.toPandas(),
        index_res=8, id_col="pid",
    )
    pack_new = merge_pack_blobs(blobs.toArrow(), index_res=8)

    for key in ("px", "py", "pz", "offsets", "cell_tri", "tv",
                "x1", "y1", "x2", "y2", "x3", "y3"):
        np.testing.assert_array_equal(pack_old[key], pack_new[key], err_msg=key)

    dpdf = docs.toPandas()
    xv, yv = dpdf["x"].to_numpy(), dpdf["y"].to_numpy()
    zo, vo, fo = _probe_batch(pack_old, xv, yv, CEN)
    zn, vn, fn = _probe_batch(pack_new, xv, yv, CEN)
    np.testing.assert_array_equal(fo, fn)
    np.testing.assert_array_equal(zo, zn)
    np.testing.assert_array_equal(vo, vn)


def test_pack_cache_evicts_destroyed_packs(spark, monkeypatch):
    """A reused worker never sees the driver's destroy(): its next pack
    load must evict the destroyed pack's mmap views, so destroy() plus a
    rebuild does not grow the per-process cache."""
    monkeypatch.setattr(tin, "_PACK_CACHE", {})
    pack = {"nf": 2, "px": np.arange(5.0), "tv": np.zeros((1, 3), np.int32)}
    first = tin.PackFileHandle(spark, pack)
    worker_view = first.value
    # what a reused worker still holds after the driver destroys `first`
    first.destroy()
    tin._PACK_CACHE[first._dir] = worker_view

    second = tin.PackFileHandle(spark, pack)
    np.testing.assert_array_equal(second.value["px"], pack["px"])
    assert list(tin._PACK_CACHE) == [second._dir]
    second.value  # a hit keeps the entry and adds none
    assert list(tin._PACK_CACHE) == [second._dir]
    second.destroy()
    assert not tin._PACK_CACHE


def test_run_pipeline_entry_switch(spark, monkeypatch, tmp_path, capsys):
    """The spark-submit entry checkpoints the certified blob table once,
    then runs the plan tin.choose_plan picks: broadcast = merged pack
    probe, shuffle = distributed equi-join; both resumable, both giving
    the same answer."""
    import json
    import sys as _sys

    from pyspark.sql import SparkSession

    import jobs.run_pipeline as rp

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    def run(argv):
        monkeypatch.setattr(_sys, "argv", ["run_pipeline.py"] + argv)
        rp.main()
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    ck = str(tmp_path / "ckpt")
    base = ["--docs", "20000", "--points", "4000", "--checkpoint", ck]
    r1 = run(base)
    assert r1["mode"] == "broadcast"
    assert r1["resumed"] == {"pack_blobs": False, "propagated": False}
    assert (tmp_path / "ckpt" / "pack_blobs" / "data").exists()
    assert r1["n_docs_out"] > 0.9 * 20000  # hull-edge docs drop (4k-pt TIN)

    r2 = run(base)  # same args -> full resume, identical output
    assert r2["resumed"] == {"pack_blobs": True, "propagated": True}
    assert r2["n_docs_out"] == r1["n_docs_out"]
    assert r2["mean_var"] == r1["mean_var"]

    r3 = run(base + ["--broadcast-budget-mb", "0"])  # forced shuffle plan
    assert r3["mode"] == "shuffle"
    # the blob stage is plan-independent; only the probe stage re-runs
    assert r3["resumed"] == {"pack_blobs": True, "propagated": False}
    assert r3["n_docs_out"] == r1["n_docs_out"]
    np.testing.assert_allclose(r3["mean_var"], r1["mean_var"], rtol=1e-9)

    # LAS-sourced points through the same entry (S1 on the real format)
    from gpiv_spark import fixtures
    from gpiv_spark.sources import las as lasmod

    cloud = fixtures.points_cloud(n=4000, seed=5, planar=True)
    (tmp_path / "pts.las").write_bytes(
        lasmod.write_las(
            cloud["x"].to_numpy(), cloud["y"].to_numpy(),
            cloud["z"].to_numpy(),
            extra={
                eb: cloud[t].to_numpy()
                for eb, t in zip(
                    ["VarianceX", "VarianceY", "VarianceZ",
                     "CovarianceXY", "CovarianceXZ", "CovarianceYZ"],
                    ["var_x", "var_y", "var_z",
                     "cov_xy", "cov_xz", "cov_yz"],
                )
            },
        )
    )
    r4 = run(["--docs", "20000", "--checkpoint", str(tmp_path / "ck2"),
              "--las", str(tmp_path / "pts.las")])
    assert r4["mode"] == "broadcast"
    assert r4["n_docs_out"] > 0.9 * 20000


def test_propagate_auto_switches_paths(spark, docs):
    """Budget above/below the estimated pack size selects broadcast vs
    shuffle, and both give the same answer."""
    from gpiv_spark.operators.tin import propagate_auto

    points = _point_df(spark, 20_000)
    a, mode_a = propagate_auto(spark, docs, points, cell_res=3, index_res=8,
                               halo_m=8.0, id_col="pid", centroid=CEN)
    assert mode_a == "broadcast"
    b, mode_b = propagate_auto(spark, docs, points, cell_res=3, index_res=8,
                               halo_m=8.0, id_col="pid", centroid=CEN,
                               broadcast_budget_bytes=1024)
    assert mode_b == "shuffle"
    pa = a.toPandas().set_index("doc_id").sort_index()
    pb = b.toPandas().set_index("doc_id").sort_index()
    assert pa.index.equals(pb.index) and len(pa) > 4900
    np.testing.assert_allclose(pa["zp"], pb["zp"], rtol=1e-9)
    np.testing.assert_allclose(pa["var_zp"], pb["var_zp"], rtol=1e-9)
