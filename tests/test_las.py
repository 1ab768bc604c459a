"""LAS source golden (S1 on the reference's real input format):
write -> distributed read round-trip, multi-file global ids, and
LAS-path vs parquet-path TIN parity, bit for bit."""

import numpy as np
import pytest

from gpiv_spark import fixtures
from gpiv_spark.sources import las as lasmod

TPU = ["var_x", "var_y", "var_z", "cov_xy", "cov_xz", "cov_yz"]
# reference extra-byte names in run_test_v1.py:48-51 order
EB = ["VarianceX", "VarianceY", "VarianceZ",
      "CovarianceXY", "CovarianceXZ", "CovarianceYZ"]


@pytest.fixture(scope="module")
def cloud():
    return fixtures.points_cloud(n=3000, seed=9, planar=True)


def _blob(pdf):
    return lasmod.write_las(
        pdf["x"].to_numpy(), pdf["y"].to_numpy(), pdf["z"].to_numpy(),
        extra={eb: pdf[t].to_numpy() for eb, t in zip(EB, TPU)},
    )


def test_roundtrip_quantization_and_exact_extras(cloud):
    out = lasmod.read_las(_blob(cloud))
    # XYZ quantized at scale 0.001: descaled within half a step
    for c in ("x", "y", "z"):
        np.testing.assert_allclose(out[c], cloud[c], atol=5.1e-4)
    # extra-byte dims are raw float64 — exact
    for eb, t in zip(EB, TPU):
        np.testing.assert_array_equal(out[eb], cloud[t])


def test_malformed_las_rejected(cloud):
    with pytest.raises(lasmod.LasFormatError):
        lasmod.read_las(b"NOPE" + b"\x00" * 300)
    blob = bytearray(_blob(cloud))
    blob[104] |= 0xC0  # LAZ compression bits
    with pytest.raises(lasmod.LasFormatError):
        lasmod.read_las(bytes(blob))


def test_multifile_table_global_ids(spark, tmp_path, cloud):
    half = len(cloud) // 2
    (tmp_path / "a.las").write_bytes(_blob(cloud.iloc[:half]))
    (tmp_path / "b.las").write_bytes(_blob(cloud.iloc[half:]))
    got = (
        lasmod.las_table(spark, str(tmp_path / "*.las"))
        .toPandas().sort_values("point_id").reset_index(drop=True)
    )
    assert len(got) == len(cloud)
    assert got["point_id"].tolist() == list(range(len(cloud)))
    # file order preserved within and across files (a.las sorts first)
    np.testing.assert_array_equal(got["var_x"], cloud["var_x"])
    np.testing.assert_allclose(got["x"], cloud["x"], atol=5.1e-4)


def test_las_path_matches_parquet_path_bit_for_bit(spark, tmp_path, cloud):
    """The TIN pipeline fed from LAS must equal the same pipeline fed
    from parquet EXACTLY, once both carry the same (quantized) values —
    the LAS reader is a pure IO swap, not a semantic one."""
    import pyspark.sql.functions as F

    from gpiv_spark.operators.tin import propagate_auto
    from gpiv_spark.functions.geocode import X0, Y0

    (tmp_path / "pts.las").write_bytes(_blob(cloud))
    las_df = lasmod.las_table(spark, str(tmp_path / "pts.las")).cache()
    las_df.write.parquet(str(tmp_path / "pts.parquet"))
    pq_df = spark.read.parquet(str(tmp_path / "pts.parquet"))

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.lit(X0 + 40.0) + (F.col("id") % 400) * 1.0).alias("x"),
        (F.lit(Y0 + 40.0) + (F.col("id") / 400).cast("int") * 1.0).alias("y"),
    )
    cen = (X0 + 239.0, Y0 + 239.0, 7.0)

    def run(points):
        out, plan = propagate_auto(spark, docs, points, cell_res=3,
                                   index_res=8, halo_m=8.0, centroid=cen,
                                   broadcast_budget_bytes=0)
        assert plan == "shuffle"
        return out.toPandas().sort_values("doc_id").reset_index(drop=True)

    a, b = run(las_df), run(pq_df)
    las_df.unpersist()
    assert len(a) == len(b) and len(a) > 1800
    np.testing.assert_array_equal(a["zp"].to_numpy(), b["zp"].to_numpy())
    np.testing.assert_array_equal(a["var_zp"].to_numpy(),
                                  b["var_zp"].to_numpy())
