"""One request, one answer: propagate_auto's broadcast and shuffle plans
must find the same docs and give the same zp / var_zp on clouds where
distinct triangulations would disagree — coincident XY points with
different z (which duplicate is kept), and a non-planar regular
lattice (cocircular quadruples: which diagonal each square gets)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from gpiv_spark.dialect import SPARK as d
from gpiv_spark.functions import geocode
from gpiv_spark.operators.tin import propagate_auto

X0, Y0, EXT = geocode.X0, geocode.Y0, geocode.EXTENT
CEN = (X0 + 239.0, Y0 + 239.0, 7.0)


def _with_tpu(df):
    return df.select(
        "*",
        F.expr("(1 + pid % 7) * 0.0001").alias("var_x"),
        F.expr("(1 + pid % 5) * 0.0001").alias("var_y"),
        F.expr("(1 + pid % 3) * 0.0001").alias("var_z"),
        F.lit(0.0).alias("cov_xy"),
        F.lit(0.0).alias("cov_xz"),
        F.lit(0.0).alias("cov_yz"),
    )


def _duplicate_xy_cloud(spark, n=20_000):
    """Scattered cloud plus every 10th point re-emitted at the same XY
    with a new id and z - 1."""
    px = geocode.xq_expr(d, "pid")
    py = geocode.yq_expr(d, "pid")
    base = spark.range(n).select(F.col("id").alias("pid")).select(
        "pid", F.expr(px).alias("x"), F.expr(py).alias("y"),
        F.expr(f"5.0 + 0.01 * ({px} - {X0!r}) + 0.004 * ({py} - {Y0!r})")
        .alias("z"),
    )
    dup = base.filter("pid % 10 = 0").select(
        (F.col("pid") + n).alias("pid"), "x", "y",
        (F.col("z") - 1.0).alias("z"))
    return _with_tpu(base.unionByName(dup))


def _lattice(spark, m=120):
    s = EXT / m
    return _with_tpu(
        spark.range(m * m).select(F.col("id").alias("pid")).select(
            "pid",
            (F.lit(X0) + (F.col("pid") % m + 0.5) * s).alias("x"),
            (F.lit(Y0) + (F.floor(F.col("pid") / m) + 0.5) * s).alias("y"),
        ).select(
            "*",
            F.expr(f"5.0 + 0.0001 * (x - {X0!r}) * (y - {Y0!r}) + sin(x)")
            .alias("z"),
        )
    )


@pytest.mark.parametrize("cloud", [_duplicate_xy_cloud, _lattice],
                         ids=["duplicate_xy", "lattice"])
def test_broadcast_and_shuffle_plans_agree(spark, cloud):
    points = cloud(spark)
    docs = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.expr(geocode.x_expr(d, "id")).alias("x"),
        F.expr(geocode.y_expr(d, "id")).alias("y"),
    )
    kw = dict(cell_res=4, index_res=9, halo_m=6.0, id_col="pid",
              centroid=CEN)
    a, plan_a = propagate_auto(spark, docs, points, **kw)
    b, plan_b = propagate_auto(spark, docs, points, **kw,
                               broadcast_budget_bytes=1024)
    assert (plan_a, plan_b) == ("broadcast", "shuffle")
    pa = a.toPandas().set_index("doc_id").sort_index()
    pb = b.toPandas().set_index("doc_id").sort_index()
    assert len(pa) > 19_000
    assert pa.index.equals(pb.index), (
        f"{len(pa.index.symmetric_difference(pb.index))} docs found by "
        "only one plan")
    np.testing.assert_allclose(pa["zp"], pb["zp"], rtol=1e-9)
    np.testing.assert_allclose(pa["var_zp"], pb["var_zp"], rtol=1e-9)
