"""Golden e2e on the reference repo's ACTUAL bundled rasters.

data/output/{before,after}_{dem,tpu}.tif are the only reproducible
artifacts the reference ships (SURVEY §5.1). The pure-NumPy GeoTIFF
reader decodes them (no rasterio in this container); the engine's
distributed PIV then runs the reference config on the real DEM pair
with the real TPU rasters as uncertainties, and the vectors (and one
tile's full covariance) are compared against the single-process
reference-semantics oracle (spatial-domain NCC + numeric-diff
Jacobians — none of the engine's FFT/analytic code paths).
"""

from pathlib import Path

import numpy as np
import pytest

from gpiv_spark.functions import geocode, ncc as ncck
from gpiv_spark.operators.piv import run_piv
from gpiv_spark.operators.tiling import PivConfig
from gpiv_spark.sources.geotiff import read_geotiff
from gpiv_spark.sources.raster import array_to_df, validate_geo_sidecars

DATA = "/root/reference/data/output"
pytestmark = pytest.mark.skipif(not Path(DATA).is_dir(),
                                reason="reference rasters absent")
CFG = PivConfig()  # reference config: template=100, step=50, scale=2


@pytest.fixture(scope="module")
def rasters():
    out = {}
    for name in ("before_dem", "after_dem", "before_tpu", "after_tpu"):
        out[name] = read_geotiff(f"{DATA}/{name}.tif")
    return out


def test_geo_transform_matches_engine_constants(rasters):
    """The engine's hardcoded extent (geocode.py) came from these files;
    the reader must reproduce it — and the S2 stage must accept the pair."""
    for arr, geo in rasters.values():
        assert arr.shape == (geocode.NPIX, geocode.NPIX)
        assert geo["ul_x"] == geocode.X0
        assert geo["ul_y"] == geocode.Y1
        assert geo["pixel_width"] == geocode.PIXEL
        assert geo["nodata"] == geocode.NODATA
        assert not np.isnan(arr).any()
    validate_geo_sidecars(rasters["before_dem"][1], rasters["after_dem"][1])


def test_engine_matches_oracle_on_real_dems(spark, rasters):
    """Distributed FFT-NCC PIV == spatial-domain NumPy oracle on the
    reference's own DEM pair, all 25 tiles, 1e-9."""
    from tests.oracle import piv_oracle

    before, _ = rasters["before_dem"]
    after, _ = rasters["after_dem"]
    res = (
        run_piv(spark, array_to_df(spark, before), array_to_df(spark, after),
                CFG)
        .toPandas()
        .sort_values(["tile_r", "tile_c"])
        .reset_index(drop=True)
    )
    oracle = piv_oracle(before, after, CFG.template, CFG.step, CFG.scale)
    assert len(res) == len(oracle) == 25
    for i, rec in enumerate(oracle):
        row = res.iloc[i]
        assert (row["tile_r"], row["tile_c"]) == (rec["tile_r"], rec["tile_c"])
        np.testing.assert_allclose(row["origin_x_px"], rec["origin_x_px"])
        np.testing.assert_allclose(row["dx_px"], rec["dx_px"], atol=1e-9)
        np.testing.assert_allclose(row["dy_px"], rec["dy_px"], atol=1e-9)


def test_engine_covariance_matches_numeric_reference_one_tile(spark, rasters):
    """E1/E2 with the real TPU rasters: the engine's analytic Jacobian
    vs the reference's O(T^4) numeric-diff build, one tile at T=100.
    Numeric forward difference carries O(h) truncation, hence 1e-4."""
    before, _ = rasters["before_dem"]
    after, _ = rasters["after_dem"]
    bu, _ = rasters["before_tpu"]
    au, _ = rasters["after_tpu"]
    res = (
        run_piv(spark, array_to_df(spark, before), array_to_df(spark, after),
                CFG, propagate=True,
                before_unc=array_to_df(spark, bu),
                after_unc=array_to_df(spark, au))
        .filter("tile_r = 2 AND tile_c = 2")
        .toPandas()
        .iloc[0]
    )
    # reference-semantics covariance for the same tile, numeric Jacobian
    T, step, off = CFG.template, CFG.step, CFG.offset
    search = CFG.search
    vt = hz = 2
    t = before[vt * step + off : vt * step + off + T,
               hz * step + off : hz * step + off + T]
    s = after[vt * step : vt * step + search, hz * step : hz * step + search]
    surf = ncck.ncc_surface(s, t)
    rmax, cmax = np.unravel_index(int(np.argmax(surf)), surf.shape)
    p33 = surf[rmax - 1 : rmax + 2, cmax - 1 : cmax + 2]
    hz_d, vt_d = ncck.subpixel_peak(p33)
    ut = bu[vt * step + off : vt * step + off + T,
            hz * step + off : hz * step + off + T]
    s_sub = s[rmax - 1 : rmax + T + 1, cmax - 1 : cmax + T + 1]
    u_sub = au[vt * step : vt * step + search,
               hz * step : hz * step + search][
        rmax - 1 : rmax + T + 1, cmax - 1 : cmax + T + 1
    ]
    jac = ncck.numeric_correlation_jacobian(t, s_sub, p33)
    cc = ncck.propagate_pixel_into_correlation(jac, ut, u_sub)
    pc = ncck.propagate_correlation_into_subpixel_peak(p33, cc, (hz_d, vt_d))
    np.testing.assert_allclose(res["c00"], pc[0, 0], rtol=1e-4)
    np.testing.assert_allclose(res["c01"], pc[0, 1], rtol=1e-4)
    np.testing.assert_allclose(res["c11"], pc[1, 1], rtol=1e-4)
