"""GeoTIFF writer: exact read(write(x)) round-trips, LZW inverse,
reference-raster re-encode stability, and the dem CLI artifact chain
(reference twins: rasters.py:21-43 write_raster, run_test_v1.py:123-133
DEM/TPU emission)."""

import json
import subprocess
import sys
import tempfile
from pathlib import Path

import numpy as np
import pytest

from gpiv_spark.sources.geotiff import (
    _lzw_decode,
    _lzw_encode,
    read_geotiff,
    write_geotiff,
)

REF_TIFS = sorted(Path("/root/reference/data/output").glob("*.tif"))


@pytest.mark.parametrize("case", ["random", "repetitive", "zeros", "empty"])
def test_lzw_encoder_is_decoder_inverse(case):
    rng = np.random.default_rng(3)
    buf = {
        # >4094-entry table on random bytes forces CLEAR+reset cycles
        "random": rng.integers(0, 256, 300_000, dtype=np.uint8).tobytes(),
        "repetitive": b"abcabcabd" * 40_000,  # long matches, width growth
        "zeros": bytes(100_000),
        "empty": b"",
    }[case]
    assert _lzw_decode(_lzw_encode(buf)) == buf


def _distinct_pair_buf(length: int, mult: int = 37) -> bytes:
    """Byte sequence whose consecutive pairs are (mostly) all distinct,
    so the encoder emits ~one code per byte and the table length at the
    final code is controllable by `length`."""
    seq: list[int] = []
    d = 1
    while len(seq) < length:
        x = (d * mult) % 256
        for _ in range(255):
            seq.append(x)
            x = (x + d) % 256
            if len(seq) >= length:
                break
        d += 1
    return bytes(seq[:length])


@pytest.mark.parametrize("length", [254, 829, 2165])
def test_lzw_early_change_boundary_at_final_code(length):
    """Directed regression for the encoder/decoder width desync at the
    final data code (ADVICE r4): the decoder appends a table entry
    AFTER consuming the last data code, so when that append lands the
    table exactly on an early-change boundary (511/1023/2047) the
    decoder widens before reading EOI. Lengths 829 and 2165 of this
    generator land the table on 1023 and 2047 with a non-byte-aligned
    stream — both desynced (garbage tail) before the LZWPostEncode-style
    width advance in _lzw_encode; 254 lands on 511 byte-aligned (the
    case that silently escaped)."""
    buf = _distinct_pair_buf(length)
    assert _lzw_decode(_lzw_encode(buf)) == buf


def test_lzw_fuzz_round_trip():
    """Seeded fuzz (VERDICT r4 #6): >=1000 buffers across entropy
    levels and lengths, including low-entropy runs that graze the
    width boundaries and high-entropy buffers long enough to overflow
    the 12-bit table and force mid-stream CLEAR+reset cycles."""
    rng = np.random.default_rng(20260817)
    for trial in range(1200):
        n = int(rng.integers(1, 6000))
        k = int(rng.integers(2, 257))  # alphabet size: 2 (runs) .. 256
        buf = rng.integers(0, k, n, dtype=np.uint8).tobytes()
        assert _lzw_decode(_lzw_encode(buf)) == buf, (trial, n, k)


@pytest.mark.parametrize("compress", ["lzw", "none"])
def test_write_read_round_trip_exact(compress):
    rng = np.random.default_rng(11)
    arr = rng.normal(5, 2, (300, 478))
    arr[7, 3] = -9999.0
    geo = {"ul_x": 273111.0, "ul_y": 3289789.0, "pixel_width": 0.5,
           "pixel_height": 0.5, "nodata": -9999.0}
    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/rt.tif"
        write_geotiff(p, arr, geo, compress=compress)
        a2, g2 = read_geotiff(p)
    assert np.array_equal(a2, arr)
    assert g2 == geo


def test_multi_strip_ragged_no_geo():
    rng = np.random.default_rng(12)
    arr = rng.normal(0, 1, (100, 37))
    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/plain.tif"
        write_geotiff(p, arr, None, rows_per_strip=16)
        a2, g2 = read_geotiff(p)
    assert np.array_equal(a2, arr)
    assert g2 == {}


@pytest.mark.skipif(not REF_TIFS, reason="reference rasters absent")
@pytest.mark.parametrize("src", REF_TIFS, ids=[p.stem for p in REF_TIFS])
def test_reference_raster_reencodes_identically(src):
    """read -> write -> read of the reference's own bundled rasters
    preserves every pixel and the transform/nodata tags."""
    arr, geo = read_geotiff(str(src))
    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/{src.stem}.tif"
        write_geotiff(p, arr, geo)
        a2, g2 = read_geotiff(p)
    assert np.array_equal(a2, arr, equal_nan=True)
    assert g2 == geo


def test_write_raster_reference_contract():
    """sinks.write_raster: reference signature (ul, +pixel sizes, epsg),
    NaN -> nodata 9999, readable back with the north-up transform."""
    from gpiv_spark.sources.sinks import write_raster

    arr = np.arange(12.0).reshape(3, 4)
    arr[1, 2] = np.nan
    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/dem.tif"
        write_raster(p, arr, (500.0, 900.0), 1.0, 1.0, epsg=6344)
        a2, geo = read_geotiff(p)
    expect = arr.copy()
    expect[1, 2] = 9999.0
    assert np.array_equal(a2, expect)
    assert geo == {"ul_x": 500.0, "ul_y": 900.0, "pixel_width": 1.0,
                   "pixel_height": 1.0, "nodata": 9999.0}


def test_dem_cli_emits_reference_style_rasters(spark):
    """gpiv dem on a synthetic planar point cloud: the DEM raster must
    reproduce the plane at every interior pixel and the artifacts must
    be real GeoTIFF files (run_test_v1.py:123-133 parity)."""
    from pyspark.sql import functions as F

    from gpiv_spark.functions.geocode import X0, Y0

    # the TIN's cell/fine indexes are anchored to the model extent
    # (functions/geocode.py X0/Y0) — place the cloud inside it, exactly
    # like the reference's UTM-coordinate clouds sit in their CRS
    n = 40
    pts = spark.range(n * n).select(
        F.col("id").alias("pid"),
        (F.lit(X0) + F.col("id") % n * 2.0).alias("x"),
        (F.lit(Y0) + F.floor(F.col("id") / n) * 2.0).alias("y"),
        (10.0 + 0.25 * (F.col("id") % n * 2.0)
         + 0.1 * (F.floor(F.col("id") / n) * 2.0)).alias("z"),
        *[F.lit(0.0001).alias(c) for c in ("var_x", "var_y", "var_z")],
        *[F.lit(0.0).alias(c) for c in ("cov_xy", "cov_xz", "cov_yz")],
    )
    with tempfile.TemporaryDirectory() as d:
        pdir = f"{d}/pts"
        pts.write.parquet(pdir)
        out = subprocess.run(
            [sys.executable, "jobs/gpiv_cli.py", "dem", pdir,
             f"{d}/dem.tif", f"{d}/tpu.tif", "--pixel", "2.0",
             "--cpus", "4"],
            capture_output=True, text=True, cwd=Path(__file__).parents[1],
        )
        assert out.returncode == 0, out.stderr[-2000:]
        meta = json.loads(out.stdout.strip().splitlines()[-1])
        dem, geo = read_geotiff(f"{d}/dem.tif")
        tpu, _ = read_geotiff(f"{d}/tpu.tif")
    assert meta["filled"] > 0
    assert geo["nodata"] == 9999.0
    interior = dem[5:-5, 5:-5]
    rows, cols = np.mgrid[5:dem.shape[0] - 5, 5:dem.shape[1] - 5]
    # pixel center (row r, col c) -> model x = ul_x+(c+.5)*pw,
    # y = ul_y-(r+.5)*pw; the plane is z = 10 + .25x + .1y
    xs = geo["ul_x"] + (cols + 0.5) * geo["pixel_width"]
    ys = geo["ul_y"] - (rows + 0.5) * geo["pixel_height"]
    want = 10.0 + 0.25 * (xs - X0) + 0.1 * (ys - Y0)
    ok = interior != 9999.0
    assert ok.mean() > 0.95
    np.testing.assert_allclose(interior[ok], want[ok], atol=1e-8)
    assert (tpu[5:-5, 5:-5][ok] > 0).all()
