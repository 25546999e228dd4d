"""M4b: reprojection, warp facade composition, vector_to_epsg.

Reference: warp out_epsg arm (gdal.py:716-719; test_raster.py:471-495),
cutline (gdal.py:691-730; quadrant histogram test_raster.py:233-281),
to_epsg per-feature loop (gdal.py:1298-1326).
"""

import numpy as np

from gdal_boots_spark.geom.affine import invert_transform
from gdal_boots_spark.geom.crs import transform_coords
from gdal_boots_spark.operators.reproject import reproject, suggested_grid, vector_to_epsg
from gdal_boots_spark.operators.warp_facade import warp
from gdal_boots_spark.sources.tiles import RasterGrid, array_to_tiles, tiles_to_array


def _mk(spark, arr, transform, epsg, tile=16, rid="t", nodata=None):
    arr = np.asarray(arr)
    grid = RasterGrid(rid, epsg, transform, arr.shape[-1], arr.shape[-2],
                      tile_w=tile, tile_h=tile, dtype=str(arr.dtype), nodata=nodata)
    return array_to_tiles(spark, arr, grid), grid


def test_reproject_identity_grid(spark):
    """Reprojecting onto the source grid itself is the identity."""
    rng = np.random.default_rng(11)
    src = rng.integers(0, 255, (40, 48)).astype(np.int32)
    tiles, grid = _mk(spark, src, (0.01, 0.0, 26.0, 0.0, -0.01, 54.0), 4326, rid="ri")
    out_tiles, og = reproject(tiles, grid, 4326, out_grid=grid)
    got = tiles_to_array(out_tiles, og)
    assert np.array_equal(got, src)


def test_reproject_4326_to_3857_matches_dense(spark):
    """Distributed inverse-mapping == straight numpy computation."""
    rng = np.random.default_rng(12)
    src = rng.integers(0, 255, (40, 48)).astype(np.int32)
    grid_t = (0.01, 0.0, 26.0, 0.0, -0.01, 54.0)
    tiles, grid = _mk(spark, src, grid_t, 4326, rid="rp")
    out_tiles, og = reproject(tiles, grid, 3857, kernel="nearest")
    got = tiles_to_array(out_tiles, og)

    oa, _, oc, _, oe, of = og.transform
    jj, ii = np.meshgrid(np.arange(og.width) + 0.5, np.arange(og.height) + 0.5)
    wx, wy = oa * jj + oc, oe * ii + of
    lon, lat = transform_coords(wx.ravel(), wy.ravel(), 3857, 4326)
    gia = invert_transform(grid_t)
    spx = np.floor(gia[0] * lon + gia[2]).astype(int).reshape(og.height, og.width)
    spy = np.floor(gia[4] * lat + gia[5]).astype(int).reshape(og.height, og.width)
    inb = (spx >= 0) & (spx < 48) & (spy >= 0) & (spy < 40)
    exp = np.zeros_like(got)
    exp[inb] = src[spy[inb], spx[inb]]
    assert np.array_equal(got, exp)
    # bulk of the output comes from real source pixels
    assert inb.mean() > 0.85


def test_reproject_span_pass_takes_no_pixels(spark):
    """The destination-box pass runs over the distinct tile keys only:
    the executed plan's span node reads no ``data`` column (the pixel
    blobs join back in the JVM), and the output is still the dense
    inverse mapping."""
    rng = np.random.default_rng(13)
    src = rng.integers(0, 255, (2, 40, 48)).astype(np.int32)
    grid = RasterGrid("rs", 4326, (0.01, 0.0, 26.0, 0.0, -0.01, 54.0), 48, 40, tile_w=16, tile_h=16,
                      bands=2, dtype="int32")
    tiles = array_to_tiles(spark, src, grid)
    out_tiles, og = reproject(tiles, grid, 4326, out_grid=grid)
    assert np.array_equal(tiles_to_array(out_tiles, og), src)
    plan = out_tiles._jdf.queryExecution().executedPlan().toString()
    spans = [line for line in plan.split("\n") if "MapInPandas spans(" in line]
    assert spans
    for line in spans:
        args = line.split("spans(", 1)[1].split(")", 1)[0]
        assert "data#" not in args and "band#" not in args, line


def test_reproject_proj4_albers(spark):
    """Custom proj4 CRS arm (test_raster.py:489-495): output carries
    proj4, values drawn from the source value set."""
    aea = "+proj=aea +lat_0=-32 +lon_0=-60 +lat_1=-5 +lat_2=-42 +x_0=0 +y_0=0 +ellps=aust_SA +units=m +no_defs"
    src = np.full((32, 32), 64, np.uint8)
    src[:16, :] = 191
    tiles, grid = _mk(spark, src, (0.01, 0.0, -60.2, 0.0, -0.01, -31.8), 4326, rid="ra")
    out_tiles, og = reproject(tiles, grid, aea, kernel="nearest")
    assert og.proj4 == aea and og.epsg == 0
    got = tiles_to_array(out_tiles, og)
    vals = set(np.unique(got).tolist())
    assert vals <= {0, 64, 191} and {64, 191} <= vals
    # min/max golden style (test_raster.py:496-497)
    assert (got[got > 0].min(), got.max()) == (64, 191)


def test_warp_facade_mosaic_and_cutline(spark):
    """Compose extra_ds mosaic + cutline mask (test_raster.py:233-281
    quadrant style)."""
    q = np.zeros((40, 40), np.uint8)
    q[:20, :20] = 32
    q[:20, 20:] = 64
    q[20:, :20] = 128
    q[20:, 20:] = 255
    t1, g1 = _mk(spark, q, (0.01, 0.0, 26.0, 0.0, -0.01, 54.0), 4326, rid="q1")
    t2, g2 = _mk(spark, q, (0.01, 0.0, 26.4, 0.0, -0.01, 54.0), 4326, rid="q2")
    cut = {
        "type": "Polygon",
        "coordinates": [[[26.05, 53.65], [26.35, 53.65], [26.35, 53.95], [26.05, 53.95], [26.05, 53.65]]],
    }
    out_tiles, og = warp(spark, t1, g1, extra=[(t2, g2)], cutline=cut)
    got = tiles_to_array(out_tiles, og)
    # expected window from the engine's own snap semantics (floor/ceil
    # outward — FP-exactly what fast_warp does, test_raster.py:769-777)
    from gdal_boots_spark.operators.warp import window_of_bbox
    from gdal_boots_spark.operators.mosaic import mosaic as _mosaic

    _, mg = _mosaic(spark, [(t1, g1), (t2, g2)])
    c0, r0, c1, r1 = window_of_bbox(mg, (26.05, 53.65, 26.35, 53.95), clip=True)
    assert got.shape == (r1 - r0, c1 - c0)
    vals, counts = np.unique(got, return_counts=True)
    assert set(vals.tolist()) <= {0, 32, 64, 128, 255}
    assert counts.sum() == got.size
    # interior (away from the snapped border) carries quadrant values
    assert set(np.unique(got[1:-1, 1:-1]).tolist()) <= {32, 64, 128, 255}


def test_warp_facade_bbox_resample(spark):
    src = np.arange(1, 1601, dtype=np.int32).reshape(40, 40)
    t1, g1 = _mk(spark, src, (1.0, 0.0, 0.0, 0.0, -1.0, 40.0), 32631, rid="br")
    out_tiles, og = warp(spark, t1, g1, bbox=(8.0, 8.0, 24.0, 24.0), resolution=(2.0, 2.0), resampling="average")
    got = tiles_to_array(out_tiles, og)
    win = src[16:32, 8:24]
    exp = win.reshape(8, 2, 8, 2).mean(axis=(1, 3))
    assert np.allclose(got, exp)


def test_vector_to_epsg_vectorized(spark):
    import json

    from gdal_boots_spark.functions.geometry_fns import geojson_decode_udf, geojson_encode_udf
    from pyspark.sql import functions as F

    pts = [(i, json.dumps({"type": "Point", "coordinates": [26.0 + i / 10.0, 53.0 + i / 20.0]})) for i in range(20)]
    df = spark.createDataFrame(pts, "fid long, geojson string").withColumn(
        "geometry", geojson_decode_udf(F.col("geojson"))
    )
    out = vector_to_epsg(df, 4326, 3857)
    enc = out.withColumn("gj", geojson_encode_udf(9)(F.col("geometry"))).select("fid", "gj").collect()
    for r in enc:
        got = json.loads(r["gj"])["coordinates"]
        ex, ey = transform_coords(
            np.array([26.0 + r["fid"] / 10.0]), np.array([53.0 + r["fid"] / 20.0]), 4326, 3857
        )
        assert abs(got[0] - ex[0]) < 1e-6 and abs(got[1] - ey[0]) < 1e-6
