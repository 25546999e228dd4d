"""M3: rasterize, fast_warp window slice, crop_by_geometry, histograms.

Reference goldens: test_vector.py:83-98 (rasterize_basic center
coverage), test_raster.py:309-365 (fast_warp snap semantics),
test_raster.py:485-487 (degenerate crop raises).
"""

import json

import numpy as np
import pytest

from gdal_boots_spark.geom.raster_kernels import apply_mask, rasterize_mask
from gdal_boots_spark.operators.crop import crop_by_geometry
from gdal_boots_spark.operators.rasterize import rasterize
from gdal_boots_spark.operators.stats import tile_checksum, tile_histogram
from gdal_boots_spark.operators.warp import fast_warp, window_of_bbox
from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, marked_fill, ramp_fill, tiles_to_array

# the reference rasterize_basic fixture (test_vector.py:84-86)
BASIC_POLY = {
    "type": "Polygon",
    "coordinates": [[[0.6, 1.0], [0.6, 0.75], [0.0, 0.75], [0.0, 1.0], [0.6, 1.0]]],
}
BASIC_T = (0.01, 0.0, 0.0, 0.0, -0.01, 1.0)


def test_rasterize_mask_kernel_center():
    from gdal_boots_spark.geom.packed import from_geojson

    pg = from_geojson(BASIC_POLY)
    m = rasterize_mask(pg.coords, pg.ring_offsets, BASIC_T, 100, 100, all_touched=False)
    assert m[:25, :60].all()  # reference assertion (test_vector.py:92)
    assert m.sum() == 25 * 60  # exact center-coverage count


def test_rasterize_mask_kernel_all_touched():
    from gdal_boots_spark.geom.packed import from_geojson

    pg = from_geojson(BASIC_POLY)
    m = rasterize_mask(pg.coords, pg.ring_offsets, BASIC_T, 100, 100, all_touched=True)
    assert m[:25, :60].all()  # reference assertion (test_vector.py:97)
    # engine-pinned all_touched semantics: interior + right edge col 60
    # (rows 0..24) + bottom edge row 25 (cols 0..59)
    assert m.sum() == 25 * 60 + 25 + 60
    assert m[:25, 60].all() and m[25, :60].all() and not m[25, 60]


def test_rasterize_distributed_matches_kernel(spark):
    """Distributed tile render == single dense kernel render."""
    from gdal_boots_spark.geom.packed import from_geojson

    grid = RasterGrid("rz", 4326, BASIC_T, 100, 100, tile_w=32, tile_h=32, dtype="uint8")
    polys = spark.createDataFrame(
        [(0, json.dumps(BASIC_POLY))], "poly_id long, geojson string"
    )
    tiles = rasterize(spark, polys, grid, all_touched=False, dense=True)
    got = tiles_to_array(tiles, RasterGrid("rz_mask", 4326, BASIC_T, 100, 100, 32, 32, 1, "uint8"))
    pg = from_geojson(BASIC_POLY)
    exp = rasterize_mask(pg.coords, pg.ring_offsets, BASIC_T, 100, 100)
    assert np.array_equal(got, exp)


def test_rasterize_histogram(spark):
    """Histogram golden style (test_vector.py:76-78): values [0,1]."""
    grid = RasterGrid("rz2", 4326, BASIC_T, 100, 100, tile_w=32, tile_h=32, dtype="uint8")
    polys = spark.createDataFrame([(0, json.dumps(BASIC_POLY))], "poly_id long, geojson string")
    tiles = rasterize(spark, polys, grid, dense=True)
    hist = {r["value"]: r["cnt"] for r in tile_histogram(tiles).collect()}
    assert hist == {0.0: 10000 - 1500, 1.0: 1500}


def test_fast_warp_snap_and_values(spark):
    """Snap semantics of test_raster.py:309-365 on a synthetic grid +
    pixel-exact slice equivalence."""
    grid = RasterGrid("fw", 32635, (10.0, 0.0, 509000.0, 0.0, -10.0, 5946200.0), 40, 30, tile_w=16, tile_h=16, dtype="int32")
    tiles = generate_tiles(spark, grid, marked_fill)
    dense = tiles_to_array(tiles, grid)
    bbox = (509042.3, 5946041.7, 509128.1, 5946118.2)
    out_tiles, og = fast_warp(tiles, grid, bbox)
    # floor/ceil outward snap: cols [4,13), rows [8,16)
    assert (og.width, og.height) == (9, 8)
    from gdal_boots_spark.geom.affine import bounds_from_transform

    assert bounds_from_transform(og.transform, og.width, og.height) == (509040.0, 5946040.0, 509130.0, 5946120.0)
    got = tiles_to_array(out_tiles, og)
    assert np.array_equal(got, dense[8:16, 4:13])


def test_fast_warp_outside_raises(spark):
    grid = RasterGrid("fw2", 4326, (1.0, 0.0, 0.0, 0.0, -1.0, 3.0), 5, 3)
    with pytest.raises(ValueError):
        window_of_bbox(grid, (-10, 0, 2, 2))


def test_crop_by_geometry_matches_dense(spark):
    """Distributed crop == dense numpy composition (slice+mask+apply)."""
    from gdal_boots_spark.geom.packed import from_geojson

    grid = RasterGrid("cg", 4326, (0.1, 0.0, 26.0, 0.0, -0.1, 55.0), 50, 40, tile_w=16, tile_h=16, dtype="int32", nodata=255.0)
    tiles = generate_tiles(spark, grid, ramp_fill)
    dense = tiles_to_array(tiles, grid)
    tri = {"type": "Polygon", "coordinates": [[[26.51, 53.21], [28.91, 53.31], [27.51, 54.71], [26.51, 53.21]]]}

    masked, mask_tiles, og = crop_by_geometry(spark, tiles, grid, tri, all_touched=True)
    got = tiles_to_array(masked, og)

    pg = from_geojson(tri)
    c = pg.coords.reshape(-1, 2)
    from gdal_boots_spark.geom.affine import snap_bbox_to_grid

    col0, row0, col1, row1, *_ = snap_bbox_to_grid(grid.transform, c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())
    sl = dense[row0:row1, col0:col1]
    m = rasterize_mask(pg.coords, pg.ring_offsets, og.transform, og.height, og.width, all_touched=True)
    exp = apply_mask(sl, m, 255.0)
    assert np.array_equal(got, exp)
    assert got.shape == (row1 - row0, col1 - col0)
    # mask is 0/1 only
    vals = {r["value"] for r in tile_histogram(mask_tiles).collect()}
    assert vals <= {0.0, 1.0}


def test_crop_degenerate_raises(spark):
    grid = RasterGrid("cg2", 4326, (0.1, 0.0, 26.0, 0.0, -0.1, 55.0), 50, 40)
    tiles = generate_tiles(spark, grid, ramp_fill)
    # geometry entirely outside the raster -> empty window
    far = {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]]}
    with pytest.raises(ValueError):
        crop_by_geometry(spark, tiles, grid, far)


def test_tile_checksum(spark):
    grid = RasterGrid("ck", 4326, (1.0, 0.0, 0.0, 0.0, -1.0, 3.0), 5, 3, tile_w=2, tile_h=2)
    t = generate_tiles(spark, grid, ramp_fill)
    rows = tile_checksum(t).collect()
    assert len(rows) == 6
    assert all(r["n_bytes"] == r["crc32"] >= 0 or r["n_bytes"] > 0 for r in rows)


def test_slice_window_pushes_tile_filters_to_parquet(spark, tmp_path):
    """The tile-range prune must reach the parquet scan as PushedFilters
    (the pushdown the reference lacks — SURVEY §3 case 1)."""
    import contextlib
    import io

    path = str(tmp_path / "tiles.parquet")
    grid = RasterGrid("pp", 4326, (0.01, 0.0, 26.0, 0.0, -0.01, 55.0), 512, 512, 64, 64, 1, "int32")
    generate_tiles(spark, grid, ramp_fill).write.parquet(path)
    tiles = spark.read.parquet(path)
    out, _ = fast_warp(tiles, grid, (26.5, 52.5 + 2.0, 27.0, 55.0 - 0.2), clip=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "GreaterThanOrEqual(tile_x" in plan and "LessThanOrEqual(tile_y" in plan


def test_rasterize_broadcast_vs_distributed(spark, monkeypatch):
    """The no-collect cover path (operators.cover) produces exactly the
    same tile rows as the driver-broadcast path, sparse AND dense, each
    side forced with cover.BROADCAST_MAX_BYTES."""
    from gdal_boots_spark.operators import cover
    from gdal_boots_spark.sources.synth import rect_polygons_df

    from tests.conftest import GATE_SIDES

    grid = RasterGrid(
        "rzd", 4326, (0.01, 0.0, 26.0, 0.0, -0.01, 55.0), 300, 200, tile_w=64, tile_h=64, dtype="uint8"
    )
    polys = rect_polygons_df(spark)
    out = {}
    for side, ceiling in GATE_SIDES.items():
        monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", ceiling)
        out[side] = {}
        for dense in (False, True):
            df = rasterize(spark, polys, grid, dense=dense)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert ("MapInArrow _decode_geojson(" in plan) == (side == "distributed"), (side, dense, plan)
            out[side][dense] = {r["tile_key"]: bytes(r["data"]) for r in df.collect()}
    assert out["broadcast"] == out["distributed"]
    tiles = out["broadcast"]
    assert 0 < len(tiles[False]) <= len(tiles[True]) == grid.n_tiles_x * grid.n_tiles_y


def _thin_triangles(spark, grid, n, seed):
    """``n`` seeded thin triangles (long axis 0.5-3 world units, any
    direction) centred on pixels of ``grid``."""
    rng = np.random.default_rng(seed)
    a, b, c, d, e, f = grid.transform
    rows = []
    for pid in range(n):
        cx, cy = rng.uniform(0, grid.width), rng.uniform(0, grid.height)
        wx, wy = a * cx + b * cy + c, d * cx + e * cy + f
        ang, half = rng.uniform(0, np.pi), rng.uniform(0.25, 1.5)
        ux, uy = np.cos(ang) * half, np.sin(ang) * half
        ring = [[wx - ux, wy - uy], [wx + ux, wy + uy], [wx - ux - 0.02 * uy, wy - uy + 0.02 * ux]]
        ring = [[round(float(x), 6), round(float(y), 6)] for x, y in ring + ring[:1]]
        rows.append((pid, json.dumps({"type": "Polygon", "coordinates": [ring]})))
    return spark.createDataFrame(rows, "poly_id long, geojson string")


def test_rotated_grid_contribs_one_relation(spark, monkeypatch):
    """On a grid with rotation terms the driver-side (tile, polygon)
    pairs equal the distributed ones (both read the decode pass's
    envelope), and rasterize and zonal_stats give the same rows on both
    sides of the broadcast gate."""
    from gdal_boots_spark.operators import cover
    from gdal_boots_spark.operators.zonal import zonal_stats

    from tests.conftest import GATE_SIDES

    grid = RasterGrid("rot", 4326, (0.01, 0.004, 0.0, 0.004, -0.01, 10.0), 1024, 1024, 64, 64, 1, "int32")
    polys = _thin_triangles(spark, grid, 40, seed=5)
    driver = set(zip(*cover.tile_contribs(cover.poly_dim(polys), grid)))
    dist = {tuple(r) for r in cover.contribs_distributed(polys, grid).select("tile_x", "tile_y", "poly_id").collect()}
    assert driver == dist and len(dist) > 40

    tiles = generate_tiles(spark, grid, ramp_fill)
    burned, stats = {}, {}
    for side, ceiling in GATE_SIDES.items():
        monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", ceiling)
        burned[side] = {r["tile_key"]: bytes(r["data"]) for r in rasterize(spark, polys, grid).collect()}
        stats[side] = {tuple(r) for r in zonal_stats(spark, tiles, grid, polys).collect()}
    assert burned["broadcast"] == burned["distributed"] and burned["broadcast"]
    assert stats["broadcast"] == stats["distributed"] and len(stats["broadcast"]) == 40


def test_tile_explode_sql_matches_numpy(spark):
    """explode_tiles (Spark SQL) and tile_explode (NumPy) assign the same
    tiles to pixel boxes that start off the grid, end past it, sit in
    the ragged last tile, snap empty or lie wholly outside."""
    from gdal_boots_spark.sources.tiles import explode_tiles, tile_explode

    grid = RasterGrid("tr", 4326, (1.0, 0.0, 0.0, 0.0, -1.0, 0.0), 200, 130, 64, 32, 1, "uint8")
    rng = np.random.default_rng(3)
    lo = rng.uniform(-80, 260, (400, 2))
    lo[::2] = lo[::2].round()  # whole pixels: boxes that snap to nothing
    box = np.hstack([lo, lo + rng.uniform(0, 90, (400, 2)) * (rng.random((400, 1)) > 0.1)])
    box[:4] = [[-5.5, -1, -0.5, 0], [64, 32, 64, 32], [199.5, 129.2, 400, 131], [300, 10, 310, 20]]
    row, tx, ty = tile_explode(box[:, 0], box[:, 2], box[:, 1], box[:, 3], grid)
    df = spark.createDataFrame(
        [(i, *map(float, b)) for i, b in enumerate(box)], "i long, x0 double, y0 double, x1 double, y1 double"
    )
    got = sorted(tuple(r) for r in explode_tiles(df, ["i"], grid, "x0", "x1", "y0", "y1").collect())
    assert got == sorted(zip(row.tolist(), tx.tolist(), ty.tolist()))
    assert 0 < len(set(row.tolist())) < len(box)
    assert tx.min() >= 0 and tx.max() == grid.n_tiles_x - 1 and ty.max() == grid.n_tiles_y - 1


def test_read_by_geom_composite_flow(spark, tmp_path):
    """Reference test_utils.py:14-26 (test_read_by_geom) — permanently
    skipped upstream for lack of its "extra" satellite fixture; ported
    here with a synthesized band over the same Minsk polygon fixture:
    open a 1-band raster, stack an RGBA 4-band dataset from it
    (__setitem__ band writes + full-opacity alpha), crop_by_geometry
    with the minsk-polygon.geojson fixture, write the crop as PNG and
    GeoTIFF, and re-read both bit-exact."""
    import json as _json
    import os as _os

    import pytest as _pytest

    fx = "/root/reference/tests/fixtures/minsk-polygon.geojson"
    if not _os.path.exists(fx):
        _pytest.skip("reference fixtures not mounted")
    geometry = _json.load(open(fx))["geometry"]
    from pyspark.sql import functions as F

    from gdal_boots_spark.operators.crop import crop_by_geometry
    from gdal_boots_spark.operators.raster_ops import write_window
    from gdal_boots_spark.sources.gtiff import write_gtiff
    from gdal_boots_spark.sources.png import decode_png, encode_png
    from gdal_boots_spark.sources.tiles import RasterGrid, array_to_tiles, tiles_to_array

    # synthesized "B04" band over the polygon's neighborhood
    rng = np.random.default_rng(42)
    band = rng.integers(0, 255, size=(40, 50), dtype=np.int64).astype(np.uint8)

    # RGBA stack: three copies of the band + alpha written as the
    # reference does (ds[3, :] = max — scalar-broadcast __setitem__,
    # the engine's write_window)
    from dataclasses import replace

    grid4 = RasterGrid(
        "rgba", 4326, (0.01, 0.0, 27.3, 0.0, -0.01, 54.1), 50, 40, tile_w=16, tile_h=16,
        bands=4, dtype="uint8",
    )
    rgba_arr = np.stack([band, band, band, np.zeros_like(band)])
    rgba = array_to_tiles(spark, rgba_arr, grid4)
    rgba = write_window(rgba, grid4, (0, 0, 50, 40), 255, band=3)

    cropped, mask, out_grid = crop_by_geometry(spark, rgba, grid4, geometry)
    assert out_grid.width > 0 and out_grid.height > 0
    planes = [
        tiles_to_array(
            cropped.where(F.col("band") == b).withColumn("band", F.lit(0)), replace(out_grid, bands=1)
        )
        for b in range(4)
    ]
    # inside-polygon pixels carry the band; bands 0-2 identical
    assert np.array_equal(planes[0], planes[1]) and np.array_equal(planes[1], planes[2])
    assert (planes[3] == 255).any()

    # PNG write/read round-trip of the cropped RGBA
    img = np.stack(planes, axis=-1)
    png_path = str(tmp_path / "cropped_by_polygon.png")
    with open(png_path, "wb") as f:
        f.write(encode_png(img))
    back = decode_png(open(png_path, "rb").read())
    assert np.array_equal(back, img)

    # GeoTIFF write/read round-trip (real container; decode bit-exact)
    from gdal_boots_spark.sources.gtiff import decode_gtiff

    tif_path = str(tmp_path / "warped_by_mask.tif")
    write_gtiff(cropped, replace(out_grid, raster_id="crop4"), tif_path)
    arr2, transform2, epsg2, _ = decode_gtiff(open(tif_path, "rb").read())
    assert arr2.shape == (4, out_grid.height, out_grid.width)
    assert epsg2 == 4326 and tuple(transform2) == tuple(out_grid.transform)
    for b in range(4):
        assert np.array_equal(arr2[b], planes[b]), b
