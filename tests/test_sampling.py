"""M2: tile tables + values_by_points — reference goldens ported.

Goldens: /root/reference/tests/test_raster.py:648-677 (3x5 ramp raster,
bounds [(0,0),(5,3)], boundary/outside cases, multiband).
"""

import numpy as np

from gdal_boots_spark.operators.sampling import values_by_points
from gdal_boots_spark.sources.tiles import (
    RasterGrid,
    array_to_tiles,
    generate_tiles,
    ramp_fill,
    tiles_to_array,
)


def _ramp_grid(raster_id="r", bands=1, tile=2):
    # reference: RasterDataset.create(shape=(3,5)); set_bounds([(0,0),(5,3)])
    return RasterGrid(
        raster_id=raster_id,
        epsg=4326,
        transform=(1.0, 0.0, 0.0, 0.0, -1.0, 3.0),
        width=5,
        height=3,
        tile_w=tile,
        tile_h=tile,
        bands=bands,
        dtype="int32",
    )


def test_generate_and_assemble_roundtrip(spark):
    grid = _ramp_grid()
    tiles = generate_tiles(spark, grid, ramp_fill)
    # 3x3 tile grid of 2x2 tiles over 5x3 px
    assert tiles.count() == 6
    arr = tiles_to_array(tiles, grid)
    assert np.array_equal(arr, np.arange(1, 16).reshape(3, 5))


def test_array_to_tiles_roundtrip(spark):
    grid = _ramp_grid()
    src = np.arange(1, 16).reshape(3, 5).astype(np.int32)
    assert np.array_equal(tiles_to_array(array_to_tiles(spark, src, grid), grid), src)


def test_values_by_points_goldens(spark):
    # test_raster.py:648-668 parametrized cases
    grid = _ramp_grid()
    tiles = generate_tiles(spark, grid, ramp_fill)
    cases = [
        ((0.0, 0.0), None),
        ((-1.0, -1.0), None),
        ((0.0, 0.1), 11),
        ((0.2, 2.5), 1),
        ((2.9, 4.9), None),
        ((3.0, 4.9), None),
        ((2.9, 5.0), None),
        ((3.0, 5.0), None),
        ((10.0, 10.0), None),
    ]
    pts = spark.createDataFrame(
        [(i, x, y) for i, ((x, y), _) in enumerate(cases)], "point_id long, x double, y double"
    )
    got = {r["point_id"]: r["value"] for r in values_by_points(pts, tiles, grid).collect()}
    for i, (_, exp) in enumerate(cases):
        assert got[i] == (None if exp is None else float(exp)), i
    assert len(got) == len(cases)


def test_values_by_points_multiband(spark):
    # test_raster.py:671-677: shape (2,3,5), values 1..30 -> point
    # (0.2, 2.5) = [1, 16]
    grid = _ramp_grid(bands=2)
    tiles = generate_tiles(spark, grid, ramp_fill)
    pts = spark.createDataFrame([(0, 0.2, 2.5)], "point_id long, x double, y double")
    rows = values_by_points(pts, tiles, grid).orderBy("band").collect()
    assert [(r["band"], r["value"]) for r in rows] == [(0, 1.0), (1, 16.0)]


def test_values_by_points_empty(spark):
    grid = _ramp_grid()
    tiles = generate_tiles(spark, grid, ramp_fill)
    pts = spark.createDataFrame([], "point_id long, x double, y double")
    assert values_by_points(pts, tiles, grid).count() == 0

