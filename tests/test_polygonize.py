"""Polygonize: pixel-exact raster->vector with cross-tile stitching.

Reference contract: to_vector (gdal.py:609-623) — 4-connected equal
value regions become polygons (shape-level assertions,
test_raster.py:116-140).  Strong oracle here: PIP round-trip — every
pixel center must be inside exactly the polygon of its own component.
"""

import json

import numpy as np

from gdal_boots_spark.geom.packed import from_geojson
from gdal_boots_spark.geom.pip import points_in_packed
from gdal_boots_spark.operators.polygonize import polygonize
from gdal_boots_spark.sources.tiles import RasterGrid, array_to_tiles


def _grid_for(arr, tile=4, rid="pz"):
    return RasterGrid(rid, 4326, (1.0, 0.0, 0.0, 0.0, 1.0, 0.0), arr.shape[1], arr.shape[0], tile, tile, 1, str(arr.dtype))


def _pip_roundtrip(spark, arr, exclude=None, tile=4):
    grid = _grid_for(arr, tile=tile)
    tiles = array_to_tiles(spark, arr, grid)
    rows = polygonize(spark, tiles, grid, exclude=exclude).collect()
    # identity transform (a=1, e=+1): world == pixel-corner coords
    from gdal_boots_spark.geom.polygonize_kernel import label_components

    labels, n = label_components(arr, exclude=exclude)
    assert len(rows) == n, (len(rows), n)
    total_px = sum(r["n_pixels"] for r in rows)
    assert total_px == int((labels > 0).sum())
    jj, ii = np.meshgrid(np.arange(arr.shape[1]) + 0.5, np.arange(arr.shape[0]) + 0.5)
    for r in rows:
        pg = from_geojson(r["geojson"])
        inside = points_in_packed(jj.ravel(), ii.ravel(), pg).reshape(arr.shape)
        # the polygon contains exactly the pixels of ONE component with
        # this value and the right pixel count
        assert inside.sum() == r["n_pixels"], r
        vals = arr[inside]
        assert (vals == r["value"]).all(), r
        lab_inside = labels[inside]
        assert len(set(lab_inside.tolist())) == 1
    return rows


def test_polygonize_basic_regions(spark):
    arr = np.zeros((8, 12), np.int32)
    arr[1:4, 1:5] = 7
    arr[5:7, 2:11] = 9  # spans multiple 4px tiles
    arr[0:8, 11:12] = 7  # separate component, same value
    _pip_roundtrip(spark, arr, exclude=0)


def test_polygonize_hole_across_tiles(spark):
    arr = np.zeros((10, 10), np.int32)
    arr[1:9, 1:9] = 5
    arr[3:6, 3:7] = 0  # hole crossing the tile boundary at col 4
    rows = _pip_roundtrip(spark, arr, exclude=0)
    big = max(rows, key=lambda r: r["n_pixels"])
    gj = json.loads(big["geojson"])
    assert gj["type"] == "Polygon" and len(gj["coordinates"]) == 2  # shell + hole


def test_polygonize_diagonal_not_connected(spark):
    arr = np.zeros((6, 6), np.int32)
    arr[0:3, 0:3] = 2
    arr[3:6, 3:6] = 2  # touches only at a corner -> 2 components
    rows = _pip_roundtrip(spark, arr, exclude=0)
    assert len(rows) == 2


def test_polygonize_all_values_no_exclude(spark):
    arr = np.array([[1, 1, 2], [1, 2, 2], [3, 3, 3]], np.int32)
    rows = _pip_roundtrip(spark, arr, exclude=None, tile=2)
    assert {r["value"] for r in rows} == {1.0, 2.0, 3.0}


def test_polygonize_world_transform(spark):
    arr = np.zeros((4, 4), np.int32)
    arr[1:3, 1:3] = 8
    grid = RasterGrid("wt", 4326, (0.5, 0.0, 10.0, 0.0, -0.5, 20.0), 4, 4, 2, 2, 1, "int32")
    tiles = array_to_tiles(spark, arr, grid)
    rows = polygonize(spark, tiles, grid, exclude=0).collect()
    assert len(rows) == 1
    ring = json.loads(rows[0]["geojson"])["coordinates"][0]
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    assert (min(xs), max(xs)) == (10.5, 11.5)  # cols 1..3 at res 0.5
    assert (min(ys), max(ys)) == (18.5, 19.5)  # rows 1..3, y-flip


def _serpentine(n=21):
    """One value-1 path snaking through every other row (value-0 strips
    between): with 3px tiles it crosses a seam every few pixels, so its
    merge graph is a long chain."""
    arr = np.zeros((n, n), np.int32)
    arr[::2, :] = 1
    for i, r in enumerate(range(1, n, 2)):
        arr[r, n - 1 if i % 2 == 0 else 0] = 1
    return arr


def _seam_touches():
    """Equal values meeting only at a tile corner (two components) and
    different values side by side across a seam (never merged)."""
    arr = np.zeros((8, 8), np.int32)
    arr[2:4, 2:4] = 5
    arr[4:6, 4:6] = 5  # corner-touch at pixel corner (4, 4), a tile corner
    arr[2:4, 4:6] = 6  # across the col-4 seam from the first 5-block
    arr[4:6, 2:4] = 6  # corner-touches the other 6-block
    return arr


def test_polygonize_matches_whole_raster_labels(spark):
    """The stitched components equal whole-raster ``label_components``
    (checked pixel by pixel through the PIP round trip) on many-tile
    rasters: 16 stripe chains over 16 tile columns, a serpentine whose
    long diameter spans dozens of seams, and seam/corner contacts."""
    h, w = 16, 256
    stripes = np.repeat(np.arange(1, h + 1, dtype=np.int32)[:, None], w, axis=1)
    rows = _pip_roundtrip(spark, stripes, exclude=0, tile=16)
    assert sorted(r["n_pixels"] for r in rows) == [w] * h

    snake = _serpentine()
    rows = _pip_roundtrip(spark, snake, exclude=None, tile=3)
    assert max(r["n_pixels"] for r in rows) == int(snake.sum())
    rows = _pip_roundtrip(spark, snake, exclude=0, tile=3)
    assert len(rows) == 1

    rows = _pip_roundtrip(spark, _seam_touches(), exclude=0, tile=4)
    assert sorted((r["value"], r["n_pixels"]) for r in rows) == [(5.0, 4), (5.0, 4), (6.0, 4), (6.0, 4)]


def _union_find_roots(pairs):
    parent = {}

    def find(u):
        parent.setdefault(u, u)
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for x, y in pairs:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return {u: find(u) for u in list(parent)}


def test_connected_components_matches_union_find(spark):
    """(comp, gid = smallest id of the component) for every paired id:
    no pairs, string ids (lexicographic minimum), and long ids on a
    shuffled 10,000-node chain plus small side components."""
    from gdal_boots_spark.operators.polygonize import connected_components

    def cc(pairs, ddl):
        got = connected_components(spark.createDataFrame(pairs, ddl)).collect()
        return {r["comp"]: r["gid"] for r in got}

    assert cc([], "x long, y long") == {}

    words = [("m", "b"), ("b", "z"), ("q", "q"), ("k10", "k9"), ("k9", "k2"), ("a", "c")]
    assert cc(words, "x string, y string") == _union_find_roots(words)

    rng = np.random.default_rng(3)
    perm = rng.permutation(10_000) + 100
    chain = [(int(a), int(b)) for a, b in zip(perm[:-1], perm[1:])]
    chain += [(7, 5), (5, 9), (3, 1)]
    order = rng.permutation(len(chain))
    chain = [chain[i][:: 1 if i % 2 else -1] for i in order]
    want = _union_find_roots(chain)
    assert cc(chain, "x long, y long") == want
    assert set(want.values()) == {100, 5, 1}


def test_polygonize_progress_callback(spark):
    """Reference parity: to_vector(callback=...) (gdal.py:609-623,
    driven with tqdm in test_raster.py:120-134).  GDAL-style
    (fraction, msg, user_data) callback: monotone non-decreasing,
    starts at 0.0, ends exactly at 1.0, and the result is already
    materialized (and identical to the callback-less run) when 1.0
    fires."""
    arr = np.zeros((8, 12), np.int32)
    arr[1:4, 1:5] = 7
    arr[5:8, 6:12] = 9
    grid = _grid_for(arr)
    tiles = array_to_tiles(spark, arr, grid)

    seen = []
    out = polygonize(
        spark, tiles, grid, exclude=0,
        progress=lambda frac, msg, _user: seen.append((frac, msg)),
    )
    fracs = [f for f, _ in seen]
    assert fracs[0] == 0.0 and fracs[-1] == 1.0
    assert all(b >= a for a, b in zip(fracs, fracs[1:]))
    assert all(isinstance(m, str) and m for _, m in seen)
    # reference usage drives a progress bar to 100 (test_raster.py:127)
    pbar = 0
    for f, _ in seen:
        pbar += int(round(f * 100 - pbar))
    assert pbar == 100
    got = {(r["comp_id"], r["value"], r["n_pixels"]) for r in out.collect()}
    want = {
        (r["comp_id"], r["value"], r["n_pixels"])
        for r in polygonize(spark, tiles, grid, exclude=0).collect()
    }
    assert got == want
    out.unpersist()


def test_polygonize_rebuilds_share_one_cached_sweep(spark):
    """polygonize persists its tile sweep and never unpersists it, but a
    rebuild of the same query plans the same sweep, which the cache
    manager already holds: three build + collect rounds of the board
    polygonize query at sf0.01 (Python and JVM GC after each) leave
    exactly one newly persisted RDD, not one more per round."""
    import gc

    import __spark_entry__ as entrymod
    from tests.conftest import SF_ORACLE

    def persisted():
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    spark.catalog.clearCache()
    before = persisted()
    counts = []
    try:
        for _ in range(3):
            assert entrymod.queries()["polygonize"](spark, SF_ORACLE).collect()
            gc.collect()
            spark._jvm.System.gc()
            counts.append(len(persisted() - before))
    finally:
        spark.catalog.clearCache()
    assert counts == [1, 1, 1], counts
