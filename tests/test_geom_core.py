"""M0 geometry-core tests — ports of the reference goldens.

Goldens traced from /root/reference/tests/test_geometry.py and
tests/test_raster.py (cited per test).
"""

import json

import numpy as np
import pytest

from gdal_boots_spark.geom import (
    apply_transform,
    bounds_from_transform,
    cell_bounds,
    cell_decode,
    cell_id,
    cover_bbox,
    from_geojson,
    geom_bounds,
    pixel_of,
    points_in_packed,
    snap_bbox_to_grid,
    to_geojson,
    transform_coords,
    transform_from_bounds,
)

PARIS_4326 = {
    "type": "Polygon",
    "coordinates": [
        [
            [2.295279, 48.860081],
            [2.291867, 48.857713],
            [2.293404, 48.856723],
            [2.296872, 48.859022],
            [2.295279, 48.860081],
        ]
    ],
}

# reference golden: tests/test_geometry.py:93-112 (precision=6)
PARIS_3857 = [
    [255509.289508, 6251153.329039],
    [255129.467406, 6250752.662865],
    [255300.565463, 6250585.160244],
    [255686.621457, 6250974.143639],
    [255509.289508, 6251153.329039],
]


def test_codec_roundtrip_polygon():
    # reference: test_geometry.py:75-77 (create -> export == input)
    pg = from_geojson(PARIS_4326)
    assert pg.gtype == 3
    assert pg.n_points == 5
    assert to_geojson(pg, precision=6) == PARIS_4326
    # JSON-string input path (VectorDataset.open inline GeoJSON, gdal.py:860)
    pg2 = from_geojson(json.dumps(PARIS_4326))
    assert np.array_equal(pg2.coords, pg.coords)


@pytest.mark.parametrize(
    "gj",
    [
        {"type": "Point", "coordinates": [26.5, 53.9]},
        {"type": "MultiPoint", "coordinates": [[1, 2], [3, 4]]},
        {"type": "LineString", "coordinates": [[0, 0], [1, 1], [2, 0]]},
        {"type": "MultiLineString", "coordinates": [[[0, 0], [1, 1]], [[2, 2], [3, 3]]]},
        {
            "type": "MultiPolygon",
            "coordinates": [
                [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]]],
                [[[10, 10], [11, 10], [11, 11], [10, 10]]],
            ],
        },
    ],
)
def test_codec_roundtrip_types(gj):
    # reference round-trip style: test_geometry.py:115-179
    assert to_geojson(from_geojson(gj), precision=6) == gj


def test_codec_empty_geometries():
    # reference: test_geometry.py:121-131 (empty round-trips)
    for t in ["Point", "LineString", "Polygon", "MultiPolygon"]:
        gj = {"type": t, "coordinates": []}
        assert to_geojson(from_geojson(gj))["coordinates"] == []


def test_codec_flattens_3d():
    # reference FlattenTo2D: geometry.py:59-64
    gj = {"type": "Point", "coordinates": [1.5, 2.5, 99.0]}
    assert to_geojson(from_geojson(gj)) == {"type": "Point", "coordinates": [1.5, 2.5]}


def test_transform_4326_to_3857_golden():
    # reference golden at 1e-6: test_geometry.py:93-112
    pg = from_geojson(PARIS_4326)
    x, y = pg.xy()
    tx, ty = transform_coords(x, y, 4326, 3857)
    exp = np.asarray(PARIS_3857)
    assert np.allclose(tx, exp[:, 0], atol=1e-6)
    assert np.allclose(ty, exp[:, 1], atol=1e-6)


def test_transform_3857_roundtrip():
    lon = np.array([2.295279, -60.0, 27.56])
    lat = np.array([48.860081, -32.0, 53.9])
    x, y = transform_coords(lon, lat, 4326, 3857)
    lon2, lat2 = transform_coords(x, y, 3857, 4326)
    assert np.allclose(lon, lon2, atol=1e-12)
    assert np.allclose(lat, lat2, atol=1e-12)


def test_transform_utm_known_point():
    # UTM zone 31N, Eiffel Tower vicinity.  Value cross-verified against
    # an independent Snyder (USGS) series implementation (sub-mm agreement).
    x, y = transform_coords(np.array([2.2945]), np.array([48.8584]), 4326, 32631)
    assert abs(x[0] - 448252.001) < 0.01
    assert abs(y[0] - 5411954.910) < 0.01
    lon, lat = transform_coords(x, y, 32631, 4326)
    assert np.allclose([lon[0], lat[0]], [2.2945, 48.8584], atol=1e-9)


def test_transform_utm_south():
    x, y = transform_coords(np.array([-60.0]), np.array([-32.0]), 4326, 32721)
    lon, lat = transform_coords(x, y, 32721, 4326)
    assert np.allclose([lon[0], lat[0]], [-60.0, -32.0], atol=1e-9)
    assert y[0] > 0  # false northing applied


def test_transform_aea_proj4_roundtrip():
    # the reference's custom-CRS crop: tests/test_raster.py:489-495
    aea = "+proj=aea +lat_0=-32 +lon_0=-60 +lat_1=-5 +lat_2=-42 +x_0=0 +y_0=0 +ellps=aust_SA +units=m +no_defs +type=crs"
    lon = np.array([-58.3, -60.0, -65.5])
    lat = np.array([-34.6, -32.0, -20.0])
    x, y = transform_coords(lon, lat, 4326, aea)
    lon2, lat2 = transform_coords(x, y, aea, 4326)
    assert np.allclose(lon, lon2, atol=1e-9)
    assert np.allclose(lat, lat2, atol=1e-9)
    # at the projection origin x should be ~0
    assert abs(x[1]) < 1e-6


def test_bounds():
    # reference Feature.bounds (gdal.py:961-962)
    assert geom_bounds(from_geojson(PARIS_4326)) == (2.291867, 48.856723, 2.296872, 48.860081)


# --- affine / pixel math ------------------------------------------------


def test_values_by_points_pixel_math():
    # reference goldens: tests/test_raster.py:648-668.  Raster 3x5
    # (h=3,w=5), values 1..15 row-major, bounds [(0,0),(5,3)] epsg 4326.
    t = transform_from_bounds(0, 0, 5, 3, 5, 3)
    assert t == (1.0, 0.0, 0.0, 0.0, -1.0, 3.0)
    img = np.arange(1, 16).reshape(3, 5)
    cases = [
        ((0, 0), None),  # on min-y edge -> row 3 (outside)
        ((-1, -1), None),
        ((0, 0.1), 11),
        ((0.2, 2.5), 1),
        ((2.9, 4.9), None),
        ((3, 4.9), None),
        ((2.9, 5), None),
        ((3, 5), None),
        ((10, 10), None),
    ]
    xs = np.array([c[0][0] for c in cases], dtype=float)
    ys = np.array([c[0][1] for c in cases], dtype=float)
    col, row = pixel_of(t, xs, ys)
    inb = (col >= 0) & (col < 5) & (row >= 0) & (row < 3)
    for i, (_, exp) in enumerate(cases):
        if exp is None:
            assert not inb[i], i
        else:
            assert inb[i] and img[row[i], col[i]] == exp, i


def test_snap_bbox_to_grid():
    # reference fast_warp_as_array semantics (gdal.py:769-777): floor
    # min corner, ceil max corner on the pixel grid, y flipped.
    t = (10.0, 0.0, 100.0, 0.0, -10.0, 500.0)
    col0, row0, col1, row1, sminx, sminy, smaxx, smaxy = snap_bbox_to_grid(t, 115.0, 443.0, 167.0, 488.0)
    assert (col0, row0, col1, row1) == (1, 1, 7, 6)
    assert (sminx, sminy, smaxx, smaxy) == (110.0, 440.0, 170.0, 490.0)


def test_bounds_from_transform():
    t = (10.0, 0.0, 100.0, 0.0, -10.0, 500.0)
    assert bounds_from_transform(t, 20, 30) == (100.0, 200.0, 300.0, 500.0)
    x, y = apply_transform(t, 0, 0)
    assert (x, y) == (100.0, 500.0)


# --- PIP ---------------------------------------------------------------


def test_pip_square_with_hole():
    gj = {
        "type": "Polygon",
        "coordinates": [
            [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
            [[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]],
        ],
    }
    pg = from_geojson(gj)
    px = np.array([0.5, 2.0, 3.5, 5.0, 2.0])
    py = np.array([0.5, 2.0, 3.5, 2.0, 0.5])
    got = points_in_packed(px, py, pg)
    assert got.tolist() == [True, False, True, False, True]


def test_pip_multipolygon():
    gj = {
        "type": "MultiPolygon",
        "coordinates": [
            [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]],
            [[[10, 10], [12, 10], [12, 12], [10, 12], [10, 10]]],
        ],
    }
    pg = from_geojson(gj)
    got = points_in_packed(np.array([1.0, 11.0, 5.0]), np.array([1.0, 11.0, 5.0]), pg)
    assert got.tolist() == [True, True, False]


def test_pip_matches_bruteforce_random():
    # property test (SURVEY.md §5d): vectorized PIP == scalar brute force
    rng = np.random.default_rng(42)
    ring_pts = rng.uniform(0, 10, size=(7, 2))
    # make a star-shaped (non-convex, simple) polygon by angle sort
    ctr = ring_pts.mean(axis=0)
    ang = np.arctan2(ring_pts[:, 1] - ctr[1], ring_pts[:, 0] - ctr[0])
    ring_sorted = ring_pts[np.argsort(ang)]
    coords = np.vstack([ring_sorted, ring_sorted[:1]])
    gj = {"type": "Polygon", "coordinates": [coords.tolist()]}
    pg = from_geojson(gj)
    px = rng.uniform(-1, 11, 500)
    py = rng.uniform(-1, 11, 500)
    got = points_in_packed(px, py, pg)

    def brute(x, y):
        inside = False
        for i in range(len(coords) - 1):
            x1, y1 = coords[i]
            x2, y2 = coords[i + 1]
            if (y1 > y) != (y2 > y) and x < x1 + (x2 - x1) * (y - y1) / (y2 - y1):
                inside = not inside
        return inside

    exp = np.array([brute(x, y) for x, y in zip(px, py)])
    assert np.array_equal(got, exp)


# --- cells ---------------------------------------------------------------


def test_cell_id_arithmetic_matches_sql_form(spark):
    """The geom.cells SQL builders, evaluated by Spark, equal the NumPy
    codec: point ids (cell_id), bbox covers (cover_bbox) and reporting
    cells at fixed levels, and covers at per-row levels (bbox_level_sql,
    n inline or from a column) — at +-180/+-90, on exact cell edges and
    for a bbox whose width equals the cell size.  Where the per-row
    level clamps it equals the formula of
    test_adaptive_level_cover_bound_property; elsewhere its cover is
    <= 2x2 cells.  Levels outside [0, MAX_RES] are rejected."""
    import math

    from gdal_boots_spark.geom import cells

    e = 360.0 / 512  # level-9 x cell edge (y cells are e / 2)
    lons = [-180.0, 180.0, -179.999, 179.999, 0.0, 27.5, -180.0 + 7 * e, e]
    lats = [-90.0, 90.0, -89.999, 89.999, 0.0, 53.9, -90.0 + 7 * e / 2, e / 2]
    pts = spark.createDataFrame([(x, y) for x in lons for y in lats], "x double, y double")
    for res in (0, 1, 9, 12, cells.MAX_RES):
        got = pts.selectExpr("x", "y", f"{cells.cell_id_sql('x', 'y', res)} AS cid").collect()
        exp = cell_id(np.array([r.x for r in got]), np.array([r.y for r in got]), res)
        assert [r.cid for r in got] == exp.tolist(), res
    for bad in (-1, cells.MAX_RES + 1, 30):
        with pytest.raises(ValueError, match="res must be in"):
            cells.cell_id_sql("x", "y", bad)
        with pytest.raises(ValueError, match="res must be in"):
            cells.cover_explode_sql("a", "b", "c", "d", bad)

    boxes = [
        (-180.0, -90.0, 180.0, 90.0),  # the whole plane: clamps to lo
        (0.0, 0.0, 40.0, 20.0),  # clamps to lo
        (-180.0, -90.0, -180.0 + e, -90.0 + e / 2),  # one level-9 cell
        (e, e / 2, 2 * e, e),  # width == cell size, on cell edges
        (26.0, 53.0, 29.0, 55.0),
        (179.9, 89.9, 180.0, 90.0),  # clamps to hi
        (27.3, 53.9, 27.3, 53.9),  # a point: clamps to hi
    ]
    bb = spark.createDataFrame(
        [(i, *b) for i, b in enumerate(boxes)], "i int, minx double, miny double, maxx double, maxy double"
    )
    box = ("minx", "miny", "maxx", "maxy")

    def covers(df, level, n=None):
        s1, s2, cid = cells.cover_explode_sql(*box, level, n)
        out = {}
        for r in df.selectExpr("*", *s1).selectExpr("*", *s2).selectExpr("i", f"{cid} AS cid").collect():
            out.setdefault(r.i, []).append(r.cid)
        return {i: sorted(v) for i, v in out.items()}

    for res in (0, 3, 9, 12):
        keep = [i for i, b in enumerate(boxes) if len(cover_bbox(*b, res)) <= 4096]  # collectable
        exp = {i: sorted(cover_bbox(*boxes[i], res).tolist()) for i in keep}
        assert covers(bb.where(f"i IN ({', '.join(map(str, keep))})"), res) == exp, res

    lo, hi = 5, 9
    lv = bb.selectExpr("*", f"{cells.bbox_level_sql(*box, lo, hi)} AS _lvl")
    levels = {r.i: r._lvl for r in lv.collect()}
    exp = {i: sorted(cover_bbox(*b, levels[i]).tolist()) for i, b in enumerate(boxes)}
    assert covers(lv, "_lvl") == exp
    assert covers(lv.selectExpr("*", f"{cells.grid_n_sql('_lvl')} AS _n"), "_lvl", "_n") == exp
    clamped = 0
    for i, (minx, miny, maxx, maxy) in enumerate(boxes):
        raw = int(math.floor(math.log2(min(360.0 / max(maxx - minx, 1e-12), 180.0 / max(maxy - miny, 1e-12)))))
        if not lo <= raw <= hi:
            clamped += 1
            assert levels[i] == max(lo, min(hi, raw)), boxes[i]
        else:
            assert lo <= levels[i] <= hi and len(exp[i]) <= 4, boxes[i]
    assert clamped == 4

    pairs = bb.selectExpr("minx AS ax", "miny AS ay").crossJoin(bb.selectExpr("minx AS bx", "miny AS by"))
    for res in (0, 9, 12):
        rep = cells.reporting_cell_sql(("ax", "bx"), ("ay", "by"), res)
        got = pairs.selectExpr("GREATEST(ax, bx) AS x", "GREATEST(ay, by) AS y", f"{rep} AS cid").collect()
        assert [r.cid for r in got] == cell_id(
            np.array([r.x for r in got]), np.array([r.y for r in got]), res
        ).tolist()


def test_vectorized_cover_matches_sql_builders(spark):
    """The NumPy twins of the per-row cell SQL, over 2,000 seeded bboxes
    (points, boxes clamped at the antimeridian and the poles, small boxes
    and boxes wider than 2x2 cells at ``lo``), equal what Spark computes
    from the SQL builders: bbox_level (bbox_level_sql), cover_cells
    (cover_explode_sql at the per-row level: same rows in the same
    order) and reporting_cell (reporting_cell_sql over box pairs).
    window_cover equals the per-bbox, per-level cover_bbox loop."""
    from gdal_boots_spark.geom import cells

    rng = np.random.default_rng(18)
    k = 500
    cx, cy = rng.uniform(-180.0, 180.0, 4 * k), rng.uniform(-90.0, 90.0, 4 * k)
    cx[:8] = [-180.0, 180.0, 0.0, -180.0, 180.0, 90.0, 45.0, -45.0]
    cy[:8] = [-90.0, 90.0, 0.0, 90.0, -90.0, 0.0, 90.0, -90.0]
    w = np.concatenate([
        np.zeros(k),  # points
        10.0 ** rng.uniform(-4.0, 0.7, k),  # small boxes
        rng.uniform(0.5, 8.0, k),  # clamped at +-180 / +-90 (centres moved to an edge below)
        rng.uniform(12.0, 60.0, k),  # wider than 2x2 level-6 cells
    ])
    h = w * rng.uniform(0.3, 1.0, 4 * k)
    edge = slice(2 * k, 3 * k)
    cx[edge] = np.where(rng.random(k) < 0.5, rng.choice([-180.0, 180.0], k), cx[edge])
    cy[edge] = np.where(rng.random(k) < 0.5, rng.choice([-90.0, 90.0], k), cy[edge])
    box = np.column_stack([cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2])
    lo, hi = 6, 10
    names = ("minx", "miny", "maxx", "maxy")
    bb = spark.createDataFrame(
        [(i, *map(float, b)) for i, b in enumerate(box)], "i long, minx double, miny double, maxx double, maxy double"
    )

    lv = bb.selectExpr("*", f"{cells.bbox_level_sql(*names, lo, hi)} AS _lvl")
    got = lv.select("_lvl").collect()
    level = cells.bbox_level(*box.T, lo, hi)
    assert level.dtype == np.int64 and [r._lvl for r in got] == level.tolist()
    assert set(level.tolist()) == set(range(lo, hi + 1))

    s1, s2, cid = cells.cover_explode_sql(*names, "_lvl")
    got = lv.selectExpr("*", *s1).selectExpr("*", *s2).selectExpr("i", f"{cid} AS cid").collect()
    row, cover = cells.cover_cells(*box.T, level)
    assert row.dtype == cover.dtype == np.int64
    assert [(r.i, r.cid) for r in got] == list(zip(row.tolist(), cover.tolist()))
    assert np.bincount(row).max() > 4 and len(got) > 4 * k

    partner = rng.permutation(4 * k)
    pairs = spark.createDataFrame(
        [(float(box[i, 0]), float(box[i, 1]), float(box[j, 0]), float(box[j, 1]), int(level[i]))
         for i, j in enumerate(partner)],
        "ax double, ay double, bx double, by double, _lvl int",
    )
    got = pairs.selectExpr(f"{cells.reporting_cell_sql(('ax', 'bx'), ('ay', 'by'), '_lvl')} AS cid").collect()
    exp = cells.reporting_cell((box[:, 0], box[partner, 0]), (box[:, 1], box[partner, 1]), level)
    assert [r.cid for r in got] == exp.tolist()

    row, cover = cells.window_cover(*box[k:2 * k].T, lo, hi)
    loop = [(i, c) for i, b in enumerate(box[k:2 * k]) for lvl in range(lo, hi + 1) for c in cover_bbox(*b, lvl)]
    assert list(zip(row.tolist(), cover.tolist())) == loop


def test_level_for_edge_matches_inline_formulas():
    """geom.cells.level_for_edge equals the inline floor-log2 level
    formulas it replaced (their 1e-9/1e-12 edge floors all clip to
    MAX_RES), for the 360- and 180-degree spans."""
    from gdal_boots_spark.geom.cells import MAX_RES, level_for_edge

    edges = [None, 0.0, -1.0, 1e-13, 1e-12, 1e-9, 1e-6, 0.0123, 0.7, 1.0, 45.0, 180.0, 360.0, 1e4]
    for edge in edges:
        for span, eps in ((360.0, 1e-9), (180.0, 1e-12)):
            old = int(np.clip(np.floor(np.log2(span / max(edge or 0.0, eps))), 0, MAX_RES))
            assert level_for_edge(edge, span) == old, (edge, span)


def test_cell_format_in_one_module():
    """Only geom/cells.py spells out the cell-id format (level * 2^58 +
    ix * 2^29 + iy), and the deleted Column-tree / per-row Python twins
    of its SQL builders stay deleted."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "gdal_boots_spark"
    fmt = re.compile(r"288230376151711744|536870912|2\s*\*\*\s*(?:58|29)\b|<<\s*(?:58|29)\b")
    twin = re.compile(r"^\s*def\s+(?:cell_id_col|point_xy_native|cells_cover_udf)\b", re.M)
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        text = path.read_text()
        if rel != "geom/cells.py":
            bad += [f"{rel}: {m.group(0)}" for m in fmt.finditer(text)]
        bad += [f"{rel}: {m.group(0).strip()}" for m in twin.finditer(text)]
    assert not bad, bad


def test_tile_range_in_one_module():
    """Only sources/tiles.py maps pixel intervals to tiles: no other
    module divides by a grid's tile_w/tile_h or explodes a sequence of
    tile indices, and the deleted per-module copies stay deleted."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "gdal_boots_spark"
    div = re.compile(r"/\s*[\w.]*\.tile_[wh]\b")
    seq = re.compile(r"\bsequence\(")
    gone = re.compile(r"^\s*def\s+(?:_tile_range|vertex_pixel_bbox)\b", re.M)
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        text = path.read_text()
        if rel != "sources/tiles.py":
            bad += [f"{rel}: {m.group(0)}" for m in div.finditer(text)]
            if "tile_x" in text:
                bad += [f"{rel}: {m.group(0)}" for m in seq.finditer(text)]
        bad += [f"{rel}: {m.group(0).strip()}" for m in gone.finditer(text)]
    assert not bad, bad


def test_operators_decode_once():
    """Operators decode GeoJSON only through the one mapInArrow pass
    (functions.geometry_fns.decode_geojson): no module under operators/
    names the row-preserving scalar geojson_decode_udf or imports the
    per-row from_geojson (crop.py alone decodes its one literal cutline
    geometry), and the deleted scalar bounds UDF, the span path's private
    decoder and the driver dim decoder stay deleted."""
    import ast
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    ops = root / "gdal_boots_spark" / "operators"
    gone = re.compile(r"^\s*def\s+(?:geom_bounds_udf|_decode_bounds|_collect_polys)\b", re.M)
    bad = [p.name for p in sorted(ops.rglob("*.py")) if "geojson_decode_udf" in p.read_text()]
    for path in sorted(ops.rglob("*.py")):
        if path.name != "crop.py":
            bad += [
                f"{path.name}: imports from_geojson"
                for node in ast.walk(ast.parse(path.read_text()))
                if isinstance(node, ast.ImportFrom) and any(a.name == "from_geojson" for a in node.names)
            ]
    for path in sorted(root.rglob("*.py")):
        if not any(part.startswith(".") for part in path.relative_to(root).parts):
            bad += [f"{path.relative_to(root)}: {m.group(0).strip()}" for m in gone.finditer(path.read_text())]
    assert not bad, bad


def test_embedding_kernels_in_one_module():
    """The embedding operators share one kernel set in operators/ann.py:
    no module under operators/ builds vectors row by row with
    ``list(pdf[...])``, and the sign-LSH bucketizer, the pair scorer and
    their arithmetic (the bucket code and the row-wise cosine) are each
    written once, in ann.py."""
    import pathlib
    import re

    ops = pathlib.Path(__file__).resolve().parents[1] / "gdal_boots_spark" / "operators"
    once = {
        "bucketizer": re.compile(r"^\s*def\s+(?:_lsh_buckets|lsh_bucketize)\b", re.M),
        "pair scorer": re.compile(r"^\s*def\s+(?:_score_pairs|pair_cosine)\b", re.M),
        "bucket code": re.compile(r"\(1 << np\.arange\("),
        "row-wise cosine": re.compile(r"\)\.sum\(axis=1\) / \("),
    }
    found = {name: [] for name in once}
    bad = []
    for path in sorted(ops.rglob("*.py")):
        text = path.read_text()
        if "list(pdf[" in text:
            bad.append(f"{path.name}: list(pdf[")
        for name, pat in once.items():
            found[name] += [path.name] * len(pat.findall(text))
    assert not bad, bad
    assert found == {
        "bucketizer": ["ann.py", "ann.py"],
        "pair scorer": ["ann.py", "ann.py"],
        "bucket code": ["ann.py"],
        "row-wise cosine": ["ann.py"],
    }, found


def test_intersects_polygons_equals_reference():
    """The one exact refine, geom.pip.intersects_polygons, over a mixed
    batch read from a SLICED Arrow struct column (arrow_probes): Points,
    a MultiPoint, a line, polygons, GeometryCollections and payload-free
    rectangles, each against two polygons, equal the per-pair reference
    geometry_intersects_polygon; Point probes built from x/y
    (point_probes) equal points_in_polygon bit for bit."""
    import pyarrow as pa

    from gdal_boots_spark.functions.geometry_fns import arrow_probes
    from gdal_boots_spark.geom.pip import (
        geometry_intersects_polygon,
        intersects_polygons,
        point_probes,
        points_in_polygon,
    )

    def ring(*pts):
        return {"type": "Polygon", "coordinates": [[list(p) for p in pts + pts[:1]]]}

    def box(x0, y0, x1, y1):
        return ring((x0, y0), (x1, y0), (x1, y1), (x0, y1))

    def line(*pts):
        return {"type": "LineString", "coordinates": [list(p) for p in pts]}

    def gc(*geoms):
        return {"type": "GeometryCollection", "geometries": list(geoms)}

    polys = {10: from_geojson(ring((0, 0), (10, 0), (5, 8))),
             11: from_geojson(ring((20, 0), (26, 0), (26, 2), (22, 2), (22, 6), (20, 6)))}
    far = {"type": "Point", "coordinates": [50.0, 50.0]}
    probes = [
        {"type": "Point", "coordinates": [5.0, 2.0]},
        far,
        {"type": "MultiPoint", "coordinates": [[50.0, 50.0], [21.0, 5.0]]},
        line((-1.0, 1.0), (30.0, 1.0)),
        box(-5.0, -5.0, 15.0, 15.0),
        gc(box(-1.0, -1.0, 11.0, 9.0), far),
        gc(line((23.0, -1.0), (23.0, 3.0)), box(40.0, 40.0, 41.0, 41.0)),
        gc(far, line((60.0, 60.0), (61.0, 61.0))),
    ]
    rects = [(4.0, 7.0, 6.0, 9.0), (21.0, 3.0, 21.5, 3.5), (12.0, 12.0, 13.0, 13.0)]
    geoms = [from_geojson(g) for g in probes] + [from_geojson(box(*r)) for r in rects]
    n_real = len(probes)
    rows = [(g, p) for g in range(len(geoms)) for p in polys]
    exp = [geometry_intersects_polygon(geoms[g], polys[p]) for g, p in rows]

    def col(field, t, blank_as):
        vals = [blank_as if g >= n_real else getattr(geoms[g], field) for g, _ in rows]
        vals = [None if v is None else list(v) for v in vals]
        return pa.array([[9]] + vals, pa.list_(t))  # one leading row, sliced off below

    struct = pa.StructArray.from_arrays(
        [pa.array([1] + [geoms[g].gtype for g, _ in rows], pa.int8()),
         col("coords", pa.float64(), []), col("ring_offsets", pa.int32(), []), col("part_offsets", pa.int32(), []),
         col("part_types", pa.int8(), None), col("child_offsets", pa.int32(), None)],
        names=["gtype", "coords", "ring_offsets", "part_offsets", "part_types", "child_offsets"],
    ).slice(1)
    bbox = [pa.array([rects[g - n_real][k] if g >= n_real else 0.0 for g, _ in rows]) for k in range(4)]
    rect = pa.array([g >= n_real for g, _ in rows])
    pids = np.array([p for _, p in rows])
    def polygon_of(p, i):
        return polys[p].coords, polys[p].ring_offsets

    got = intersects_polygons(pids, arrow_probes(struct, *bbox, rect), polygon_of)
    assert got.tolist() == exp and 8 <= sum(exp) <= len(exp) - 8

    rng = np.random.default_rng(5)
    x, y = rng.uniform(19, 27, 500), rng.uniform(-1, 7, 500)
    pg = polys[11]
    got = intersects_polygons(np.full(500, 11), point_probes(x, y), lambda p, i: (pg.coords, pg.ring_offsets))
    assert np.array_equal(got, points_in_polygon(x, y, pg.coords, pg.ring_offsets)) and 50 < got.sum() < 450


def test_refine_in_one_kernel():
    """The polygon joins' exact refine is one predicate,
    geom.pip.intersects_polygons behind functions.geometry_fns.
    where_intersects: spatial_join.py and bbox_join.py run no mapInArrow
    of their own and call none of the geometry kernels directly, and
    the per-operator refine bodies they once held stay deleted."""
    import ast
    import pathlib
    import re

    ops = pathlib.Path(__file__).resolve().parents[1] / "gdal_boots_spark" / "operators"
    calls = {"mapInArrow", "points_in_polygon", "polygons_intersect", "rects_intersect_polygon", "_segment_contacts"}
    gone = re.compile(r"^\s*def\s+(?:pip_ok|poly_ok|refine|packed)\b", re.M)
    bad = []
    for name in ("spatial_join.py", "bbox_join.py"):
        text = (ops / name).read_text()
        bad += [f"{name}: {m.group(0).strip()}" for m in gone.finditer(text)]
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.Call):
                fn = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
                bad += [f"{name}:{node.lineno} calls {fn}"] * (fn in calls)
    assert not bad, bad


def test_operators_build_driver_relations_from_arrow():
    """Every relation an operator builds on the driver from Python
    values comes from a pyarrow Table: each createDataFrame call under
    operators/ takes a ``pa.table(...)`` as its data.  A Python row list
    plans ``Scan ExistingRDD`` over a PythonRDD that every execution
    re-runs in a Python worker, even when the DataFrame is memoised;
    an Arrow table plans a LocalTableScan."""
    import ast
    import pathlib

    ops = pathlib.Path(__file__).resolve().parents[1] / "gdal_boots_spark" / "operators"
    bad, calls = [], 0
    for path in sorted(ops.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "createDataFrame":
                calls += 1
                data = node.args[0] if node.args else None
                arrow = (
                    isinstance(data, ast.Call)
                    and isinstance(data.func, ast.Attribute)
                    and getattr(data.func.value, "id", None) == "pa"
                    and data.func.attr == "table"
                )
                if not arrow:
                    bad.append(f"{path.name}:{node.lineno}")
    assert calls >= 5 and not bad, bad


def test_cell_bounds_contains_point():
    cid = cell_id(np.array([27.56]), np.array([53.9]), 10)
    minlon, minlat, maxlon, maxlat = cell_bounds(cid)
    assert minlon[0] <= 27.56 < maxlon[0]
    assert minlat[0] <= 53.9 < maxlat[0]


def test_cover_bbox_and_ring():
    ids = cover_bbox(26.0, 53.0, 29.0, 55.0, 8)
    assert len(ids) == len(set(ids.tolist()))
    # every cell of the cover intersects the bbox
    minlon, minlat, maxlon, maxlat = cell_bounds(ids)
    assert (maxlon >= 26.0).all() and (minlon <= 29.0).all()
    assert (maxlat >= 53.0).all() and (minlat <= 55.0).all()
    from gdal_boots_spark.geom.cells import block, compose

    def cells_of(cid, r, box=None):
        row, lo, hi = block(np.asarray(cid, np.int64), r, box)
        return [sorted(c for a, b in zip(lo[row == i], hi[row == i]) for c in range(a, b + 1)) for i in range(len(cid))]

    ctr = int(cell_id(np.array([27.5]), np.array([54.0]), 8)[0])
    _, (ix,), (iy,) = cell_decode([ctr])
    r1, r0 = cells_of([ctr, ctr], [1, 0])
    assert r1 == sorted(compose(8, ix + dx, iy + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    assert r0 == [ctr]
    # the antimeridian clamps (kNN's distance is planar: no wrap) and so
    # do the poles; a corner cell keeps a quarter of its block
    n = 1 << 8
    east, north_pole, corner = compose(8, n - 1, 100), compose(8, 7, n - 1), compose(8, 0, 0)
    got = cells_of([east, north_pole, corner], 2)
    assert got[0] == sorted(compose(8, x, y) for x in (n - 3, n - 2, n - 1) for y in range(98, 103))
    assert got[1] == sorted(compose(8, x, y) for x in range(5, 10) for y in (n - 3, n - 2, n - 1))
    assert got[2] == sorted(compose(8, x, y) for x in range(3) for y in range(3))
    # a box clips the block; a block outside the box has no range
    assert cells_of([ctr, corner], 1, (ix, iy, ix + 5, iy + 5)) == [
        sorted(compose(8, x, y) for x in (ix, ix + 1) for y in (iy, iy + 1)), []
    ]


def test_sorted_points_block_spans():
    """block_spans lists, for each probe cell and radius, exactly the
    index points whose cells lie in the probe's block, each once."""
    from gdal_boots_spark.geom.cells import block_spans, runs, sorted_points

    rng = np.random.default_rng(5)
    x, y = rng.uniform(26, 29, 500), rng.uniform(53, 55, 500)
    index = sorted_points(x, y, 9)
    assert (np.diff(index.cell) >= 0).all() and sorted(index.item.tolist()) == list(range(500))
    _, bix, biy = cell_decode(cell_id(x, y, 9))
    probes = cell_id(np.array([27.0, 26.0, 120.0]), np.array([54.0, 53.0, -60.0]), 9)
    radii = np.array([1, 3, 2])
    row, start, count = block_spans(index, probes, radii)
    q, j = np.repeat(row, count), runs(start, count)
    _, pix, piy = cell_decode(probes)
    for i in range(3):
        near = np.maximum(abs(bix - pix[i]), abs(biy - piy[i])) <= radii[i]
        assert sorted(index.item[j[q == i]].tolist()) == np.flatnonzero(near).tolist(), i
    assert count[row == 2].sum() == 0 and count.sum() > 0


def _rect_pg(minx, miny, maxx, maxy):
    gj = {"type": "Polygon", "coordinates": [[
        [minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]]]}
    return from_geojson(json.dumps(gj))


def test_polygons_intersect_touch_semantics():
    """GEOS Intersects semantics: boundary contact counts (ADVICE r1)."""
    from gdal_boots_spark.geom.pip import polygons_intersect

    a = _rect_pg(0.0, 0.0, 1.0, 1.0)
    # shared full edge (adjacent parcels)
    assert polygons_intersect(a, _rect_pg(1.0, 0.0, 2.0, 1.0))
    # collinear partial edge overlap
    assert polygons_intersect(a, _rect_pg(1.0, 0.25, 2.0, 0.75))
    # corner-touch at a single shared vertex
    assert polygons_intersect(a, _rect_pg(1.0, 1.0, 2.0, 2.0))
    # vertex of one on the edge interior of the other
    assert polygons_intersect(a, _rect_pg(1.0, 0.5, 2.0, 1.5))
    # edge-through-vertex: triangle whose apex touches a's edge
    tri = from_geojson(json.dumps({"type": "Polygon", "coordinates": [[
        [1.0, 0.5], [2.0, 0.0], [2.0, 1.0], [1.0, 0.5]]]}))
    assert polygons_intersect(a, tri)
    # clearly disjoint stays false
    assert not polygons_intersect(a, _rect_pg(1.1, 0.0, 2.0, 1.0))
    # proper overlap still true
    assert polygons_intersect(a, _rect_pg(0.5, 0.5, 1.5, 1.5))
    # containment (no boundary contact) still true via vertex containment
    assert polygons_intersect(a, _rect_pg(0.25, 0.25, 0.75, 0.75))


def test_lcc_snyder_golden_and_invariants():
    """+proj=lcc (VERDICT r2 missing item 4): matches Snyder's published
    numerical example (Working Manual p.296-297, Clarke 1866) to 0.1 m,
    round-trips to 1e-9 deg, and holds the conformality invariant
    (scale factor == 1 along BOTH standard parallels) — an independent
    correctness check needing no external library."""
    import numpy as np

    from gdal_boots_spark.geom.crs import LambertConformalProj, transform_coords

    lcc = LambertConformalProj(lat_0=23, lon_0=-96, lat_1=33, lat_2=45, ellps="clrk66")
    assert round(lcc.n, 7) == 0.6304965 and round(lcc.F, 7) == 1.9523837
    x, y = lcc.forward(-75.0, 35.0)
    assert abs(float(x) - 1894410.9) < 0.1 and abs(float(y) - 1564649.5) < 0.1
    lon, lat = lcc.inverse(x, y)
    assert abs(float(lon) + 75.0) < 1e-9 and abs(float(lat) - 35.0) < 1e-9

    w = LambertConformalProj(lat_0=40, lon_0=10, lat_1=35, lat_2=55, x_0=2000000, y_0=1000000)
    for phi in (35.0, 55.0):
        dlam = 1e-6
        x1, y1 = w.forward(10.0, phi)
        x2, y2 = w.forward(10.0 + dlam, phi)
        s = np.sin(np.radians(phi))
        arc = w.a * np.cos(np.radians(phi)) / np.sqrt(1 - w.e2 * s * s) * np.radians(dlam)
        assert abs(float(np.hypot(x2 - x1, y2 - y1)) / arc - 1.0) < 1e-7, phi

    # proj4 dispatch + batch transform + single-parallel form
    p4 = "+proj=lcc +lat_0=40 +lon_0=10 +lat_1=35 +lat_2=55 +x_0=2000000 +y_0=1000000 +ellps=WGS84"
    lons = np.array([8.0, 10.0, 14.5])
    lats = np.array([36.0, 45.0, 52.0])
    px, py = transform_coords(lons, lats, 4326, p4)
    bx, by = transform_coords(px, py, p4, 4326)
    np.testing.assert_allclose(bx, lons, atol=1e-9)
    np.testing.assert_allclose(by, lats, atol=1e-9)
    one = LambertConformalProj(lat_0=45, lon_0=0, lat_1=45)
    ox, oy = one.inverse(*one.forward(3.0, 47.0))
    assert abs(float(ox) - 3.0) < 1e-9 and abs(float(oy) - 47.0) < 1e-9


def test_crs_lcc_vs_oracle(spark):
    """Driver query crs_lcc == the Snyder-in-SQL DuckDB oracle (cm
    rounding absorbs cross-engine libm ulps, the crs_3857 contract)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_ORACLE, compare_to_oracle

    df = entrymod.all_queries()["crs_lcc"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["crs_lcc"], SF_ORACLE)


def test_conic_projections_reject_zero_cone_constant():
    """ADVICE r3: lcc without +lat_1 (n = sin(0) = 0) and aea with
    symmetric parallels must raise a readable ValueError, not
    ZeroDivisionError deep in the constructor."""
    import pytest

    from gdal_boots_spark.geom.crs import AlbersProj, LambertConformalProj, _projector

    with pytest.raises(ValueError, match="lcc"):
        LambertConformalProj(lat_0=40, lon_0=10, lat_1=0)
    with pytest.raises(ValueError, match="lcc"):
        _projector("+proj=lcc +lat_0=40 +lon_0=10")
    with pytest.raises(ValueError, match="aea"):
        AlbersProj(lat_0=0, lon_0=0, lat_1=-30, lat_2=30)
    with pytest.raises(ValueError, match="aea"):
        _projector("+proj=aea +lat_0=0 +lon_0=0")
    # lat_1=0 with a distinct lat_2 is a VALID lcc cone (n != 0)
    p = LambertConformalProj(lat_0=20, lon_0=0, lat_1=0, lat_2=45)
    x, y = p.forward(5.0, 30.0)
    lon, lat = p.inverse(x, y)
    assert abs(lon - 5.0) < 1e-9 and abs(lat - 30.0) < 1e-9


def test_geometry_collection_roundtrip_reference_golden():
    """Heterogeneous GeometryCollection round-trips the exact nesting —
    the reference golden (test_geometry.py:135-179: Polygon-with-hole +
    MultiLineString collection, builder -> to_geojson identity)."""
    from gdal_boots_spark.geom.packed import bounds, collection_children, from_geojson, to_geojson

    gc = {
        "type": "GeometryCollection",
        "geometries": [
            {
                "type": "Polygon",
                "coordinates": [
                    [
                        [123.912278634879272, -9.949630185704605],
                        [124.808855631265786, -9.945983073671636],
                        [124.65841639764534, -10.631108579799987],
                        [124.419945459363774, -10.627864806741233],
                        [124.41738744984022, -10.63329355209617],
                        [124.384577597635158, -10.780015859712114],
                        [124.378588059436339, -10.807524785302114],
                        [124.380592550665611, -10.810794106555676],
                        [124.598579474816674, -10.901208572619954],
                        [124.590119413296236, -10.939783777866964],
                        [123.91517943462776, -10.942551939489967],
                        [123.912278634879272, -9.949630185704605],
                    ],
                    [
                        [124.10718673231743, -10.547923283993253],
                        [123.983747968626105, -10.516935524633432],
                        [123.944589830279781, -10.689682964321847],
                        [123.959685665601114, -10.694799636598699],
                        [124.149827985925143, -10.743024910106957],
                        [124.1550455134511, -10.743005563201773],
                        [124.162079987947877, -10.716424523387417],
                        [124.195545675010933, -10.570104692584813],
                        [124.10718673231743, -10.547923283993253],
                    ],
                ],
            },
            {
                "type": "MultiLineString",
                "coordinates": [
                    [[123.91227863487927, -9.949630185704605], [124.10718673231743, -10.547923283993253]],
                    [[124.10718673231743, -10.547923283993253], [124.16207998794787, -10.716424523387417]],
                ],
            },
        ],
    }
    pg = from_geojson(gc)
    assert pg.gtype == 7
    assert to_geojson(pg) == gc
    # children are standalone views over the shared flat buffers
    kids = collection_children(pg)
    assert [to_geojson(k) for k in kids] == gc["geometries"]
    # bbox spans all children
    minx, miny, maxx, maxy = bounds(pg)
    assert minx <= 123.92 and maxx >= 124.8 and miny <= -10.94 and maxy >= -9.95


def test_geometry_collection_all_child_types_and_guards():
    from gdal_boots_spark.geom.packed import from_geojson, to_geojson

    gc = {
        "type": "GeometryCollection",
        "geometries": [
            {"type": "Point", "coordinates": [1.5, 2.5]},
            {"type": "MultiPoint", "coordinates": [[3.0, 4.0], [5.0, 6.0]]},
            {"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 1.0]]},
            {
                "type": "MultiPolygon",
                "coordinates": [
                    [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]],
                    [[[2.0, 2.0], [3.0, 2.0], [3.0, 3.0], [2.0, 2.0]]],
                ],
            },
        ],
    }
    assert to_geojson(from_geojson(gc)) == gc
    # homogeneous collections still flatten to the operator-native MultiX
    assert from_geojson(
        {"type": "GeometryCollection", "geometries": [
            {"type": "Polygon", "coordinates": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]}]}
    ).gtype == 6
    import pytest as _pytest

    with _pytest.raises(ValueError, match="nested"):
        from_geojson({"type": "GeometryCollection", "geometries": [gc]})


def test_tmerc_general_projection():
    """General +proj=tmerc: EPSG Guidance Note 7-2 OSGB worked example
    (British National Grid, airy ellipsoid, k_0/lat_0/x_0/y_0 all
    non-default): lat 50d30'N lon 0d30'E -> E 577274.99 N 69740.50;
    exact round-trip; UTM equivalence with the zone form."""
    import numpy as np

    from gdal_boots_spark.geom.crs import _projector

    bng = "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 +y_0=-100000 +ellps=airy"
    fwd, inv = _projector(bng)
    x, y = fwd(0.5, 50.5)
    assert abs(float(x) - 577274.99) < 0.02 and abs(float(y) - 69740.50) < 0.02
    lon, lat = inv(x, y)
    assert abs(float(lon) - 0.5) < 1e-9 and abs(float(lat) - 50.5) < 1e-9
    xo, yo = fwd(-2.0, 49.0)
    assert abs(float(xo) - 400000.0) < 1e-6 and abs(float(yo) + 100000.0) < 1e-6
    f1, _ = _projector("+proj=tmerc +lat_0=0 +lon_0=15 +k=0.9996 +x_0=500000 +ellps=WGS84")
    f2, _ = _projector("+proj=utm +zone=33")
    a1 = f1(np.array([14.0, 16.2]), np.array([48.0, 52.5]))
    a2 = f2(np.array([14.0, 16.2]), np.array([48.0, 52.5]))
    assert np.allclose(a1, a2, atol=1e-9)


def test_merc_general_projection():
    """Ellipsoidal +proj=merc: Snyder Working Manual Mercator example
    (Clarke 1866, lat 35N lon 75W, lon_0 180W -> x 11688673.7,
    y 4139145.6); exact inverse round-trip; +lat_ts scale factor."""
    import math

    import numpy as np

    from gdal_boots_spark.geom.crs import _projector

    fwd, inv = _projector("+proj=merc +lon_0=-180 +ellps=clrk66")
    x, y = fwd(-75.0, 35.0)
    assert abs(float(x) - 11688673.7) < 0.15 and abs(float(y) - 4139145.6) < 0.15
    lon, lat = inv(x, y)
    assert abs(float(lon) + 75.0) < 1e-9 and abs(float(lat) - 35.0) < 1e-9
    # +lat_ts=0 degenerates to k0=1 (identical to the bare form)
    f2, _ = _projector("+proj=merc +lon_0=-180 +lat_ts=0 +ellps=clrk66")
    assert np.allclose(f2(-75.0, 35.0), (x, y))
    # at lat_ts the parallel is true-to-scale: dx/dlon == cos(ts)*N(ts)
    f3, _ = _projector("+proj=merc +lat_ts=45 +ellps=WGS84")
    a, rf = 6378137.0, 298.257223563
    e2 = (2 - 1 / rf) / rf
    ts = math.radians(45.0)
    expected = math.cos(ts) * a / math.sqrt(1 - e2 * math.sin(ts) ** 2) * math.radians(1.0)
    x1, _ = f3(10.0, 45.0)
    x2, _ = f3(11.0, 45.0)
    assert abs((float(x2) - float(x1)) - expected) < 1e-6


def test_stere_projection():
    """+proj=stere (round 4): polar ellipsoidal (EPSG:3413/3031) and
    oblique via the conformal sphere.  Invariants: pole fixed point,
    true scale along +lat_ts, sphere closed-form agreement
    (rho = 2 R k0 tan(pi/4 - phi/2)), local conformality, exact
    round-trips, antimeridian-safe inverse longitudes."""
    import math

    import numpy as np

    from gdal_boots_spark.geom.crs import _projector

    fwd, inv = _projector(3413)  # north polar, lat_ts=70, lon_0=-45
    x, y = fwd(0.0, 90.0)
    assert abs(float(x)) < 1e-6 and abs(float(y)) < 1e-6
    # true scale along lat_ts: dx/dlon at 70N == N(70)*cos(70) per rad
    a, rf = 6378137.0, 298.257223563
    e2 = (2 - 1 / rf) / rf
    ts = math.radians(70.0)
    per_deg = a * math.cos(ts) / math.sqrt(1 - e2 * math.sin(ts) ** 2) * math.radians(1.0)
    x1, y1 = fwd(10.0, 70.0)
    x2, y2 = fwd(10.001, 70.0)
    d = math.hypot(float(x2) - float(x1), float(y2) - float(y1)) / 0.001
    assert abs(d - per_deg) < 0.5
    rng = np.random.default_rng(3)
    lon = rng.uniform(-179.9, 179.9, 300)
    lat = rng.uniform(30, 89.9, 300)
    lo2, la2 = inv(*fwd(lon, lat))
    assert np.abs(lo2 - lon).max() < 1e-8 and np.abs(la2 - lat).max() < 1e-8
    # south polar (EPSG:3031) round-trip
    fs, is_ = _projector(3031)
    lats = rng.uniform(-89.9, -40, 300)
    lo2, la2 = is_(*fs(lon, lats))
    assert np.abs(lo2 - lon).max() < 1e-8 and np.abs(la2 - lats).max() < 1e-8
    # ellipsoidal code with e=0 equals the spherical closed form
    fsp, _ = _projector("+proj=stere +lat_0=90 +k=0.994 +R=6378137")
    xs, ys = fsp(30.0, 60.0)
    rho = 2 * 6378137 * 0.994 * math.tan(math.pi / 4 - math.radians(60) / 2)
    assert abs(math.hypot(float(xs), float(ys)) - rho) < 1e-6
    # oblique: conformality (scale isotropy) + round-trip
    fo, io = _projector("+proj=stere +lat_0=52 +lon_0=10 +k=0.9999 +x_0=155000 +y_0=463000 +ellps=WGS84")
    d = 1e-6
    lon0, lat0 = 25.0, 60.0
    x0, y0 = fo(lon0, lat0)
    xa, ya = fo(lon0 + d, lat0)
    xb, yb = fo(lon0, lat0 + d)
    phi = math.radians(lat0)
    N = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
    M = a * (1 - e2) / (1 - e2 * math.sin(phi) ** 2) ** 1.5
    k_par = math.hypot(float(xa) - float(x0), float(ya) - float(y0)) / (d * math.pi / 180 * N * math.cos(phi))
    k_mer = math.hypot(float(xb) - float(x0), float(yb) - float(y0)) / (d * math.pi / 180 * M)
    assert abs(k_par / k_mer - 1.0) < 1e-6
    lo2, la2 = io(*fo(lon, lat))
    assert np.abs(lo2 - lon).max() < 1e-7 and np.abs(la2 - lat).max() < 1e-7


def test_laea_projection():
    """+proj=laea (round 4): the EPSG Guidance Note 7-2 ETRS89-LAEA
    worked example (lat 50N lon 5E -> E 3962799.45 N 2999718.85),
    origin fixed point, polar aspects, equal-area Jacobian, exact
    round-trips."""
    import math

    import numpy as np

    from gdal_boots_spark.geom.crs import _projector

    fwd, inv = _projector(3035)
    x, y = fwd(5.0, 50.0)
    assert abs(float(x) - 3962799.45) < 0.02 and abs(float(y) - 2999718.85) < 0.02
    xo, yo = fwd(10.0, 52.0)
    assert abs(float(xo) - 4321000.0) < 1e-6 and abs(float(yo) - 3210000.0) < 1e-6
    lon, lat = inv(x, y)
    assert abs(float(lon) - 5.0) < 1e-7 and abs(float(lat) - 50.0) < 1e-7
    # equal-area: numerical Jacobian == ellipsoid area element
    a, rf = 6378137.0, 298.257222101
    e2 = (2 - 1 / rf) / rf
    d = 1e-6
    for lon0, lat0 in [(5.0, 50.0), (-20.0, 70.0), (30.0, 35.0)]:
        x0, y0 = fwd(lon0, lat0)
        xa, ya = fwd(lon0 + d, lat0)
        xb, yb = fwd(lon0, lat0 + d)
        J = abs((float(xa) - float(x0)) * (float(yb) - float(y0)) - (float(xb) - float(x0)) * (float(ya) - float(y0))) / (d * d)
        phi = math.radians(lat0)
        elem = a * a * (1 - e2) * math.cos(phi) / (1 - e2 * math.sin(phi) ** 2) ** 2 * (math.pi / 180) ** 2
        assert abs(J / elem - 1.0) < 1e-5
    rng = np.random.default_rng(4)
    lons = rng.uniform(-179.9, 179.9, 300)
    for p4, lats in [
        ("+proj=laea +lat_0=90 +lon_0=0 +ellps=WGS84", rng.uniform(20, 89.9, 300)),
        ("+proj=laea +lat_0=-90 +lon_0=0 +ellps=WGS84", rng.uniform(-89.9, -20, 300)),
        ("+proj=laea +lat_0=52 +lon_0=10 +ellps=GRS80", rng.uniform(-80, 80, 300)),
    ]:
        f, i = _projector(p4)
        lo2, la2 = i(*f(lons, lats))
        assert np.abs(lo2 - lons).max() < 1e-6 and np.abs(la2 - lats).max() < 1e-6


def test_cea_eqc_sinu_moll_projections():
    """Round-4 cylindrical/pseudocylindrical family: cea (ellipsoidal
    equal-area, EPSG:6933), eqc (plate carree), sinu (MODIS sphere via
    +R + ellipsoidal meridian arc), moll.  Fixed forms, equal-area
    Jacobians, exact round-trips, ellipsoid-override equivalence."""
    import math

    import numpy as np

    from gdal_boots_spark.geom.crs import EPSG_PROJ4, _projector

    a, rf = 6378137.0, 298.257223563
    e2 = (2 - 1 / rf) / rf
    rng = np.random.default_rng(5)
    lons = rng.uniform(-179.9, 179.9, 300)
    lats = rng.uniform(-85, 85, 300)

    # eqc: exact affine in (lon, lat)
    f, i = _projector("+proj=eqc +lat_ts=30 +lon_0=10 +ellps=WGS84")
    x, y = f(11.0, 45.0)
    assert abs(float(x) - a * math.cos(math.radians(30)) * math.radians(1.0)) < 1e-6
    assert abs(float(y) - a * math.radians(45.0)) < 1e-6
    lo2, la2 = i(*f(lons, lats))
    assert np.abs(lo2 - lons).max() < 1e-9 and np.abs(la2 - lats).max() < 1e-9

    # sinu MODIS sphere: y = R*phi, x = R*lam*cos(phi) exactly
    R = 6371007.181
    f, i = _projector(f"+proj=sinu +lon_0=0 +R={R}")
    x, y = f(1.0, 40.0)
    assert abs(float(y) - R * math.radians(40.0)) < 1e-6
    assert abs(float(x) - R * math.radians(1.0) * math.cos(math.radians(40.0))) < 1e-6
    lo2, la2 = i(*f(lons, lats))
    assert np.abs(lo2 - lons).max() < 1e-9 and np.abs(la2 - lats).max() < 1e-9

    # equal-area Jacobian for cea / sinu(ellipsoidal) / moll(sphere on a)
    d = 1e-6
    for p4, sphere in [
        ("+proj=cea +lat_ts=30 +ellps=WGS84", False),
        ("+proj=sinu +ellps=WGS84", False),
        ("+proj=moll +ellps=WGS84", True),
    ]:
        fwd, inv = _projector(p4)
        for lon0, lat0 in [(20.0, 40.0), (-60.0, -25.0)]:
            x0, y0 = fwd(lon0, lat0)
            xa, ya = fwd(lon0 + d, lat0)
            xb, yb = fwd(lon0, lat0 + d)
            J = abs(
                (float(xa) - float(x0)) * (float(yb) - float(y0))
                - (float(xb) - float(x0)) * (float(ya) - float(y0))
            ) / (d * d)
            phi = math.radians(lat0)
            if sphere:
                elem = a * a * math.cos(phi) * (math.pi / 180) ** 2
            else:
                elem = a * a * (1 - e2) * math.cos(phi) / (1 - e2 * math.sin(phi) ** 2) ** 2 * (math.pi / 180) ** 2
            assert abs(J / elem - 1.0) < 1e-4, p4
        lo2, la2 = inv(*fwd(lons, lats))
        assert np.abs(lo2 - lons).max() < 1e-6 and np.abs(la2 - lats).max() < 1e-6, p4

    # ellipsoid overrides: +a/+rf == +ellps=WGS84; epsg shortcut == proj4
    f1, _ = _projector("+proj=cea +lat_ts=30 +a=6378137 +rf=298.257223563")
    f2, _ = _projector("+proj=cea +lat_ts=30 +ellps=WGS84")
    assert np.allclose(f1(lons, lats), f2(lons, lats), atol=1e-9)
    f3, _ = _projector(6933)
    f4, _ = _projector(EPSG_PROJ4[6933])
    assert np.allclose(f3(lons, lats), f4(lons, lats), atol=0.0)
    # +a/+b pair resolves eccentricity
    b = a * (1 - 1 / rf)
    f5, _ = _projector(f"+proj=sinu +a={a} +b={b}")
    f6, _ = _projector("+proj=sinu +ellps=WGS84")
    assert np.allclose(f5(lons, lats), f6(lons, lats), atol=1e-6)


def test_projection_degenerate_params():
    """Degenerate proj4 parameters answer with a clear error (cea/eqc
    +lat_ts at a pole) or PROJ's own fold-to-k0=1 (polar stere
    +lat_ts=90) instead of 0/0."""
    import numpy as np
    import pytest

    from gdal_boots_spark.geom.crs import _projector

    with pytest.raises(ValueError, match="cea"):
        _projector("+proj=cea +lat_ts=90 +ellps=WGS84")
    with pytest.raises(ValueError, match="eqc"):
        _projector("+proj=eqc +lat_ts=90 +ellps=WGS84")
    f1, _ = _projector("+proj=stere +lat_0=90 +lat_ts=90 +ellps=WGS84")
    f2, _ = _projector("+proj=stere +lat_0=90 +k=1 +ellps=WGS84")
    assert np.allclose(f1(45.0, 70.0), f2(45.0, 70.0), atol=0.0)
    assert np.isfinite(np.asarray(f1(45.0, 70.0))).all()


def test_sterea_projection():
    """+proj=sterea (EPSG method 9809, double stereographic through the
    conformal sphere — the Dutch RD grid EPSG:28992, NOT the same as
    Snyder +proj=stere for oblique ellipsoidal cases): EPSG Guidance
    Note 7-2 Amersfoort worked example (53N 6E -> E 196105.283
    N 557057.739) to the mm, conformality isotropy, machine-precision
    round-trip, divergence from +proj=stere."""
    import math

    import numpy as np

    from gdal_boots_spark.geom.crs import EPSG_PROJ4, _projector

    fwd, inv = _projector(28992)
    x, y = fwd(6.0, 53.0)
    assert abs(float(x) - 196105.283) < 0.002 and abs(float(y) - 557057.739) < 0.002
    lon, lat = inv(x, y)
    assert abs(float(lon) - 6.0) < 1e-9 and abs(float(lat) - 53.0) < 1e-9
    # origin fixed point
    xo, yo = fwd(5.38763888888889, 52.15616055555555)
    assert abs(float(xo) - 155000.0) < 1e-6 and abs(float(yo) - 463000.0) < 1e-6
    # conformal: local scale isotropy on the bessel ellipsoid
    a, rf = 6377397.155, 299.1528128
    e2 = (2 - 1 / rf) / rf
    d = 1e-6
    lon0, lat0 = 5.0, 52.0
    x0, y0 = fwd(lon0, lat0)
    xa, ya = fwd(lon0 + d, lat0)
    xb, yb = fwd(lon0, lat0 + d)
    phi = math.radians(lat0)
    N = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
    M = a * (1 - e2) / (1 - e2 * math.sin(phi) ** 2) ** 1.5
    k_par = math.hypot(float(xa) - float(x0), float(ya) - float(y0)) / (d * math.pi / 180 * N * math.cos(phi))
    k_mer = math.hypot(float(xb) - float(x0), float(yb) - float(y0)) / (d * math.pi / 180 * M)
    assert abs(k_par / k_mer - 1.0) < 1e-6
    # wide-range exact round-trip
    rng = np.random.default_rng(6)
    lons = rng.uniform(-170, 170, 300)
    lats = rng.uniform(-80, 80, 300)
    lo2, la2 = inv(*fwd(lons, lats))
    assert np.abs(lo2 - lons).max() < 1e-8 and np.abs(la2 - lats).max() < 1e-8
    # sterea and stere genuinely differ away from the origin
    fs, _ = _projector(EPSG_PROJ4[28992].replace("sterea", "stere"))
    xs, ys = fs(6.0, 53.0)
    assert abs(float(xs) - float(x)) > 0.01 or abs(float(ys) - float(y)) > 0.01


def test_ortho_projection():
    """+proj=ortho (spherical orthographic, Snyder 20-3..20-19): center
    fixed point, hemisphere domain guard (far side -> NaN, never
    mirrored coordinates), dense round-trip, and the limb radius R."""
    import numpy as np

    from gdal_boots_spark.geom.crs import _projector

    fwd, inv = _projector("+proj=ortho +lat_0=40 +lon_0=-100 +ellps=WGS84")
    x, y = fwd(-100.0, 40.0)
    assert abs(float(x)) < 1e-9 and abs(float(y)) < 1e-9
    # Snyder numerical example (p. 311): R=1, lat_0=40, lon_0=-100,
    # point (30N, 110E) is on the FAR hemisphere in the ellipsoid-scale
    # map too -> guarded
    xf, yf = fwd(110.0, 30.0)
    assert not np.isfinite(float(np.asarray(xf)))
    # antipode of the center: NaN, not the center's coordinates
    xa, ya = fwd(80.0, -40.0)
    assert not np.isfinite(float(np.asarray(xa)))
    # dense round-trip on the near hemisphere
    rng = np.random.default_rng(3)
    lons = rng.uniform(-175, -25, 2000)
    lats = rng.uniform(-35, 85, 2000)
    x, y = fwd(lons, lats)
    fin = np.isfinite(np.asarray(x))
    assert fin.mean() > 0.9
    lo2, la2 = inv(np.asarray(x)[fin], np.asarray(y)[fin])
    assert np.abs(lo2 - lons[fin]).max() < 1e-6
    assert np.abs(la2 - lats[fin]).max() < 1e-6
    # the map disk is bounded by R
    assert float(np.nanmax(np.hypot(np.asarray(x), np.asarray(y)))) <= 6378137.0 * (1 + 1e-12)


def test_cass_projection():
    """+proj=cass (ellipsoidal Cassini-Soldner, EPSG 9806 / Snyder
    13-7..13-13): central meridian exact (x==0, y==meridian-arc
    difference), round-trip < 1e-6 deg across the documented
    |dlam| <= 4 deg domain, NaN guard beyond it."""
    import math

    import numpy as np

    from gdal_boots_spark.geom.crs import CassiniSoldnerProj, _meridian_arc, _projector

    fwd, inv = _projector("+proj=cass +lat_0=40 +lon_0=-75 +x_0=1000 +y_0=2000 +ellps=WGS84")
    cs = CassiniSoldnerProj({"lat_0": 40, "lon_0": -75, "ellps": "WGS84"})
    # central meridian: x == x_0 exactly, y == y_0 + arc(phi) - arc(phi0)
    x, y = fwd(-75.0, 52.0)
    expect = float(_meridian_arc(np.array(math.radians(52.0)), cs.a, cs.e2)) - cs.M0
    assert abs(float(x) - 1000.0) < 1e-9 and abs(float(y) - 2000.0 - expect) < 1e-9
    # domain guard
    xg, _ = fwd(-75.0 + 4.5, 10.0)
    assert not np.isfinite(float(np.asarray(xg)))
    # dense round-trip inside the domain
    rng = np.random.default_rng(4)
    lons = -75.0 + rng.uniform(-3.999, 3.999, 3000)
    lats = rng.uniform(-88, 88, 3000)
    lo2, la2 = inv(*fwd(lons, lats))
    assert np.abs(lo2 - lons).max() < 1e-6 and np.abs(la2 - lats).max() < 1e-6


def test_aeqd_projection():
    """+proj=aeqd (spherical, Snyder 25-2..25-15): center fixed point,
    the EQUIDISTANT defining property (planar distance from center ==
    R * central angle, everywhere) and the antipodal-disk guard.  (The
    ellipsoidal form is implemented via true geodesics since r6 —
    test_aeqd_ellipsoidal below.)"""
    import math

    import numpy as np
    import pytest

    from gdal_boots_spark.geom.crs import _projector

    R = 6371000.0
    fwd, inv = _projector("+proj=aeqd +lat_0=40 +lon_0=-100 +R=6371000")
    x, y = fwd(np.array([-100.0]), np.array([40.0]))
    assert abs(float(x[0])) < 1e-9 and abs(float(y[0])) < 1e-9
    rng = np.random.default_rng(9)
    lons = rng.uniform(-180, 180, 2000)
    lats = rng.uniform(-85, 85, 2000)
    x, y = fwd(lons, lats)
    fin = np.isfinite(x)
    la1, lo1 = np.radians(lats), np.radians(lons)
    cosc = (
        math.sin(math.radians(40)) * np.sin(la1)
        + math.cos(math.radians(40)) * np.cos(la1) * np.cos(lo1 - math.radians(-100))
    )
    c = np.arccos(np.clip(cosc, -1, 1))
    np.testing.assert_allclose(np.hypot(x[fin], y[fin]), R * c[fin], rtol=0, atol=1e-4)
    # round-trip away from the boundary circle
    ok = fin & (cosc > -1 + 1e-3)
    lo2, la2 = inv(x[ok], y[ok])
    assert np.abs(((lo2 - lons[ok] + 180) % 360) - 180).max() < 1e-6
    assert np.abs(la2 - lats[ok]).max() < 1e-6
    # antipodal disk NaN-guarded
    xa, _ = fwd(np.array([80.0]), np.array([-40.0]))
    assert not np.isfinite(xa[0])


def test_geodesic_vincenty_anchors():
    """geom/geodesic.py against published worked examples: the GDA
    Technical Manual's Flinders Peak -> Buninyong line on GRS80
    (s = 54 972.271 m, fwd az 306d52'05.37", rev az 127d10'25.07"),
    direct/inverse consistency, and the coincident-point convention."""
    import numpy as np

    from gdal_boots_spark.geom.geodesic import direct, inverse

    def dms(d, m, s):
        return d + m / 60.0 + s / 3600.0

    a, f = 6378137.0, 1.0 / 298.257222101  # GRS80
    lat1, lon1 = -dms(37, 57, 3.72030), dms(144, 25, 29.52440)  # Flinders Peak
    lat2, lon2 = -dms(37, 39, 10.15610), dms(143, 55, 35.38390)  # Buninyong
    s, az1, az2 = inverse(lat1, lon1, lat2, lon2, a, f)
    assert abs(float(s) - 54972.271) < 2e-3
    assert abs(float(az1) % 360.0 - dms(306, 52, 5.37)) < 2e-5 * 360  # ~0.03"
    # the manual quotes the REVERSE azimuth (direction back to P1):
    # Vincenty's az2 is the direction of travel at P2, 180 deg apart
    assert abs(float(az2) % 360.0 - (dms(127, 10, 25.07) + 180.0)) < 2e-5 * 360
    # direct problem reproduces the destination bit-near-exactly
    la2, lo2, _ = direct(lat1, lon1, float(az1), float(s), a, f)
    assert abs(float(la2) - lat2) < 1e-9 and abs(float(lo2) - lon2) < 1e-9
    # vectorized: coincident -> (0, 0, 0); near-antipodal -> FINITE
    # since r7 (the Karney-style root-find band solver)
    s2, a1, _ = inverse(
        np.array([10.0, 10.0]), np.array([20.0, 20.0]),
        np.array([10.0, -10.002]), np.array([20.0, -160.001]),
    )
    assert s2[0] == 0.0 and a1[0] == 0.0
    assert np.isfinite(s2[1])
    la2b, lo2b, _ = direct(10.0, 20.0, float(a1[1]), float(s2[1]))
    assert abs(float(la2b) + 10.002) < 1e-9
    assert abs(((float(lo2b) + 160.001 + 180.0) % 360.0) - 180.0) < 1e-9
    # dense random direct∘inverse identity on WGS84 (clear of antipode)
    rng = np.random.default_rng(11)
    lats = rng.uniform(-80, 80, 2000)
    lons = rng.uniform(-180, 180, 2000)
    azis = rng.uniform(-180, 180, 2000)
    dists = rng.uniform(1.0, 15e6, 2000)
    la, lo, azb = direct(lats, lons, azis, dists)
    sr, azf, _ = inverse(lats, lons, la, lo)
    assert np.isfinite(sr).all()  # r7: no antipodal NaN band left
    assert np.abs(sr - dists).max() < 1e-3
    daz = np.abs(((azf - azis + 180.0) % 360.0) - 180.0)
    assert daz.max() < 1e-6


def test_geodesic_antipodal_band():
    """The nearly antipodal domain (VERDICT r6 item 4): Vincenty's
    non-convergence band is re-solved by the always-convergent
    Karney-style azimuth root find (geodesic._antipodal_inverse).

    Anchors: on an oblate ellipsoid every EXACTLY antipodal pair
    connects through a pole along meridians, so its distance is twice
    the meridian quadrant — WGS84 quadrant 10 001 965.729 m (published
    constant).  Band correctness: inverse->direct must land on the
    target to sub-mm; the solver must agree with Vincenty wherever
    both converge (seam continuity + minimality, since Vincenty's
    convergent answer IS the shortest)."""
    import numpy as np

    from gdal_boots_spark.geom.geodesic import _antipodal_inverse, direct, inverse

    TWO_Q = 2.0 * 10001965.7293  # 2 x WGS84 meridian quadrant
    # pole-to-pole, equatorial antipodal, generic exact antipodes
    lats = np.array([90.0, 0.0, 10.0, -30.0, 45.0, 60.0, -75.0])
    lons = np.array([0.0, 0.0, 0.0, 20.0, -120.0, 77.0, 150.0])
    s, _, _ = inverse(lats, lons, -lats, lons + 180.0)
    assert np.isfinite(s).all()
    assert np.abs(s - TWO_Q).max() < 1e-3

    # dense band sweep: random pairs within ~0.9 deg of the antipode
    rng = np.random.default_rng(5)
    lat1 = rng.uniform(-80, 80, 1500)
    lon1 = rng.uniform(-180, 180, 1500)
    lat2 = np.clip(-lat1 + rng.uniform(-0.9, 0.9, 1500), -90, 90)
    lon2 = ((lon1 + 180 + rng.uniform(-0.9, 0.9, 1500) + 180) % 360) - 180
    s, a1, a2 = inverse(lat1, lon1, lat2, lon2)
    assert np.isfinite(s).all()
    la, lo, azb = direct(lat1, lon1, a1, s)
    err_m = np.hypot(
        np.abs(la - lat2),
        np.abs(((lo - lon2 + 180) % 360) - 180) * np.cos(np.radians(lat2)),
    ) * 111194.9
    assert err_m.max() < 1e-3  # sub-mm landing on the target
    daz2 = np.abs(((azb - a2 + 180.0) % 360.0) - 180.0)
    assert daz2.max() < 1e-9  # arrival azimuth consistent with direct

    # seam: just OUTSIDE the band both solvers run — they must agree
    dd = rng.uniform(1.5, 6.0, 1500)
    ang = rng.uniform(0, 2 * np.pi, 1500)
    lat2o = np.clip(-lat1 + dd * np.sin(ang), -89.9, 89.9)
    lon2o = ((lon1 + 180 + dd * np.cos(ang) + 180) % 360) - 180
    sv, av1, av2 = inverse(lat1, lon1, lat2o, lon2o)
    assert np.isfinite(sv).all()
    sk, ak1, ak2 = _antipodal_inverse(
        lat1, lon1, lat2o, lon2o, 6378137.0, 1.0 / 298.257223563
    )
    assert np.abs(sk - sv).max() < 1e-6
    assert np.abs(((ak1 - av1 + 180) % 360) - 180).max() < 1e-9
    assert np.abs(((ak2 - av2 + 180) % 360) - 180).max() < 1e-9


def test_aeqd_ellipsoidal_projection():
    """Ellipsoidal +proj=aeqd via true geodesics: EPSG Guidance Note
    7-2's Modified Azimuthal Equidistant worked example (Yap Islands,
    Clarke 1866: E 42 665.90, N 65 509.82 — the EPSG truncated series
    agrees with the true-geodesic form to sub-cm at that range), the
    equidistance defining property (hypot == geodesic distance from
    center), center fixed point, dense round-trip, antipodal guard."""
    import numpy as np

    from gdal_boots_spark.geom.crs import _projector
    from gdal_boots_spark.geom.geodesic import inverse as geod_inverse

    def dms(d, m, s):
        return d + m / 60.0 + s / 3600.0

    lat0, lon0 = dms(9, 32, 48.15), dms(138, 10, 7.48)
    fwd, inv = _projector(
        f"+proj=aeqd +lat_0={lat0!r} +lon_0={lon0!r} +x_0=40000 +y_0=60000 "
        "+a=6378206.4 +b=6356583.8"
    )
    lat, lon = dms(9, 35, 47.493), dms(138, 11, 34.908)
    x, y = fwd(np.array([lon]), np.array([lat]))
    assert abs(float(x[0]) - 42665.90) < 0.01
    assert abs(float(y[0]) - 65509.82) < 0.01
    xc, yc = fwd(np.array([lon0]), np.array([lat0]))
    assert float(xc[0]) == 40000.0 and float(yc[0]) == 60000.0

    fwd, inv = _projector("+proj=aeqd +lat_0=40 +lon_0=-100 +ellps=WGS84")
    rng = np.random.default_rng(13)
    lons = rng.uniform(-180, 180, 2000)
    lats = rng.uniform(-85, 85, 2000)
    x, y = fwd(lons, lats)
    fin = np.isfinite(x)
    assert fin.mean() > 0.99  # only the antipodal band may NaN
    # equidistance: planar distance from center == geodesic distance
    s_true, _, _ = geod_inverse(np.full(lats.shape, 40.0), np.full(lons.shape, -100.0), lats, lons)
    np.testing.assert_allclose(np.hypot(x[fin], y[fin]), s_true[fin], rtol=0, atol=1e-4)
    lo2, la2 = inv(x[fin], y[fin])
    assert np.abs(((lo2 - lons[fin] + 180) % 360) - 180).max() < 1e-6
    assert np.abs(la2 - lats[fin]).max() < 1e-6
    # past-the-boundary guard on the inverse
    _, lag = inv(np.array([0.0]), np.array([6378137.0 * np.pi + 1e5]))
    assert not np.isfinite(lag[0])


def test_omerc_projection():
    """+proj=omerc (Hotine oblique Mercator, Snyder 9-x / EPSG 9815):
    projection-center fixed point under the variant-B offsets,
    conformality (local scale isotropy), global in-domain round-trip,
    the sterea-class |dlam| > 180/B aliasing guard, and the documented
    refusals (lat_0=0, polar, degenerate two-point parameters)."""
    import math

    import numpy as np
    import pytest

    from gdal_boots_spark.geom.crs import ObliqueMercatorProj, _projector, parse_proj4

    p4 = "+proj=omerc +lat_0=4 +lonc=115 +alpha=53.316 +k=0.99984 +ellps=WGS84"
    fwd, inv = _projector(p4)
    om = ObliqueMercatorProj(parse_proj4(p4))
    xc, yc = fwd(np.array([115.0]), np.array([4.0]))
    assert abs(float(xc[0])) < 1e-6 and abs(float(yc[0])) < 1e-6  # 9815 offsets
    # conformality at interior points
    a_, rf = 6378137.0, 298.257223563
    e2 = (2 - 1 / rf) / rf
    d = 1e-6
    for lon, lat in [(115, 4), (117, 6), (110, 0), (120, 10)]:
        x0, y0 = fwd(np.array([float(lon)]), np.array([float(lat)]))
        xa, ya = fwd(np.array([lon + d]), np.array([float(lat)]))
        xb, yb = fwd(np.array([float(lon)]), np.array([lat + d]))
        phi = math.radians(lat)
        N = a_ / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        M = a_ * (1 - e2) / (1 - e2 * math.sin(phi) ** 2) ** 1.5
        k_par = math.hypot(float(xa[0] - x0[0]), float(ya[0] - y0[0])) / (d * math.pi / 180 * N * math.cos(phi))
        k_mer = math.hypot(float(xb[0] - x0[0]), float(yb[0] - y0[0])) / (d * math.pi / 180 * M)
        assert abs(k_par / k_mer - 1.0) < 1e-5
    # dense global round-trip (in-domain)
    rng = np.random.default_rng(11)
    lons = rng.uniform(-180, 180, 4000)
    lats = rng.uniform(-85, 85, 4000)
    x, y = fwd(lons, lats)
    fin = np.isfinite(x)
    dlam = np.abs(((lons - math.degrees(om.lam0) + 180) % 360) - 180)
    assert not ((~fin) & (dlam < om.dlam_max_deg - 1e-9)).any()  # NaN only in the band
    lo2, la2 = inv(x[fin], y[fin])
    assert np.abs(((lo2 - lons[fin] + 180) % 360) - 180).max() < 1e-8
    assert np.abs(la2 - lats[fin]).max() < 1e-8
    # refusals (degenerate parameterizations only — the valid
    # two-point form is exercised in test_omerc_two_point_form)
    for bad in (
        "+proj=omerc +lat_0=0 +lonc=10 +alpha=45 +ellps=WGS84",
        "+proj=omerc +lat_0=90 +lonc=10 +alpha=45 +ellps=WGS84",
        # two-point degeneracies: lat_1 = lat_2, lat_1 = 0, polar
        # point, mixing +alpha with the two-point parameters, and a
        # missing member of the four-parameter set
        "+proj=omerc +lat_0=10 +lon_1=0 +lat_1=6 +lon_2=5 +lat_2=6 +ellps=WGS84",
        "+proj=omerc +lat_0=10 +lon_1=0 +lat_1=0 +lon_2=5 +lat_2=6 +ellps=WGS84",
        "+proj=omerc +lat_0=10 +lon_1=0 +lat_1=1 +lon_2=5 +lat_2=90 +ellps=WGS84",
        "+proj=omerc +lat_0=10 +lon_1=0 +lat_1=1 +lon_2=5 +lat_2=6 +alpha=30 +ellps=WGS84",
        "+proj=omerc +lat_0=10 +lon_1=0 +lat_1=1 +lon_2=5 +ellps=WGS84",
    ):
        with pytest.raises(ValueError):
            _projector(bad)


def test_omerc_two_point_form():
    """Two-point Hotine form (Snyder 9-16..9-24): picking two points ON
    the azimuth form's central geodesic must reproduce the azimuth
    form's constants and therefore its ENTIRE mapping (PROJ's
    convention: rectification angle = derived central azimuth alpha_c,
    which equals +alpha when +gamma is defaulted).  Also: round-trip
    property and EPSG 9815 offset consistency on the derived line."""
    from gdal_boots_spark.geom.crs import ObliqueMercatorProj, parse_proj4

    az = ObliqueMercatorProj(
        parse_proj4("+proj=omerc +lat_0=4 +lonc=115 +alpha=53.316 +k=0.99984 +ellps=WGS84")
    )
    # two points on the central line: in the rotated (u, v) frame the
    # central geodesic is v = 0, so x = x0 + u*sinrot, y = y0 + u*cosrot
    # for any pre-offset u (forward subtracts uc, so add it back here)
    pts = []
    for u in (-300_000.0, 500_000.0):
        ur = u - az.uc
        lon, lat = az.inverse(az.x0 + ur * az.sinrot, az.y0 + ur * az.cosrot)
        pts.append((float(lon), float(lat)))
    (lon1, lat1), (lon2, lat2) = pts
    tp = ObliqueMercatorProj(
        parse_proj4(
            "+proj=omerc +lat_0=4 +k=0.99984 +ellps=WGS84 "
            f"+lon_1={lon1} +lat_1={lat1} +lon_2={lon2} +lat_2={lat2}"
        )
    )
    # every derived constant agrees with the azimuth form
    assert abs(tp.lam0 - az.lam0) < 1e-12
    assert abs(tp.g0 - az.g0) < 1e-12
    assert abs(tp.uc - az.uc) < 1e-6
    assert abs(tp.sinrot - az.sinrot) < 1e-12
    # and so does the full mapping, both directions
    rng = np.random.default_rng(7)
    lons = 115 + rng.uniform(-30, 30, 200)
    lats = rng.uniform(-60, 70, 200)
    xa, ya = az.forward(lons, lats)
    xt, yt = tp.forward(lons, lats)
    fin = np.isfinite(xa)
    assert (np.isfinite(xt) == fin).all()
    assert np.abs(xt[fin] - xa[fin]).max() < 1e-6
    assert np.abs(yt[fin] - ya[fin]).max() < 1e-6
    lo2, la2 = tp.inverse(xt[fin], yt[fin])
    assert np.abs(((lo2 - lons[fin] + 180) % 360) - 180).max() < 1e-8
    assert np.abs(la2 - lats[fin]).max() < 1e-8
    # the defining points themselves map onto the v = 0 gauge line
    for lon, lat in pts:
        x, y = tp.forward(np.array([lon]), np.array([lat]))
        v = (x[0] - tp.x0) * tp.cosrot - (y[0] - tp.y0) * tp.sinrot
        assert abs(v) < 1e-6


def test_somerc_projection():
    """+proj=somerc (Swiss oblique Mercator, EPSG 9814): the EPSG:2056
    Bern origin fixed point at exactly (2600000, 1200000), a real-city
    sanity box (Zurich in LV95), conformality, dense global
    round-trip, and the EPSG shortcut table entries 2056/21781."""
    import math

    import numpy as np

    from gdal_boots_spark.geom.crs import _projector

    fwd, inv = _projector(2056)
    x, y = fwd(np.array([7.439583333333333]), np.array([46.95240555555556]))
    assert abs(float(x[0]) - 2600000) < 1e-6 and abs(float(y[0]) - 1200000) < 1e-5
    # Zurich (8.54E, 47.38N) lies in the LV95 (2683k, 1248k) kilometre box
    xz, yz = fwd(np.array([8.54]), np.array([47.38]))
    assert abs(float(xz[0]) - 2683000) < 5000 and abs(float(yz[0]) - 1248000) < 5000
    # LV03 shortcut differs only by the false origin
    f03, _ = _projector(21781)
    x3, y3 = f03(np.array([8.54]), np.array([47.38]))
    assert abs(float(xz[0]) - float(x3[0]) - 2000000) < 1e-6
    assert abs(float(yz[0]) - float(y3[0]) - 1000000) < 1e-6
    # conformality at Swiss points
    a_, rf = 6377397.155, 299.1528128
    e2 = (2 - 1 / rf) / rf
    d = 1e-6
    for lon, lat in [(7.44, 46.95), (8.5, 47.4), (6.1, 46.2)]:
        x0, y0 = fwd(np.array([float(lon)]), np.array([float(lat)]))
        xa, ya = fwd(np.array([lon + d]), np.array([float(lat)]))
        xb, yb = fwd(np.array([float(lon)]), np.array([lat + d]))
        phi = math.radians(lat)
        N = a_ / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        M = a_ * (1 - e2) / (1 - e2 * math.sin(phi) ** 2) ** 1.5
        k_par = math.hypot(float(xa[0] - x0[0]), float(ya[0] - y0[0])) / (d * math.pi / 180 * N * math.cos(phi))
        k_mer = math.hypot(float(xb[0] - x0[0]), float(yb[0] - y0[0])) / (d * math.pi / 180 * M)
        assert abs(k_par / k_mer - 1.0) < 1e-6
    # dense round-trip wherever forward is finite
    rng = np.random.default_rng(6)
    lons = rng.uniform(-180, 180, 4000)
    lats = rng.uniform(-85, 85, 4000)
    x, y = fwd(lons, lats)
    fin = np.isfinite(x) & np.isfinite(y)
    assert fin.mean() > 0.98
    lo2, la2 = inv(x[fin], y[fin])
    assert np.abs(((lo2 - lons[fin] + 180) % 360) - 180).max() < 1e-8
    assert np.abs(la2 - lats[fin]).max() < 1e-8


def test_gnom_projection():
    """+proj=gnom (gnomonic, Snyder 22-3..22-16): center fixed point,
    round-trip over the near hemisphere, horizon NaN guard, and the
    DEFINING property — great circles map to straight lines — checked
    with spherical geodesics (Vincenty with f=0)."""
    import math

    import numpy as np

    from gdal_boots_spark.geom.crs import _projector
    from gdal_boots_spark.geom.geodesic import direct

    p4 = "+proj=gnom +lat_0=40 +lon_0=-100 +R=6370997"
    fwd, inv = _projector(p4)
    xc, yc = fwd(np.array([-100.0]), np.array([40.0]))
    assert abs(float(xc[0])) < 1e-6 and abs(float(yc[0])) < 1e-6
    # round-trip well inside the hemisphere
    rng = np.random.default_rng(5)
    lons = -100 + rng.uniform(-60, 60, 500)
    lats = 40 + rng.uniform(-45, 45, 500)
    x, y = fwd(lons, lats)
    assert np.isfinite(x).all()
    lo2, la2 = inv(x, y)
    assert np.abs(((lo2 - lons + 180) % 360) - 180).max() < 1e-8
    assert np.abs(la2 - lats).max() < 1e-8
    # beyond the horizon (>= 90 deg away): NaN, never mirrored
    xf, yf = fwd(np.array([80.0]), np.array([-40.0]))  # the antipode
    assert not np.isfinite(xf[0]) and not np.isfinite(yf[0])
    # great circles -> straight lines: points along spherical geodesics
    # (Vincenty f=0) are collinear after projection
    for azi, s_km in [(37.0, 3000.0), (120.0, 2500.0), (260.0, 4000.0)]:
        ss = np.linspace(100e3, s_km * 1e3, 9)
        la1 = np.full_like(ss, 35.0)
        lo1 = np.full_like(ss, -95.0)
        glat, glon, _ = direct(la1, lo1, np.full_like(ss, azi), ss, a=6370997.0, f=0.0)
        gx, gy = fwd(glon, glat)
        assert np.isfinite(gx).all()
        # collinearity: cross product of (P_i - P_0) with (P_end - P_0)
        # vanishes relative to the segment scale
        vx, vy = gx - gx[0], gy - gy[0]
        cross = vx * vy[-1] - vy * vx[-1]
        scale = math.hypot(vx[-1], vy[-1]) ** 2
        assert np.abs(cross).max() / scale < 1e-9


def test_robin_projection():
    """+proj=robin (Robinson 1974): the 19 published table knots are
    EXACT (x = 0.8487 R X lam, y = 1.3523 R Y), the equator/central
    meridian behave, north/south antisymmetry holds, and random points
    round-trip through the spline inverse."""
    import numpy as np

    from gdal_boots_spark.geom.crs import _ROBIN_LAT, _ROBIN_X, _ROBIN_Y, _projector

    R = 6371000.0
    fwd, inv = _projector(f"+proj=robin +lon_0=10 +R={R}")
    # every table knot is exact at an arbitrary meridian offset
    lam = np.radians(37.0 - 10.0)
    x, y = fwd(np.full_like(_ROBIN_LAT, 37.0), _ROBIN_LAT)
    assert np.abs(x - 0.8487 * R * _ROBIN_X * lam).max() < 1e-6
    assert np.abs(y - 1.3523 * R * _ROBIN_Y).max() < 1e-6
    # antisymmetry + equator linearity in lon
    xs, ys = fwd(np.array([50.0, 50.0, 10.0, 70.0]), np.array([40.0, -40.0, 0.0, 0.0]))
    assert abs(ys[0] + ys[1]) < 1e-9 and abs(xs[0] - xs[1]) < 1e-9
    assert abs(ys[2]) < 1e-9 and abs(xs[2]) < 1e-9
    assert abs(xs[3] - 0.8487 * R * np.radians(60.0)) < 1e-6
    # round-trip (interpolated latitudes, both hemispheres)
    rng = np.random.default_rng(11)
    lons = rng.uniform(-179, 179, 800)
    lats = rng.uniform(-89.9, 89.9, 800)
    lo2, la2 = inv(*fwd(lons, lats))
    assert np.abs(((lo2 - lons + 180) % 360) - 180).max() < 1e-8
    assert np.abs(la2 - lats).max() < 1e-8
    # the spline is monotone between knots (no overshoot ringing)
    grid = np.linspace(0.0, 90.0, 2001)
    _, yg = fwd(np.zeros_like(grid) + 10.0, grid)
    assert (np.diff(yg) > 0).all()


def test_tpeqd_projection():
    """+proj=tpeqd (two-point equidistant, spherical): the base points
    land at (-c, 0) / (+c, 0), EVERY point preserves its great-circle
    distances to both base points (the defining property), random
    points round-trip, degenerate base pairs raise, and off-sphere
    plane coordinates invert to NaN."""
    import math

    import numpy as np
    import pytest

    from gdal_boots_spark.geom.crs import _projector

    R = 6371000.0
    p4 = f"+proj=tpeqd +R={R} +lon_1=-20 +lat_1=35 +lon_2=25 +lat_2=45"
    fwd, inv = _projector(p4)

    def gc_dist(lo1, la1, lo2, la2):
        lo1, la1, lo2, la2 = map(np.radians, (lo1, la1, lo2, la2))
        return R * np.arccos(
            np.clip(
                np.sin(la1) * np.sin(la2) + np.cos(la1) * np.cos(la2) * np.cos(lo1 - lo2),
                -1.0, 1.0,
            )
        )

    half = float(gc_dist(-20.0, 35.0, 25.0, 45.0)) / 2.0
    x1, y1 = fwd(np.array([-20.0]), np.array([35.0]))
    x2, y2 = fwd(np.array([25.0]), np.array([45.0]))
    # y on the baseline is sqrt(eps)-class: ysq = z1^2 - (X+c)^2
    # cancels to ~eps*z0^2, so |y| <= R*sqrt(eps) ~ 0.1 m there (same
    # formulation and noise class as PROJ's tpeqd); x is exact-ish.
    assert abs(float(x1[0]) + half) < 1e-6 and abs(float(y1[0])) < 0.5
    assert abs(float(x2[0]) - half) < 1e-6 and abs(float(y2[0])) < 0.5
    # defining property: plane distance to each base point == great-
    # circle distance, for points all over the sphere
    rng = np.random.default_rng(7)
    lons = rng.uniform(-179, 179, 1000)
    lats = rng.uniform(-85, 85, 1000)
    x, y = fwd(lons, lats)
    d1 = np.hypot(x + half, y)  # base points sit at exactly (-c, 0)/(+c, 0)
    d2 = np.hypot(x - half, y)
    assert np.abs(d1 - gc_dist(lons, lats, -20.0, 35.0)).max() < 1e-5
    assert np.abs(d2 - gc_dist(lons, lats, 25.0, 45.0)).max() < 1e-5
    # round-trip
    lo2, la2 = inv(x, y)
    assert np.abs(((lo2 - lons + 180) % 360) - 180).max() < 1e-6
    assert np.abs(la2 - lats).max() < 1e-6
    # x_0/y_0 offsets
    fwd_o, inv_o = _projector(p4 + " +x_0=4000 +y_0=-2500")
    xo, yo = fwd_o(np.array([3.0]), np.array([50.0]))
    xb, yb = fwd(np.array([3.0]), np.array([50.0]))
    assert abs(float(xo[0] - xb[0]) - 4000.0) < 1e-9
    assert abs(float(yo[0] - yb[0]) + 2500.0) < 1e-9
    lo3, la3 = inv_o(xo, yo)
    assert abs(float(lo3[0]) - 3.0) < 1e-6 and abs(float(la3[0]) - 50.0) < 1e-6
    # degenerate frames raise
    with pytest.raises(ValueError):
        _projector(f"+proj=tpeqd +R={R} +lon_1=10 +lat_1=20 +lon_2=10 +lat_2=20")
    with pytest.raises(ValueError):
        _projector(f"+proj=tpeqd +R={R} +lon_1=10 +lat_1=20 +lon_2=-170 +lat_2=-20")
    with pytest.raises(ValueError):
        _projector(f"+proj=tpeqd +R={R} +lon_1=10 +lat_1=20 +lon_2=30")
    # plane coordinates no sphere point can reach invert to NaN
    bad_x = np.array([R * (math.pi + half / R + 1.0)])
    lo4, la4 = inv(bad_x, np.array([0.0]))
    assert not np.isfinite(lo4[0]) and not np.isfinite(la4[0])
