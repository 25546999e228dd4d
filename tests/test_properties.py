"""Property-based tests (hypothesis) over the pure-NumPy geometry core.

SURVEY §5d: property tests complement the golden suite — codec
round-trips, PIP equivalence, CRS inverses, index identities.
"""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from gdal_boots_spark.geom import (
    apply_transform,
    cell_bounds,
    cell_id,
    cover_bbox,
    from_geojson,
    pixel_of,
    snap_bbox_to_grid,
    to_geojson,
    transform_coords,
)
from gdal_boots_spark.geom.cells import cell_decode, compose
from gdal_boots_spark.geom.pip import points_in_packed

coord = st.floats(min_value=-179.0, max_value=179.0, allow_nan=False).map(lambda v: round(v, 6))
lat = st.floats(min_value=-85.0, max_value=85.0, allow_nan=False).map(lambda v: round(v, 6))


@st.composite
def star_polygon(draw, n_min=3, n_max=12):
    """A simple (non-self-intersecting) polygon: points sorted by angle
    around their centroid."""
    n = draw(st.integers(n_min, n_max))
    xs = np.array([draw(st.floats(0, 10, allow_nan=False)) for _ in range(n)])
    ys = np.array([draw(st.floats(0, 10, allow_nan=False)) for _ in range(n)])
    cx, cy = xs.mean(), ys.mean()
    order = np.argsort(np.arctan2(ys - cy, xs - cx))
    ring = [[round(float(xs[i]), 6), round(float(ys[i]), 6)] for i in order]
    # drop duplicate consecutive points
    dedup = [ring[0]]
    for p in ring[1:]:
        if p != dedup[-1]:
            dedup.append(p)
    if len(dedup) < 3:
        dedup = [[0.0, 0.0], [1.0, 0.0], [0.5, 1.0]]
    dedup.append(dedup[0])
    return {"type": "Polygon", "coordinates": [dedup]}


@settings(max_examples=60, deadline=None)
@given(star_polygon())
def test_codec_roundtrip_property(poly):
    assert to_geojson(from_geojson(poly), precision=6) == poly


@settings(max_examples=40, deadline=None)
@given(star_polygon(), st.integers(0, 10_000))
def test_pip_matches_scalar_property(poly, seed):
    pg = from_geojson(poly)
    rng = np.random.default_rng(seed)
    px = rng.uniform(-1, 11, 64)
    py = rng.uniform(-1, 11, 64)
    got = points_in_packed(px, py, pg)
    ring = poly["coordinates"][0]

    def brute(x, y):
        inside = False
        for i in range(len(ring) - 1):
            x1, y1 = ring[i]
            x2, y2 = ring[i + 1]
            if (y1 > y) != (y2 > y) and x < x1 + (x2 - x1) * (y - y1) / (y2 - y1):
                inside = not inside
        return inside

    exp = np.array([brute(x, y) for x, y in zip(px, py)])
    assert np.array_equal(got, exp)


@settings(max_examples=100, deadline=None)
@given(coord, lat)
def test_crs_3857_inverse_property(lon, la):
    x, y = transform_coords(np.array([lon]), np.array([la]), 4326, 3857)
    lon2, la2 = transform_coords(x, y, 3857, 4326)
    assert abs(lon2[0] - lon) < 1e-9 and abs(la2[0] - la) < 1e-9


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 60), st.floats(-80, 80, allow_nan=False), st.booleans())
def test_crs_utm_inverse_property(zone, la, south):
    epsg = (32700 if south else 32600) + zone
    lon0 = 6.0 * zone - 183.0
    lon = lon0 + 2.5  # inside the zone
    x, y = transform_coords(np.array([lon]), np.array([la]), 4326, epsg)
    lon2, la2 = transform_coords(x, y, epsg, 4326)
    assert abs(lon2[0] - lon) < 1e-8 and abs(la2[0] - la) < 1e-8


@settings(max_examples=100, deadline=None)
@given(coord, lat, st.integers(0, 28))
def test_cell_identity_property(lon, la, res):
    cid = cell_id(np.array([lon]), np.array([la]), res)
    r, ix, iy = cell_decode(cid)
    assert int(r[0]) == res
    assert int(compose(res, ix, iy)[0]) == int(cid[0])
    minlon, minlat, maxlon, maxlat = cell_bounds(cid)
    assert minlon[0] <= lon <= maxlon[0] + 1e-9
    assert minlat[0] <= la <= maxlat[0] + 1e-9


@settings(max_examples=60, deadline=None)
@given(coord, lat, coord, lat, st.integers(3, 12))
def test_cover_contains_point_cells_property(x1, y1, x2, y2, res):
    minx, maxx = sorted((x1, x2))
    miny, maxy = sorted((y1, y2))
    ids = set(cover_bbox(minx, miny, maxx, maxy, res).tolist())
    # the cell of every corner and the center is in the cover
    for px, py in [(minx, miny), (maxx, maxy), ((minx + maxx) / 2, (miny + maxy) / 2)]:
        assert int(cell_id(np.array([px]), np.array([py]), res)[0]) in ids


@settings(max_examples=60, deadline=None)
@given(
    st.floats(0.001, 100, allow_nan=False),
    st.floats(-1000, 1000, allow_nan=False),
    st.floats(-1000, 1000, allow_nan=False),
    st.integers(0, 500),
    st.integers(0, 500),
)
def test_affine_pixel_inverse_property(resv, ox, oy, c, r):
    t = (resv, 0.0, ox, 0.0, -resv, oy)
    wx, wy = apply_transform(t, c + 0.5, r + 0.5)  # pixel center
    col, row = pixel_of(t, wx, wy)
    assert (int(col), int(row)) == (c, r)


@settings(max_examples=60, deadline=None)
@given(
    st.floats(0.01, 10, allow_nan=False),
    st.floats(-100, 100, allow_nan=False),
    st.floats(-100, 100, allow_nan=False),
    st.floats(0.01, 50, allow_nan=False),
    st.floats(0.01, 50, allow_nan=False),
)
def test_snap_contains_bbox_property(resv, minx, miny, w, h):
    t = (resv, 0.0, -200.0, 0.0, -resv, 200.0)
    maxx, maxy = minx + w, miny + h
    c0, r0, c1, r1, sminx, sminy, smaxx, smaxy = snap_bbox_to_grid(t, minx, miny, maxx, maxy)
    assert sminx <= minx + 1e-9 and smaxx >= maxx - 1e-9
    assert sminy <= miny + 1e-9 and smaxy >= maxy - 1e-9
    assert c1 > c0 and r1 > r0


@given(
    dt=st.sampled_from(["uint8", "uint16", "int16", "int32", "float32", "float64"]),
    h=st.integers(1, 70),
    w=st.integers(1, 70),
    bands=st.integers(1, 3),
    comp=st.sampled_from(["none", "deflate"]),
    tiled=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_gtiff_roundtrip_property(dt, h, w, bands, comp, tiled, seed):
    """Any dtype/shape/band-count/layout/compression round-trips through
    the GeoTIFF codec bit-exactly with georeferencing preserved."""
    from gdal_boots_spark.sources.gtiff import decode_gtiff, encode_gtiff

    rng = np.random.default_rng(seed)
    if dt.startswith("float"):
        arr = rng.standard_normal((bands, h, w)).astype(dt)
    else:
        info = np.iinfo(np.dtype(dt))
        arr = rng.integers(info.min, info.max, (bands, h, w), endpoint=True).astype(dt)
    tr = (0.5, 0.0, -10.0, 0.0, -0.25, 42.0)
    kw = dict(blockxsize=32, blockysize=16) if tiled else dict(blockxsize=None, blockysize=None)
    blob = encode_gtiff(arr, tr, epsg=3857, nodata=None, compress=comp, **kw)
    back, tr2, epsg2, nd2 = decode_gtiff(blob)
    np.testing.assert_array_equal(back, arr)
    assert tr2 == tr and epsg2 == 3857 and nd2 is None


@given(
    lon=st.floats(-60.0, 80.0, allow_nan=False),
    la=st.floats(5.0, 75.0, allow_nan=False),
)
@settings(max_examples=80, deadline=None)
def test_crs_lcc_inverse_property(lon, la):
    """LCC forward∘inverse == identity across the projection's valid
    band (well away from the pole opposite the cone)."""
    x, y = transform_coords(
        np.array([lon]), np.array([la]), 4326,
        "+proj=lcc +lat_0=40 +lon_0=10 +lat_1=35 +lat_2=55 +x_0=2000000 +y_0=1000000 +ellps=WGS84",
    )
    bl, bb = transform_coords(
        x, y, "+proj=lcc +lat_0=40 +lon_0=10 +lat_1=35 +lat_2=55 +x_0=2000000 +y_0=1000000 +ellps=WGS84", 4326
    )
    assert abs(float(bl) - lon) < 1e-8 and abs(float(bb) - la) < 1e-8


@given(
    res=st.integers(0, 4),
    r_out=st.integers(0, 40),
    r_in=st.integers(-1, 39),
)
@settings(max_examples=60, deadline=None)
def test_annulus_cells_unique_property(res, r_out, r_in, spark):
    """The annulus cell array never contains duplicates, for ANY res and
    radius — including blocks wider than the wrap modulus (ADVICE r2)."""
    from pyspark.sql import functions as F

    from gdal_boots_spark.operators.knn import _annulus_cells_sql

    if r_in >= r_out:
        r_in = -1
    df = spark.createDataFrame([(27.3, 53.9), (-179.99, 84.0)], "x double, y double")
    rows = df.select(F.expr(_annulus_cells_sql(res, r_in, r_out)).alias("cells")).collect()
    for r in rows:
        cells = list(r["cells"])
        assert len(cells) == len(set(cells)), (res, r_in, r_out)


@st.composite
def _any_geometry(draw, allow_collection=True):
    """Random GeoJSON geometry with repr-exact coordinates (3-decimal
    lattice — float() round-trips identically through json)."""
    coord = st.integers(-179000, 179000).map(lambda v: v / 1000.0)
    pos = st.tuples(coord, coord).map(list)

    def ring():
        return st.lists(pos, min_size=3, max_size=6).map(lambda r: r + [r[0]])

    kind = draw(
        st.sampled_from(
            ["Point", "LineString", "Polygon", "MultiPoint", "MultiLineString", "MultiPolygon"]
            + (["GeometryCollection"] if allow_collection else [])
        )
    )
    if kind == "Point":
        return {"type": "Point", "coordinates": draw(pos)}
    if kind == "LineString":
        return {"type": "LineString", "coordinates": draw(st.lists(pos, min_size=2, max_size=6))}
    if kind == "Polygon":
        return {"type": "Polygon", "coordinates": draw(st.lists(ring(), min_size=1, max_size=3))}
    if kind == "MultiPoint":
        return {"type": "MultiPoint", "coordinates": draw(st.lists(pos, min_size=1, max_size=4))}
    if kind == "MultiLineString":
        return {
            "type": "MultiLineString",
            "coordinates": draw(st.lists(st.lists(pos, min_size=2, max_size=5), min_size=1, max_size=3)),
        }
    if kind == "MultiPolygon":
        return {
            "type": "MultiPolygon",
            "coordinates": draw(st.lists(st.lists(ring(), min_size=1, max_size=2), min_size=1, max_size=3)),
        }
    children = draw(
        st.lists(_any_geometry(allow_collection=False), min_size=1, max_size=4).filter(
            # homogeneous Point/Polygon collections flatten to MultiX by
            # design — property-test the nesting-preserving branch
            lambda gs: not (
                {g["type"] for g in gs} <= {"Polygon", "MultiPolygon"}
                or {g["type"] for g in gs} <= {"Point", "MultiPoint"}
            )
        )
    )
    return {"type": "GeometryCollection", "geometries": children}


@given(_any_geometry())
@settings(max_examples=120, deadline=None)
def test_any_geometry_codec_roundtrip_property(geom):
    """from_geojson -> to_geojson is the identity for every geometry
    type, including heterogeneous GeometryCollections (exact nesting)."""
    import json

    from gdal_boots_spark.geom.packed import from_geojson, to_geojson

    pg = from_geojson(json.dumps(geom))
    assert to_geojson(pg) == geom


# --- round-4 projection families: parameterized inverse round-trips ----
_proj_family = st.sampled_from(
    [
        "stere_polar", "stere_obl", "sterea", "laea", "cea", "eqc", "sinu", "moll",
        "ortho", "gnom", "cass", "aeqd", "aeqd_ell", "omerc", "omerc_2pt", "somerc",
        "robin", "tpeqd",
    ]
)


def _near_antipode(lon, lat, lon0, anti_lat, band_deg):
    """True iff (lon, lat) lies within band_deg great-circle degrees of
    the antipode (lon0 + 180, anti_lat) of a projection center — the
    documented singular disk of the oblique azimuthal families."""
    import math as m

    la1, lo1 = m.radians(lat), m.radians(lon)
    la2, lo2 = m.radians(anti_lat), m.radians(lon0 + 180.0)
    c = m.sin(la1) * m.sin(la2) + m.cos(la1) * m.cos(la2) * m.cos(lo1 - lo2)
    return m.degrees(m.acos(max(-1.0, min(1.0, c)))) < band_deg


@settings(deadline=None, max_examples=60)
@given(
    _proj_family,
    st.floats(-179.0, 179.0, allow_nan=False),
    st.floats(-84.0, 84.0, allow_nan=False),
    st.floats(-170.0, 170.0, allow_nan=False),  # lon_0
    st.floats(15.0, 75.0, allow_nan=False),     # |lat_0| / lat_ts seed
    st.booleans(),                              # southern variant
)
@example(fam="sterea", lon=179.0, la=0.0, lon0=-1.0, p0=15.0, south=False).via(
    "r4 discovered failure: sterea antimeridian aliasing (|dlam| > 180/n)"
)
def test_projection_inverse_property(fam, lon, la, lon0, p0, south):
    """forward∘inverse == identity for every round-4 projection family
    under randomized projection parameters (not just the fixed EPSG
    forms the goldens pin)."""
    from gdal_boots_spark.geom.crs import _projector

    sgn = -1.0 if south else 1.0
    if fam == "stere_polar":
        p4 = f"+proj=stere +lat_0={90 * sgn} +lat_ts={p0 * sgn} +lon_0={lon0} +ellps=WGS84"
        la = sgn * (90.0 - abs(la) * 0.6 - 0.5)  # keep on the pole side
    elif fam == "stere_obl":
        p4 = f"+proj=stere +lat_0={p0 * sgn} +lon_0={lon0} +k=0.9996 +ellps=WGS84"
    elif fam == "sterea":
        p4 = f"+proj=sterea +lat_0={p0 * sgn} +lon_0={lon0} +k=0.9999 +ellps=bessel"
    elif fam == "laea":
        p4 = f"+proj=laea +lat_0={p0 * sgn} +lon_0={lon0} +ellps=GRS80"
    elif fam == "cea":
        p4 = f"+proj=cea +lat_ts={p0} +lon_0={lon0} +ellps=WGS84"
    elif fam == "eqc":
        p4 = f"+proj=eqc +lat_ts={p0} +lat_0=0 +lon_0={lon0} +ellps=WGS84"
    elif fam == "sinu":
        p4 = f"+proj=sinu +lon_0={lon0} +ellps=WGS84"
    elif fam == "ortho":
        p4 = f"+proj=ortho +lat_0={p0 * sgn} +lon_0={lon0} +ellps=WGS84"
    elif fam == "gnom":
        p4 = f"+proj=gnom +lat_0={p0 * sgn} +lon_0={lon0} +R=6371000"
    elif fam == "cass":
        p4 = f"+proj=cass +lat_0={p0 * sgn} +lon_0={lon0} +ellps=WGS84"
    elif fam == "aeqd":
        p4 = f"+proj=aeqd +lat_0={p0 * sgn} +lon_0={lon0} +R=6371000"
    elif fam == "aeqd_ell":
        p4 = f"+proj=aeqd +lat_0={p0 * sgn} +lon_0={lon0} +ellps=WGS84"
    elif fam == "omerc":
        p4 = f"+proj=omerc +lat_0={p0 * sgn} +lonc={lon0} +alpha=53.0 +k=0.9998 +ellps=WGS84"
    elif fam == "omerc_2pt":
        # two points straddling lon0, latitudes nonzero / non-polar /
        # distinct by construction (0.6*p0 vs 0.9*p0 + 3, p0 >= 15)
        p4 = (
            f"+proj=omerc +lat_0={p0 * sgn} +k=0.9998 +ellps=WGS84 "
            f"+lon_1={lon0 - 10} +lat_1={p0 * 0.6 * sgn} "
            f"+lon_2={lon0 + 10} +lat_2={(p0 * 0.9 + 3) * sgn}"
        )
    elif fam == "somerc":
        p4 = f"+proj=somerc +lat_0={p0 * sgn} +lon_0={lon0} +k_0=1 +ellps=bessel"
    elif fam == "robin":
        p4 = f"+proj=robin +lon_0={lon0} +R=6371000"
    elif fam == "tpeqd":
        # two distinct, never-antipodal base points (same recipe as
        # omerc_2pt: 0.6*p0 vs 0.9*p0 + 3, p0 >= 15)
        p4 = (
            f"+proj=tpeqd +R=6371000 "
            f"+lon_1={lon0 - 10} +lat_1={p0 * 0.6 * sgn} "
            f"+lon_2={lon0 + 10} +lat_2={(p0 * 0.9 + 3) * sgn}"
        )
    else:
        p4 = f"+proj=moll +lon_0={lon0} +ellps=WGS84"
    fwd, inv = _projector(p4)
    x, y = fwd(np.array([lon]), np.array([la]))
    if not (np.isfinite(float(x[0])) and np.isfinite(float(y[0]))):
        # NaN is only legal inside the documented singular domain —
        # never a silent dodge (VERDICT r4 items 1+7).  sterea: the
        # double projection is injective only for |dlam| <= 180/n;
        # oblique azimuthal maps (stere/sterea/laea): an ~0.8-degree
        # ill-conditioned disk around the antipode of the center.
        dlam = abs(((lon - lon0 + 180.0) % 360.0) - 180.0)
        if fam == "sterea":
            from gdal_boots_spark.geom.crs import ObliqueStereographicProj, parse_proj4

            proj = ObliqueStereographicProj(parse_proj4(p4))
            # the antipodal disk on the conformal sphere (at
            # dlam ~ +/-180/n, lat ~ -lat_0) also NaNs; accept either
            # singular region, reject everything else
            assert dlam > proj.dlam_max_deg - 1e-9 or (
                dlam > proj.dlam_max_deg - 1.5 and abs(la + p0 * sgn) < 1.5
            )
        elif fam in ("stere_obl", "laea"):
            assert _near_antipode(lon, la, lon0, -p0 * sgn, 1.5)
        elif fam == "ortho":
            # far hemisphere: within 90 deg of the ANTIPODE (+ limb eps)
            assert _near_antipode(lon, la, lon0, -p0 * sgn, 90.0 + 1e-6)
        elif fam == "gnom":
            # at/beyond the horizon circle (90 deg from center)
            assert _near_antipode(lon, la, lon0, -p0 * sgn, 90.0 + 1e-4)
        elif fam == "cass":
            from gdal_boots_spark.geom.crs import CassiniSoldnerProj

            assert dlam > CassiniSoldnerProj.CASS_DLAM_MAX_DEG - 1e-9
        elif fam == "aeqd":
            assert _near_antipode(lon, la, lon0, -p0 * sgn, 1.0)
        # aeqd_ell: NO NaN domain since r7 — the nearly antipodal band
        # is solved by the always-convergent Karney-style root find
        # (geom/geodesic.py _antipodal_inverse); an aeqd_ell NaN falls
        # through to "unexpected" below.
        elif fam in ("omerc", "omerc_2pt"):
            from gdal_boots_spark.geom.crs import ObliqueMercatorProj, parse_proj4

            om = ObliqueMercatorProj(parse_proj4(p4))
            import math as _m

            dlam_om = abs(((lon - _m.degrees(om.lam0) + 180.0) % 360.0) - 180.0)
            # aliasing band beyond 180/B, or the |U|->1 singular line
            assert dlam_om > om.dlam_max_deg - 1.5
        elif fam == "somerc":
            from gdal_boots_spark.geom.crs import SwissObliqueMercatorProj, parse_proj4

            sm = SwissObliqueMercatorProj(parse_proj4(p4))
            # alpha-scaled aliasing band, or the rotated pole points
            # (|sb| -> 1, Mercator y -> inf) near lat ~ +/-(90 - |b0-lat|)
            assert dlam > sm.dlam_max_deg - 1.5 or abs(la) > 80.0
        else:
            raise AssertionError(f"unexpected NaN from {fam} at ({lon}, {la})")
        return
    if fam == "ortho" and _near_antipode(lon, la, lon0, -p0 * sgn, 90.01):
        return  # limb ring: forward defined but inverse ill-conditioned
    if fam == "gnom" and _near_antipode(lon, la, lon0, -p0 * sgn, 92.0):
        return  # near-horizon: coordinates blow up ~1/cos(c), inverse
                # angle resolution degrades — outside the useful domain
    if fam == "aeqd" and _near_antipode(lon, la, lon0, -p0 * sgn, 3.0):
        return  # boundary-circle neighborhood: direction ill-conditioned
    if fam == "aeqd_ell" and _near_antipode(lon, la, lon0, -p0 * sgn, 0.05):
        return  # r7: the band round-trips exactly (antipodal solver);
                # only the ~exact antipode keeps a dodge — the DIRECTION
                # there is genuinely arbitrary (all azimuths reach it)
    lo2, la2 = inv(x, y)
    dlon = abs(((float(lo2[0]) - lon + 180.0) % 360.0) - 180.0)
    assert dlon < 1e-6 and abs(float(la2[0]) - la) < 1e-6


@settings(max_examples=80, deadline=None)
@given(
    star_polygon(),
    st.lists(st.tuples(coord, lat), min_size=1, max_size=6),
    st.integers(0, 3),
)
def test_wkb_gpkg_shp_codec_property(poly, pts, shape_kind):
    """Round-4 container codecs under randomized geometries: WKB and
    the GPKG blob round-trip exactly; the shapefile record codec
    preserves coordinate content and ring structure (winding is
    normalized to the spec, so compare content)."""
    from gdal_boots_spark.sources.gpkg import geojson_to_wkb, make_gpkg_blob, parse_gpkg_blob, wkb_to_geojson
    from gdal_boots_spark.sources.shp import _geom_to_shp, _shp_to_geom

    if shape_kind == 0:
        geom = poly
    elif shape_kind == 1:
        geom = {"type": "MultiPoint", "coordinates": [[x, y] for x, y in pts]}
    elif shape_kind == 2:
        geom = {"type": "LineString", "coordinates": [[x, y] for x, y in pts] + [[0.0, 0.0], [1.0, 1.0]]}
    else:
        geom = {"type": "MultiPolygon", "coordinates": [poly["coordinates"]]}
    # WKB + GPKG blob: exact round-trip
    assert wkb_to_geojson(geojson_to_wkb(geom)) == geom
    assert parse_gpkg_blob(make_gpkg_blob(geom)) == geom
    # shapefile record: content-preserving (winding/type normalization)
    st_, body = _geom_to_shp(geom)
    back = _shp_to_geom(st_, body)

    def pts_of(g):
        if g["type"] == "Point":
            return {tuple(g["coordinates"])}
        if g["type"] == "MultiPoint":
            return {tuple(p) for p in g["coordinates"]}
        if g["type"] == "LineString":
            return {tuple(p) for p in g["coordinates"]}
        if g["type"] in ("MultiLineString", "Polygon"):
            return {tuple(p) for part in g["coordinates"] for p in part}
        return {tuple(p) for poly_ in g["coordinates"] for ring in poly_ for p in ring}

    assert pts_of(back) == pts_of(geom)


@settings(max_examples=400, deadline=None)
@given(
    minx=st.floats(-180.0, 179.999),
    miny=st.floats(-90.0, 89.999),
    w=st.floats(1e-9, 359.0),
    h=st.floats(1e-9, 179.0),
    res=st.integers(4, 16),
)
@example(minx=-180.0, miny=-90.0, w=360.0 / (1 << 9), h=180.0 / (1 << 9), res=9)
def test_adaptive_level_cover_bound_property(minx, miny, w, h, res):
    """The adaptive span level (spatial_join._poly_span_candidates):
    lvl = clamp(floor(log2(min(360/w, 180/h))), res-WINDOW, res) must
    (a) stay in range, and (b) whenever the WINDOW floor did not clamp,
    bound the bbox cover at that level to <= 2x2 cells — including
    float-boundary cases where the span width equals the cell size."""
    import math

    from gdal_boots_spark.geom.cells import cover_bbox
    from gdal_boots_spark.operators.spatial_join import ADAPTIVE_LEVEL_WINDOW

    maxx = min(minx + w, 180.0)
    maxy = min(miny + h, 90.0)
    w_eff = max(maxx - minx, 1e-12)
    h_eff = max(maxy - miny, 1e-12)
    lmin = max(0, res - ADAPTIVE_LEVEL_WINDOW)
    raw = int(math.floor(math.log2(min(360.0 / w_eff, 180.0 / h_eff))))
    lvl = max(lmin, min(res, raw))
    assert lmin <= lvl <= res
    cells = cover_bbox(minx, miny, maxx, maxy, lvl)
    if raw >= lmin:  # window floor did not clamp: the 2x2 guarantee
        assert len(cells) <= 4, (minx, miny, maxx, maxy, lvl, len(cells))
    assert len(set(cells.tolist())) == len(cells)
