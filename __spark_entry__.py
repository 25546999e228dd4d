"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Every spatial query here runs through the real engine machinery
(gdal_boots_spark): interleaved-span extraction, packed-geometry
decode, native cell-id math, cell-bucketed broadcast join, Arrow-batched
ray-cast refinement.  The oracle SQL reproduces the same semantics
analytically (the doc_id -> lon/lat derivation is pure integer
arithmetic shared via gdal_boots_spark.sources.synth).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_boots_spark.operators.spans import explode_spans
from gdal_boots_spark.operators.spatial_join import pip_join_docs
from gdal_boots_spark.sources.synth import read_parquet_memo as _pq
from gdal_boots_spark.sources.synth import (
    POLY_SPAN_H,
    POLY_SPAN_W,
    SQL_HAS_GEO,
    SQL_HAS_POLY,
    SQL_LAT,
    SQL_LON,
    SQL_PMINX,
    SQL_PMINY,
    interleaved_docs,
    rect_polygons_df,
    rects_sql_values,
)

SF0001 = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: interleaved docs x polygon dim, cell-bucketed PIP join."""
    docs = interleaved_docs(spark, sf_dir)
    polys = rect_polygons_df(spark)
    out = pip_join_docs(docs, polys)
    return out.selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "poly_id")


def q_pip_join_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship join with MIXED-geometry geo spans: Point spans via the
    codegen PIP fast path, rectangular Polygon spans (d % 10 == 3,
    synth.SQL_PMINX derivation) via decode -> cover -> GEOS-Intersects
    refinement (pip_join_docs_any).  The oracle is analytic: half-open
    containment for points, strict interval overlap for rects (corner
    lattices guarantee no touching, so strict == GEOS-closed)."""
    from gdal_boots_spark.operators.spatial_join import pip_join_docs_any

    docs = interleaved_docs(spark, sf_dir, poly_spans=True)
    polys = rect_polygons_df(spark)
    out = pip_join_docs_any(docs, polys)
    return out.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        "CAST(span_pos AS BIGINT) AS span_pos",
        "poly_id",
    )


def q_pip_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The big-polygon-side flagship variant: NO driver collect — the
    polygon side decodes + cover-explodes distributed, candidates come
    from a SALTED shuffle hash join on cell_id (north_rule: 'skew is
    handled explicitly with salted repartitioning on hot cells'), and
    the ray-cast refinement reads each polygon's packed coords from the
    candidate rows.  Output is identical to pip_join, so it shares the
    same analytic oracle."""
    from gdal_boots_spark.functions.geometry_fns import point_xy_sql
    from gdal_boots_spark.operators.spatial_join import extract_geo_spans, pip_join_points_shuffle

    docs = interleaved_docs(spark, sf_dir)
    polys = rect_polygons_df(spark)
    geo = extract_geo_spans(docs)
    xs, ys, ps = point_xy_sql("text")
    pts = geo.where(ps).selectExpr("doc_id", f"{xs} AS x", f"{ys} AS y").where("x IS NOT NULL AND y IS NOT NULL")
    out = pip_join_points_shuffle(pts, polys, salt=4, hot_threshold=50)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), F.col("poly_id").alias("poly_id"))


def q_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile/cell assignment of every geo span at resolution 8."""
    from gdal_boots_spark.functions.geometry_fns import cell_id_sql, point_xy_sql
    from gdal_boots_spark.operators.spatial_join import extract_geo_spans

    docs = interleaved_docs(spark, sf_dir)
    geo = extract_geo_spans(docs)
    xs, ys, ps = point_xy_sql("text")
    return geo.where(ps).selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        f"{cell_id_sql(xs, ys, 8)} AS cell_id",
    )


def q_geo_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-span extraction: doc_id + decoded lon/lat (rounded to 6)."""
    from gdal_boots_spark.operators.spatial_join import extract_geo_spans

    from gdal_boots_spark.functions.geometry_fns import point_xy_sql

    docs = interleaved_docs(spark, sf_dir)
    geo = extract_geo_spans(docs)
    xs, ys, ps = point_xy_sql("text")
    return geo.where(ps).selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        f"ROUND({xs}, 6) AS x",
        f"ROUND({ys}, 6) AS y",
    )


def q_span_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-structure audit of the interleaved table: per-doc span count
    and kind histogram fields (exercises posexplode + groupBy)."""
    docs = interleaved_docs(spark, sf_dir)
    ex = explode_spans(docs)
    return ex.groupBy(F.expr("CAST(doc_id AS BIGINT)").alias("doc_id")).agg(
        F.expr("count(*) AS n_spans"),
        F.expr("SUM(CASE WHEN kind = 'geo' THEN 1 ELSE 0 END) AS n_geo"),
        F.expr("SUM(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS n_media"),
    )


def q_point_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """values_by_points (gdal.py:897-931) through the real tile-table
    machinery: a 2-band 50x30 ramp raster (res 0.25, binary tile blobs,
    16px tiles) sampled at points derived from customer keys; NULL for
    out-of-bounds (left-outer semantics, golden test_raster.py:648-668).

    The 0.25 resolution and quarter-valued coordinates are exact in
    binary floating point, so the oracle's analytic pixel math agrees
    with the engine's inverse-affine to the last bit.
    """
    from gdal_boots_spark.operators.sampling import values_by_points
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid(
        raster_id="rq", epsg=4326, transform=(0.25, 0.0, 0.0, 0.0, -0.25, 7.5),
        width=50, height=30, tile_w=16, tile_h=16, bands=2, dtype="int32",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    cust = _pq(spark, f"{sf_dir}/customer.parquet")
    pts = cust.selectExpr(
        "c_custkey AS point_id",
        "-2.0D + CAST((c_custkey * 13) % 70 AS DOUBLE) / 4.0D AS x",
        "-2.0D + CAST((c_custkey * 29) % 60 AS DOUBLE) / 4.0D AS y",
    )
    return values_by_points(pts, tiles, grid)


def q_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector->raster burn (Layer.rasterize, gdal.py:1092-1107): the
    polygon dim burned onto a 300x200 grid (res 0.01 over the Minsk
    region), verified by exact value histogram — the reference's own
    oracle style (test_vector.py:76-78).  The DuckDB oracle evaluates
    center coverage for all 60k pixel centers analytically."""
    from gdal_boots_spark.operators.rasterize import rasterize
    from gdal_boots_spark.operators.stats import tile_histogram
    from gdal_boots_spark.sources.tiles import RasterGrid

    grid = RasterGrid(
        raster_id="burn", epsg=4326, transform=(0.01, 0.0, 26.0, 0.0, -0.01, 55.0),
        width=300, height=200, tile_w=64, tile_h=64, bands=1, dtype="uint8",
    )
    tiles = rasterize(spark, rect_polygons_df(spark), grid, all_touched=False, dense=True)
    return tile_histogram(tiles).select("value", "cnt")


def q_resample_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-downsample (Resampling.average, gdal.py:196) of an
    analytic ramp raster, emitted as a pixel table.  Block means of the
    ramp value row*W+col+1 are closed-form, so the oracle reproduces
    every output pixel exactly."""
    from gdal_boots_spark.operators.stats import tiles_to_pixels
    from gdal_boots_spark.operators.warp import resample
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid(
        raster_id="rs", epsg=4326, transform=(0.25, 0.0, 0.0, 0.0, -0.25, 12.0),
        width=64, height=48, tile_w=16, tile_h=16, bands=1, dtype="int32",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    out_tiles, og = resample(tiles, grid, "average", resolution=(1.0, 1.0))
    return tiles_to_pixels(out_tiles, og.tile_w, og.tile_h).select("row", "col", "value")


def q_resample_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cubic (Keys a=-0.5) upsample x2 of a float64 ramp raster
    (Resampling.cubic, gdal.py:191).  At half-pixel offsets every tap
    weight is an exact binary fraction and the ramp is affine, so the
    separable convolution (incl. edge index clamping) is reproducible
    in closed form: value = W * Sy + Sx + 1 with Sy/Sx the weighted
    clamped-tap-index sums (weights sum to exactly 1.0)."""
    from gdal_boots_spark.operators.stats import tiles_to_pixels
    from gdal_boots_spark.operators.warp import resample
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid(
        raster_id="rc", epsg=4326, transform=(0.25, 0.0, 0.0, 0.0, -0.25, 6.0),
        width=32, height=24, tile_w=16, tile_h=16, bands=1, dtype="float64",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    out_tiles, og = resample(tiles, grid, "cubic", resolution=(0.125, 0.125))
    return tiles_to_pixels(out_tiles, og.tile_w, og.tile_h).select(
        "row", "col", F.round("value", 6).alias("value")
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-pruned exact kNN (ring expansion over the cell index):
    supplier-derived query points x customer-derived base points, k=3.
    The oracle is the definitional cross-join + window top-k."""
    from gdal_boots_spark.operators.knn import knn_join

    cust = _pq(spark, f"{sf_dir}/customer.parquet")
    supp = _pq(spark, f"{sf_dir}/supplier.parquet")
    base = cust.selectExpr(
        "c_custkey AS bid",
        "26.0D + CAST((c_custkey * 7919) % 3000 AS DOUBLE) / 1000.0D AS x",
        "53.0D + CAST((c_custkey * 104729) % 2000 AS DOUBLE) / 1000.0D AS y",
    )
    query = supp.selectExpr(
        "s_suppkey AS qid",
        "26.0D + CAST((s_suppkey * 4409) % 3000 AS DOUBLE) / 1000.0D AS x",
        "53.0D + CAST((s_suppkey * 9973) % 2000 AS DOUBLE) / 1000.0D AS y",
    )
    out = knn_join(query, base, k=3)
    return out.selectExpr("qid", "bid", "CAST(rank AS BIGINT) AS rnk")


def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-within join (fixed radius companion of kNN): one cell
    block explode + one equi-join + exact distance filter, no dedup
    shuffle.  Oracle is the definitional cross join."""
    from gdal_boots_spark.operators.knn import radius_join

    cust = _pq(spark, f"{sf_dir}/customer.parquet")
    supp = _pq(spark, f"{sf_dir}/supplier.parquet")
    ck, sk = F.col("c_custkey"), F.col("s_suppkey")
    base = cust.select(
        ck.alias("bid"),
        (F.lit(26.0) + ((ck * 7919) % 3000).cast("double") / 1000.0).alias("x"),
        (F.lit(53.0) + ((ck * 104729) % 2000).cast("double") / 1000.0).alias("y"),
    )
    query = supp.select(
        sk.alias("qid"),
        (F.lit(26.0) + ((sk * 4409) % 3000).cast("double") / 1000.0).alias("x"),
        (F.lit(53.0) + ((sk * 9973) % 2000).cast("double") / 1000.0).alias("y"),
    )
    out = radius_join(query, base, radius=0.05)
    return out.select("qid", "bid", F.round("dist", 9).alias("dist"))


def q_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster->vector (to_vector, gdal.py:609-623): burn the 12 DISJOINT
    grid rectangles (poly_id < 100) at res 0.01, polygonize with
    cross-tile stitching, emit per-component pixel counts.  Each rect is
    one 4-connected component, so the oracle computes every component's
    center-coverage count analytically."""
    from gdal_boots_spark.operators.polygonize import polygonize
    from gdal_boots_spark.operators.rasterize import rasterize
    from gdal_boots_spark.sources.tiles import RasterGrid

    grid = RasterGrid(
        raster_id="pzq", epsg=4326, transform=(0.01, 0.0, 26.0, 0.0, -0.01, 55.0),
        width=300, height=200, tile_w=64, tile_h=64, bands=1, dtype="uint8",
    )
    polys = rect_polygons_df(spark).where(F.col("poly_id") < 100)
    tiles = rasterize(spark, polys, grid, all_touched=False, dense=True)
    out = polygonize(spark, tiles, grid, exclude=0)
    return out.select("n_pixels")


def q_geom_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GeoJSON decode pass: packed geometry -> envelope
    (Feature.bounds, gdal.py:961-962) over the polygon dim."""
    from gdal_boots_spark.functions.geometry_fns import decode_geojson

    g = decode_geojson(rect_polygons_df(spark), "geojson", ["poly_id"])
    return g.selectExpr("poly_id", "minx AS bminx", "miny AS bminy", "maxx AS bmaxx", "maxy AS bmaxy")


def q_crs_3857(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized CRS transform (geometry.py:142-145 semantics): doc geo
    points 4326 -> 3857 via the packed-geometry transform UDF, rounded
    to cm.  Oracle uses the identical closed-form Web-Mercator
    expression (same operation order, bit-compatible)."""
    from gdal_boots_spark.functions.geometry_fns import geojson_decode_udf, transform_geom_udf
    from gdal_boots_spark.operators.spatial_join import extract_geo_spans

    docs = interleaved_docs(spark, sf_dir)
    geo = extract_geo_spans(docs)
    g = geo.withColumn("geom", geojson_decode_udf(F.col("text")))
    t = g.withColumn("tg", transform_geom_udf(4326, 3857)(F.col("geom")))
    return t.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(F.col("tg.coords")[0], 2).alias("mx"),
        F.round(F.col("tg.coords")[1], 2).alias("my"),
    )


_LCC_P4 = "+proj=lcc +lat_0=40 +lon_0=10 +lat_1=35 +lat_2=55 +x_0=2000000 +y_0=1000000 +ellps=WGS84"


def q_crs_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambert-conformal (2SP) reprojection of doc geo points — the
    proj4 the r2 verdict named as the first gap a real user would hit
    beyond webmercator/UTM/AEA.  Same shape as q_crs_3857: packed-
    geometry transform UDF, cm rounding; the oracle replays Snyder
    15-1..15-11 in SQL with the projection constants (e, n, F, rho0)
    embedded as double literals from the same LambertConformalProj."""
    from gdal_boots_spark.functions.geometry_fns import geojson_decode_udf, transform_geom_udf
    from gdal_boots_spark.operators.spatial_join import extract_geo_spans

    docs = interleaved_docs(spark, sf_dir)
    geo = extract_geo_spans(docs)
    g = geo.withColumn("geom", geojson_decode_udf(F.col("text")))
    t = g.withColumn("tg", transform_geom_udf(4326, _LCC_P4)(F.col("geom")))
    return t.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(F.col("tg.coords")[0], 2).alias("mx"),
        F.round(F.col("tg.coords")[1], 2).alias("my"),
    )


def q_crop_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """crop_by_geometry (gdal.py:819-888) end-to-end: 80x60 ramp raster
    at res 0.25, rectangular cutline, center-coverage mask, nodata 0 —
    per-value histogram of the masked window.  Window snap, mask
    coverage, and kept ramp values are all closed-form for the oracle."""
    from gdal_boots_spark.operators.crop import crop_by_geometry
    from gdal_boots_spark.operators.stats import tile_histogram
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid(
        raster_id="ch", epsg=4326, transform=(0.25, 0.0, 0.0, 0.0, -0.25, 15.0),
        width=80, height=60, tile_w=16, tile_h=16, bands=1, dtype="int32", nodata=0.0,
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    # quarter-aligned-but-offset rect: snaps outward by the fast_warp rule
    cut = {
        "type": "Polygon",
        "coordinates": [[[3.2, 4.2], [12.7, 4.2], [12.7, 11.7], [3.2, 11.7], [3.2, 4.2]]],
    }
    masked, _, og = crop_by_geometry(spark, tiles, grid, cut, all_touched=False)
    return tile_histogram(masked).select("value", "cnt")


def q_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mosaic last-wins (union goldens test_raster.py:628-645 semantics):
    two overlapping ramp rasters, second shifted 8px right/4px down and
    offset +100000 in value; emit the merged pixel table."""
    from gdal_boots_spark.operators.mosaic import mosaic
    from gdal_boots_spark.operators.stats import tiles_to_pixels
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    g1 = RasterGrid("m1", 4326, (0.25, 0.0, 0.0, 0.0, -0.25, 10.0), 32, 24, 16, 16, 1, "int32")
    g2 = RasterGrid("m2", 4326, (0.25, 0.0, 2.0, 0.0, -0.25, 9.0), 32, 24, 16, 16, 1, "int32")
    t1 = generate_tiles(spark, g1, ramp_fill)

    def fill2(band, ty, tx, h, w, g):
        return ramp_fill(band, ty, tx, h, w, g) + 100000

    t2 = generate_tiles(spark, g2, fill2)
    out, og = mosaic(spark, [(t1, g1), (t2, g2)])
    return tiles_to_pixels(out, og.tile_w, og.tile_h).select("row", "col", "value")


def q_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster reprojection 4326 -> 3857 (warp out_epsg arm,
    gdal.py:716-719), nearest kernel, EXPLICIT output grid so the
    oracle can run the same inverse mapping in closed form."""
    from gdal_boots_spark.operators.reproject import reproject
    from gdal_boots_spark.operators.stats import tiles_to_pixels
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    src = RasterGrid("rpq", 4326, (0.05, 0.0, 26.0, 0.0, -0.05, 55.0), 64, 48, 16, 16, 1, "int32")
    tiles = generate_tiles(spark, src, ramp_fill)
    # fixed dst grid over the same area in meters (constants mirrored in SQL)
    dst = RasterGrid(
        "rpq_prj", 3857, (6000.0, 0.0, 2894000.0, 0.0, -6000.0, 7362000.0),
        width=60, height=48, tile_w=16, tile_h=16, bands=1, dtype="int32",
    )
    out, og = reproject(tiles, src, 3857, kernel="nearest", out_grid=dst)
    return tiles_to_pixels(out, og.tile_w, og.tile_h).select("row", "col", "value")


def q_warp_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one-call warp (gdal.py:653-737) as the engine
    composition: mosaic(extra ds, last-wins) -> bbox window slice
    (snap) -> average resample (x2).  Every arm is closed-form over the
    two analytic ramps, so the composed pixel table has an exact SQL
    oracle."""
    from gdal_boots_spark.operators.stats import tiles_to_pixels
    from gdal_boots_spark.operators.warp_facade import warp
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    g1 = RasterGrid("w1", 4326, (0.25, 0.0, 0.0, 0.0, -0.25, 10.0), 32, 24, 16, 16, 1, "int32")
    g2 = RasterGrid("w2", 4326, (0.25, 0.0, 2.0, 0.0, -0.25, 9.0), 32, 24, 16, 16, 1, "int32")
    t1 = generate_tiles(spark, g1, ramp_fill)

    def fill2(band, ty, tx, h, w, g):
        return ramp_fill(band, ty, tx, h, w, g) + 100000

    t2 = generate_tiles(spark, g2, fill2)
    out_tiles, og = warp(
        spark, t1, g1, bbox=(1.3, 4.2, 8.7, 8.9), resampling="average",
        extra=[(t2, g2)], resolution=(0.5, 0.5),
    )
    return tiles_to_pixels(out_tiles, og.tile_w, og.tile_h).select("row", "col", "value")


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew handling (north_rule): lineitem (heavily reusing
    supplier keys) joined to supplier through the hot-key salted join;
    result rows are identical to the plain join, which IS the oracle."""
    from gdal_boots_spark.operators.skew import salted_join

    li = _pq(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    supp = _pq(spark, f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    out = salted_join(li, supp, "l_suppkey", salt=8, hot_threshold=100)
    return out.groupBy("l_suppkey", "s_nationkey").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 3).alias("qty")
    )


def q_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (SURVEY §2.3): orders-derived rects x
    part-derived rects via the cell-bucketed bbox-overlap join with the
    dedup-free reporting-cell trick.  Oracle is the definitional
    interval-overlap cross join."""
    from gdal_boots_spark.operators.bbox_join import bbox_overlap_join

    orders = _pq(spark, f"{sf_dir}/orders.parquet")
    part = _pq(spark, f"{sf_dir}/part.parquet")
    left = orders.selectExpr(
        "o_orderkey AS lid",
        "26.0D + CAST((o_orderkey * 271) % 2900 AS DOUBLE) / 1000.0D AS lminx",
        "53.0D + CAST((o_orderkey * 577) % 1900 AS DOUBLE) / 1000.0D AS lminy",
    ).selectExpr(
        "lid", "lminx", "lminy",
        "lminx + 0.04D AS lmaxx", "lminy + 0.04D AS lmaxy",
    )
    right = part.selectExpr(
        "p_partkey AS rid",
        "26.0D + CAST((p_partkey * 383) % 2900 AS DOUBLE) / 1000.0D AS rminx",
        "53.0D + CAST((p_partkey * 769) % 1900 AS DOUBLE) / 1000.0D AS rminy",
    ).selectExpr(
        "rid", "rminx", "rminy",
        "rminx + 0.05D AS rmaxx", "rminy + 0.05D AS rmaxy",
    )
    # res=None: data-driven resolution (auto_res -> 12 for these rect
    # shapes; r6-verdict item 6 — res=10 dilated every rect by a
    # 0.35 x 0.18 deg cell: 62.4M join rows over 120 skewed cells for
    # 4.38M true pairs at bench density, measured -40% wall at res 12)
    return bbox_overlap_join(left, right, res=None).select("lid", "rid")


def q_bbox_join_hetero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bbox overlap on HETEROGENEOUS rect sizes (85% 0.02-deg, 10%
    0.4-deg, 5% 4-deg — three orders of magnitude) through the
    adaptive multi-level cover (bbox_overlap_join_adaptive): each rect
    buckets at its own level, pairs count once at min(level) — the
    corpus mix a single global resolution cannot bucket without either
    exploding the big rects or dilating the small ones.  Oracle is the
    definitional interval-overlap cross join; sizes are integer-
    derived doubles so both engines compute identical IEEE sums."""
    from gdal_boots_spark.operators.bbox_join import bbox_overlap_join_adaptive

    supp = _pq(spark, f"{sf_dir}/supplier.parquet")
    part = _pq(spark, f"{sf_dir}/part.parquet")

    def side(df, key, p, mx, my):
        k = F.col(key)
        w = F.when(k % 20 < 17, 20).when(k % 20 < 19, 400).otherwise(4000).cast("double") / 1000.0
        h = F.when(k % 20 < 17, 14).when(k % 20 < 19, 280).otherwise(2800).cast("double") / 1000.0
        return df.select(
            k.alias(f"{p}id"),
            (F.lit(26.0) + ((k * mx) % 2900).cast("double") / 1000.0).alias(f"{p}minx"),
            (F.lit(53.0) + ((k * my) % 1900).cast("double") / 1000.0).alias(f"{p}miny"),
            w.alias("_w"), h.alias("_h"),
        ).select(
            f"{p}id", f"{p}minx", f"{p}miny",
            (F.col(f"{p}minx") + F.col("_w")).alias(f"{p}maxx"),
            (F.col(f"{p}miny") + F.col("_h")).alias(f"{p}maxy"),
        )

    left = side(supp, "s_suppkey", "l", 271, 577)
    right = side(part, "p_partkey", "r", 383, 769)
    return bbox_overlap_join_adaptive(left, right).select(
        F.col("lid"), F.col("rid")
    )


def q_intersects_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact polygon-intersects join (GEOS Intersects semantics incl.
    touching): orders-derived rect polygons x part-derived rect
    polygons.  The two corner lattices are offset (3-decimal vs
    4th-decimal-4) so no pair can touch exactly and the oracle's strict
    interval overlap equals the engine predicate with >= 1e-4 margin
    (ULP-safe through the GeoJSON round-trip)."""
    from gdal_boots_spark.operators.bbox_join import intersects_join

    orders = _pq(spark, f"{sf_dir}/orders.parquet")
    part = _pq(spark, f"{sf_dir}/part.parquet")
    ok, pk = F.col("o_orderkey"), F.col("p_partkey")

    def rect_gj(minx, miny, w, h):
        return F.format_string(
            '{"type":"Polygon","coordinates":[[[%.5f,%.5f],[%.5f,%.5f],[%.5f,%.5f],[%.5f,%.5f],[%.5f,%.5f]]]}',
            minx, miny, minx + w, miny, minx + w, miny + h, minx, miny + h, minx, miny,
        )

    lminx = F.lit(26.0) + ((ok * 271) % 2800).cast("double") / 1000.0
    lminy = F.lit(53.0) + ((ok * 577) % 1800).cast("double") / 1000.0
    left = orders.select(ok.alias("poly_id"), rect_gj(lminx, lminy, F.lit(0.04), F.lit(0.04)).alias("geojson"))
    rminx = F.lit(26.0004) + ((pk * 383) % 2800).cast("double") / 1000.0
    rminy = F.lit(53.0004) + ((pk * 769) % 1800).cast("double") / 1000.0
    right = part.select(pk.alias("poly_id"), rect_gj(rminx, rminy, F.lit(0.05), F.lit(0.05)).alias("geojson"))
    return intersects_join(left, right, res=None)


def q_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (classic raster x vector, Raptor-style): ramp
    raster at res 0.01 aggregated per polygon-dim rect; every aggregate
    is closed-form over the covered pixel-center range."""
    from gdal_boots_spark.operators.zonal import zonal_stats
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid(
        raster_id="zs", epsg=4326, transform=(0.01, 0.0, 26.0, 0.0, -0.01, 55.0),
        width=300, height=200, tile_w=64, tile_h=64, bands=1, dtype="int32",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    out = zonal_stats(spark, tiles, grid, rect_polygons_df(spark))
    return out.select(
        "poly_id", "n_pixels", "sum", "min", "max", F.round("mean", 9).alias("mean")
    )


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed event-time aggregation over the events stream table
    (the batch face of streaming/doc_stream's windowed counts):
    per-hour, per-type counts + value sums."""
    ev = _pq(spark, f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("v")
    ).select(F.col("w.start").alias("w_start"), "event_type", "n", "v")


def q_fast_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fast_warp window slice (gdal.py:739-817): offset bbox snapped
    outward to the pixel grid (floor/ceil), pure slice of an 80x60 ramp
    raster at res 0.25 — the snap arithmetic and kept values are
    closed-form for the oracle (goldens test_raster.py:309-365)."""
    from gdal_boots_spark.operators.stats import tiles_to_pixels
    from gdal_boots_spark.operators.warp import fast_warp
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid(
        raster_id="fw", epsg=4326, transform=(0.25, 0.0, 0.0, 0.0, -0.25, 15.0),
        width=80, height=60, tile_w=16, tile_h=16, bands=1, dtype="int32",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    out_tiles, og = fast_warp(tiles, grid, (3.2, 4.2, 12.7, 11.7), clip=True)
    return tiles_to_pixels(out_tiles, og.tile_w, og.tile_h).select("row", "col", "value")


def q_write_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write window write (__setitem__ scalar broadcast,
    gdal.py:392-472): burn 777 into band 0 pixels [5,20)x[3,17) of a
    2-band ramp raster; emit the full pixel table."""
    from gdal_boots_spark.operators.raster_ops import write_window
    from gdal_boots_spark.operators.stats import tiles_to_pixels
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid(
        raster_id="ww", epsg=4326, transform=(0.25, 0.0, 0.0, 0.0, -0.25, 7.5),
        width=50, height=30, tile_w=16, tile_h=16, bands=2, dtype="int32",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    out = write_window(tiles, grid, (5, 3, 20, 17), 777, band=0)
    return tiles_to_pixels(out, grid.tile_w, grid.tile_h).select("band", "row", "col", "value")


def q_make_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_valid through the Spark UDF surface on the reference's
    repair goldens (test_geometry.py:184-247): emit rotation-invariant
    summaries (type, ring count, point count, envelope) per fixture;
    the oracle is the goldens' literal summaries."""
    import json as _json

    from gdal_boots_spark.functions.geometry_fns import decode_geojson, make_valid_geojson_udf
    from gdal_boots_spark.sources.synth import BOWTIE_POLYGON

    self_touch = {
        "type": "Polygon",
        "coordinates": [[
            [26.531982, 54.204223], [26.740722, 53.855766], [28.168945, 53.448806],
            [28.372192, 54.007768], [26.779174, 53.402982], [28.883056, 53.176411],
            [28.943481, 54.188155], [26.531982, 54.204223],
        ]],
    }
    square = {"type": "Polygon", "coordinates": [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]]}
    rows = [(1, _json.dumps(BOWTIE_POLYGON)), (2, _json.dumps(self_touch)), (3, _json.dumps(square))]
    df = spark.createDataFrame(rows, "fid long, geojson string")
    rep = df.select("fid", make_valid_geojson_udf(F.col("geojson")).alias("rj"))
    g = decode_geojson(rep, "rj", ["fid"])
    return g.select(
        "fid",
        F.col("geom.gtype").cast("long").alias("gtype"),
        (F.size("geom.ring_offsets") - 1).cast("long").alias("n_rings"),
        (F.size("geom.coords") / 2).cast("long").alias("n_points"),
        F.round("minx", 6).alias("bminx"), F.round("miny", 6).alias("bminy"),
        F.round("maxx", 6).alias("bmaxx"), F.round("maxy", 6).alias("bmaxy"),
    )


def q_to_epsg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-column vectorized vector CRS transform (vector_to_epsg —
    the reference loops one osr call per feature, gdal.py:1316-1325):
    polygon dim 4326 -> 3857, envelopes rounded to cm."""
    from gdal_boots_spark.functions.geometry_fns import geojson_decode_udf
    from gdal_boots_spark.operators.reproject import vector_to_epsg

    polys = rect_polygons_df(spark).withColumn("geometry", geojson_decode_udf(F.col("geojson")))
    t = vector_to_epsg(polys, 4326, 3857, "geometry")
    # envelope of the transformed coords, in codegen (x at even indices)
    xs = "filter(geometry.coords, (v, i) -> i % 2 = 0)"
    ys = "filter(geometry.coords, (v, i) -> i % 2 = 1)"
    return t.selectExpr(
        "poly_id",
        f"round(array_min({xs}), 2) AS mminx", f"round(array_min({ys}), 2) AS mminy",
        f"round(array_max({xs}), 2) AS mmaxx", f"round(array_max({ys}), 2) AS mmaxy",
    )


def q_tile_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile crc32 + byte-length probe (is_valid analogue,
    gdal.py:537-544) over a generated ramp raster; the oracle
    recomputes every tile blob independently (NumPy + zlib on the
    analytic ramp) and compares as literals."""
    from gdal_boots_spark.operators.stats import tile_checksum
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid(
        raster_id="ck", epsg=4326, transform=(0.25, 0.0, 0.0, 0.0, -0.25, 6.0),
        width=40, height=24, tile_w=16, tile_h=16, bands=1, dtype="int32",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    return tile_checksum(tiles)


def _tile_checksum_oracle_sql() -> str:
    """Independent recomputation of q_tile_checksum's expected rows:
    the ramp is analytic, so each tile blob is rebuilt from the formula
    (NumPy int32 row-major bytes) and hashed with zlib.crc32 here — no
    engine code involved."""
    import zlib

    import numpy as np

    W, H, tw, th = 40, 24, 16, 16
    rows = []
    for ty in range(-(-H // th)):
        for tx in range(-(-W // tw)):
            h, w = min(th, H - ty * th), min(tw, W - tx * tw)
            arr = (
                np.arange(ty * th, ty * th + h, dtype=np.int64)[:, None] * W
                + np.arange(tx * tw, tx * tw + w, dtype=np.int64)[None, :] + 1
            ).astype(np.int32)
            crc = zlib.crc32(arr.tobytes()) & 0xFFFFFFFF
            rows.append(f"('ck/0/{ty}/{tx}', {crc}, {arr.nbytes})")
    vals = ", ".join(rows)
    return f"""
        SELECT tile_key, CAST(crc32 AS BIGINT) AS crc32, CAST(n_bytes AS BIGINT) AS n_bytes
        FROM (VALUES {vals}) t(tile_key, crc32, n_bytes)
    """


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal media columns end-to-end: media spans joined to the
    tile store (media_ref == tile_key), Arrow-batched decode + feature
    extraction.  The features are moments/quantiles of analytic ramp
    tiles, so DuckDB reproduces every element (AVG/STDDEV_POP/
    quantile_cont over the regenerated 256-pixel lattice per tile)."""
    from gdal_boots_spark.sources.media import media_features
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid(
        raster_id="r0", epsg=4326, transform=(0.01, 0.0, 26.0, 0.0, -0.01, 55.0),
        width=128, height=128, tile_w=16, tile_h=16, bands=1, dtype="int32",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    docs = interleaved_docs(spark, sf_dir)
    out = media_features(docs, tiles)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("span_pos").cast("long").alias("span_pos"),
        "media_ref",
        "n_bytes",
        *[F.round(F.col("feat")[i], 6).alias(f"f{i}") for i in range(8)],
    )


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize (decode -> engine bilinear kernel -> pixels): 16x16
    float64 ramp tiles to 4x4.  At an exact x4 factor every bilinear
    weight is exactly 0.5 and the ramp is affine, so each output pixel
    is closed-form dyadic arithmetic — the oracle is bit-exact."""
    import pandas as _pd

    from gdal_boots_spark.sources.media import media_resize
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid(
        raster_id="r0", epsg=4326, transform=(0.01, 0.0, 26.0, 0.0, -0.01, 55.0),
        width=128, height=128, tile_w=16, tile_h=16, bands=1, dtype="float64",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    docs = interleaved_docs(spark, sf_dir)
    resized = media_resize(docs, tiles, out_w=4, out_h=4, kernel="bilinear")

    def explode_px(batches):
        import numpy as _np

        for pdf in batches:
            outs = []
            jj, ii = _np.meshgrid(_np.arange(4), _np.arange(4))
            for did, data in zip(pdf["doc_id"], pdf["data"]):
                arr = _np.frombuffer(data, dtype=_np.float64).reshape(4, 4)
                outs.append(
                    _pd.DataFrame(
                        {
                            "doc_id": int(did),
                            "i": ii.ravel().astype("int64"),
                            "j": jj.ravel().astype("int64"),
                            "value": arr.ravel(),
                        }
                    )
                )
            if outs:
                yield _pd.concat(outs, ignore_index=True)

    return resized.mapInPandas(explode_px, schema="doc_id long, i long, j long, value double")


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading rollup: minute partials -> hour ->
    day, each level re-aggregating the previous level's partials (one
    O(events) shuffle total).  Emitted at the DAY level; the oracle
    aggregates raw events directly per day, so the comparison proves
    the cascade is lossless."""
    from gdal_boots_spark.operators.rollup import event_rollup

    ev = _pq(spark, f"{sf_dir}/events.parquet")
    day = event_rollup(ev, ("1 minute", "1 hour", "1 day"))["1 day"]
    return day.select(
        "w_start", "event_type", "n",
        F.round("v", 6).alias("v"), F.round("vmin", 9).alias("vmin"), F.round("vmax", 9).alias("vmax"),
    )


# --- training-data pipeline queries (dedup / similarity / text) ----------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_boots_spark.operators.dedup import exact_dedup

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return exact_dedup(docs)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_boots_spark.operators.dedup import lsh_candidate_pairs

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return lsh_candidate_pairs(docs, n_hashes=16, bands=8)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_boots_spark.operators.dedup import simhash

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return simhash(docs, bits=32)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_boots_spark.operators.dedup import ngram_jaccard_topk

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return ngram_jaccard_topk(docs, k=20)


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3: pigeonhole
    byte-band bucket join (no-false-negative) + exact bit_count filter
    — exact AND complete, so the oracle is the definitional cross
    join over the same simhash formula."""
    from gdal_boots_spark.operators.dedup import simhash_neardup

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return simhash_neardup(docs, max_hamming=3, bits=32)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (dedup family, semantic face):
    exact broadcast-matrix pairs with cos >= 0.4 (the fixture
    embeddings are random, so 0.4 is the 'near-dup' tail — tens of
    pairs at these SFs).  Oracle: definitional cross join."""
    from gdal_boots_spark.operators.dedup import embedding_neardup

    emb = _pq(spark, f"{sf_dir}/embeddings.parquet")
    out = embedding_neardup(emb, threshold=0.4)
    return out.select("a", "b", F.round("cos", 9).alias("cos"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, whitespace AND BPE-ish regex segmentation
    (brief checklist) — both pure codegen columns."""
    from gdal_boots_spark.functions.text_fns import bpe_token_count, token_count

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_boots_spark.operators.ann import cosine_topk

    emb = _pq(spark, f"{sf_dir}/embeddings.parquet")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    return cosine_topk(queries_df, emb, k=5).select("qid", "bid", F.col("rank").cast("long").alias("rnk"))


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN (the scale path of similarity search).  The seeded
    integer hyperplanes are emitted as VALUES literals in the EXACT
    DuckDB oracle (_ann_lsh_oracle_sql); recall >= 0.7 vs brute force
    is additionally pytest-asserted (tests/test_pipeline_ops.py)."""
    from gdal_boots_spark.operators.ann import ann_lsh_topk

    emb = _pq(spark, f"{sf_dir}/embeddings.parquet")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    out = ann_lsh_topk(queries_df, emb, k=5, bits=4, n_tables=8)
    return out.select("qid", "bid", F.col("rank").cast("long").alias("rnk"))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF similarity search (deterministic integer coarse quantizer;
    the brief's 'IVF or LSH-bucketed variant' — engine ships both).
    Centroids are emitted as VALUES literals in the EXACT DuckDB oracle
    (_ann_ivf_oracle_sql); recall >= 0.7 vs brute force is additionally
    pytest-asserted (tests/test_pipeline_ops.py)."""
    from gdal_boots_spark.operators.ann import ivf_topk

    emb = _pq(spark, f"{sf_dir}/embeddings.parquet")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    out = ivf_topk(queries_df, emb, k=5, n_cells=16, n_probe=8)
    return out.select("qid", "bid", F.col("rank").cast("long").alias("rnk"))


def q_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure near-dup dedup: LSH pairs -> distributed
    connected components (min-doc_id canonical) -> every doc assigned
    to its group representative.  Oracle: the minhash_pairs SQL feeding
    a recursive-CTE reachability closure."""
    from gdal_boots_spark.operators.dedup import neardup_groups

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return neardup_groups(docs, n_hashes=16, bands=8)


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video-like media: a 6-frame tile store (band
    axis = frame axis), keep every 2nd frame.  The sampling is a
    decode-free codegen filter at the tile scan + the media_ref hash
    join; the query then emits a decoded per-frame pixel sum so the
    oracle (closed form over the analytic ramp) verifies the BLOBS of
    exactly the sampled frames, not just their keys."""
    from gdal_boots_spark.sources.media import media_frame_sample
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid(
        raster_id="r0", epsg=4326, transform=(0.01, 0.0, 26.0, 0.0, -0.01, 55.0),
        width=128, height=128, tile_w=16, tile_h=16, bands=6, dtype="int32",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    docs = interleaved_docs(spark, sf_dir)
    out = media_frame_sample(docs, tiles, every=2)

    def sums(batches):
        import numpy as _np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ps = [int(_np.frombuffer(d, dtype=_np.dtype(dt)).sum()) for d, dt in zip(pdf["data"], pdf["dtype"])]
            out_pdf = pdf[["doc_id", "span_pos", "media_ref", "frame"]].copy()
            out_pdf["pixel_sum"] = ps
            yield out_pdf

    res = out.mapInPandas(sums, schema="doc_id string, span_pos int, media_ref string, frame long, pixel_sum long")
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("span_pos").cast("long").alias("span_pos"),
        "media_ref", "frame", "pixel_sum",
    )

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (brief: "as-of join, range join, hypertable rollup"):
    every purchase event matched to the user's most recent signup at or
    before it — union-tag + ONE window, no range-condition join.  The
    oracle replays the identical (ts, side, id) carry-forward window in
    DuckDB (last_value IGNORE NULLS)."""
    from gdal_boots_spark.operators.asof import asof_join

    ev = _pq(spark, f"{sf_dir}/events.parquet")
    left = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "signup").select("event_id", "user_id", "ts", "value")
    out = asof_join(left, right, on="user_id", ts_col="ts", id_col="event_id", payload=("event_id", "value"))
    return out.select(
        F.col("event_id").alias("lid"),
        "user_id",
        F.col("r_event_id").alias("rid"),
        F.col("r_value").alias("r_value"),
        F.unix_micros(F.col("r_ts").cast("timestamp")).alias("r_ts_us"),
    )

def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch (the brief's "novel sketch"): distinct users
    per event_type as a k=32 minimum-values sketch.  The portable md5
    hash makes the sketch CONTENT itself oracle-checkable — n_kept, the
    k-th hash, the estimate AND the full sketch (csv) are all exact."""
    from gdal_boots_spark.operators.sketch import kmv_sketch

    ev = _pq(spark, f"{sf_dir}/events.parquet")
    sk = kmv_sketch(ev, "event_type", "user_id", k=32)
    return sk.select(
        F.col("grp").alias("event_type"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.element_at("sketch", -1).alias("kth"),
        F.round("est_distinct", 9).alias("est_distinct"),
        F.concat_ws(",", F.col("sketch").cast("array<string>")).alias("sketch_csv"),
    )

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_boots_spark.functions.text_fns import quality_features, quality_score

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    f = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        F.round(f["punct_ratio"], 9).alias("punct_ratio"),
        F.round(f["stopword_ratio"], 9).alias("stopword_ratio"),
        F.round(quality_score(F.col("text")), 9).alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_boots_spark.functions.text_fns import lang_scores

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", lang_scores(F.col("text")).alias("lang_guess"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_boots_spark.functions.text_fns import fingerprint, token_count

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", fingerprint(F.col("text")).alias("fp"), token_count(F.col("text")).alias("n_tokens")
    )


# The driver-verified board caps at 50 queries (CORRECTNESS_r03 silently
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment over the documents table
    (operators/dataset_split.py): md5-prefix buckets, a pure function
    of (seed, doc_id) — the identical CASE expression is the DuckDB
    oracle, so assignment matches byte-for-byte across engines."""
    from gdal_boots_spark.operators.dataset_split import hash_split

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="r4").select(
        "doc_id", "split"
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition stats over the documents table
    (operators/repetition.py): word/distinct-word counts shuffle-free,
    top-bigram count via explode -> two partial-agg groupBys.  Integer
    outputs keep the DuckDB oracle hash-exact."""
    from gdal_boots_spark.operators.repetition import repetition_stats

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return repetition_stats(docs)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the documents table
    (operators/decontam.py): documents sharing any word trigram with
    the stand-in benchmark slice (doc_id % 37 == 0) are flagged; the
    benchmark gram set broadcasts, so the fact side pays zero shuffle
    to find hits.  Integer hit count + boolean keep the DuckDB oracle
    hash-exact."""
    from gdal_boots_spark.operators.decontam import decontaminate

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    return decontaminate(docs, bench, n=3)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking over the documents table
    (operators/chunking.py): 64-token windows at stride 48
    (overlapping), pure codegen Generate — ZERO shuffles; integer
    counts + space-rejoined text keep the DuckDB oracle hash-exact."""
    from gdal_boots_spark.operators.chunking import chunk_documents

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, chunk_tokens=64, stride=48)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events table
    (operators/sessionize.py): per-user session counter via two window
    passes sharing ONE user_id-keyed exchange; 30-minute strict gap,
    (ts, event_id) tie-break, integer outputs keep the DuckDB oracle
    hash-exact."""
    from gdal_boots_spark.operators.sessionize import sessionize

    ev = _pq(spark, f"{sf_dir}/events.parquet")
    return sessionize(ev, gap="30 minutes").select("event_id", "user_id", "session_idx")


def q_scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/URL scrubbing over the documents table
    (functions/text_fns.scrub_text): URL/email/long-digit redaction as
    a pure codegen regexp_replace chain + per-rule match counts; the
    identical rule set renders to the DuckDB oracle, so the redacted
    text is byte-equal across engines."""
    from gdal_boots_spark.functions.text_fns import scrub_counts, scrub_text

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        scrub_text(F.col("text")).alias("scrubbed"),
        *[v.alias(k) for k, v in scrub_counts(F.col("text")).items()],
    )


def q_radius_join_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle (haversine, meters) distance-within join at 64N —
    the latitude-aware metric companion of radius_join
    (operators/knn.radius_join_meters): per-point cell block sized by
    1/cos(lat) so high-latitude neighbors are not missed.  Pair-set
    output (no dist column: libm trig is not bit-contracted across
    engines; the integer-derived fixture keeps every pair clear of the
    50 km boundary)."""
    from gdal_boots_spark.operators.knn import radius_join_meters

    cust = _pq(spark, f"{sf_dir}/customer.parquet")
    supp = _pq(spark, f"{sf_dir}/supplier.parquet")
    ck, sk = F.col("c_custkey"), F.col("s_suppkey")
    base = cust.select(
        ck.alias("bid"),
        (F.lit(-20.0) + ((ck * 7919) % 4000).cast("double") / 100.0).alias("x"),
        (F.lit(63.0) + ((ck * 104729) % 600).cast("double") / 100.0).alias("y"),
    )
    query = supp.select(
        sk.alias("qid"),
        (F.lit(-20.0) + ((sk * 4409) % 4000).cast("double") / 100.0).alias("x"),
        (F.lit(63.0) + ((sk * 9973) % 600).cast("double") / 100.0).alias("y"),
    )
    return radius_join_meters(query, base, 50_000.0)


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-k frequent bigrams (operators/repetition.py):
    explode -> one partial-agg groupBy shuffle -> TakeOrderedAndProject
    (k rows to the driver, no global sort)."""
    from gdal_boots_spark.operators.repetition import top_ngrams

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return top_ngrams(docs, n=2, k=25)


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing over the documents table
    (operators/packing.py): contiguous-by-key shards whose cumulative
    token count fills a fixed budget — distributed prefix sum (range
    partition + per-partition totals + broadcast offsets), never a
    single-partition global window."""
    from gdal_boots_spark.operators.packing import pack_shards

    docs = _pq(spark, f"{sf_dir}/documents.parquet")
    return pack_shards(docs, budget=5000)


# dropped the last two of 52).  Extras policy (ADVICE r5): ONLY queries
# whose operator already has a driver-verified green twin on the board
# may live in extra_queries() (still held to the same DuckDB-oracle
# contract in pytest every run).  r6 swap: the six distinct-operator
# families added in r4/r5 (hash_split, pack_shards, repetition_stats,
# scrub_text, top_ngrams, radius_join_m) are PROMOTED onto the board;
# twinned variants move to extras:
#   pip_join_shuffle   — twin pip_join (same join, broadcast path)
#   crs_3857           — twin to_epsg (subsumes the 3857 transform)
#   simhash            — twin simhash_neardup (recomputes simhash)
#   minhash_pairs      — twin neardup_groups (oracle embeds the pair SQL)
#   ann_cosine         — twin ann_lsh/ann_ivf (same fixture; documented
#                        driver-side baseline, not the scale path)
#   reproject          — twin warp_pipeline (facade) + crs_lcc/to_epsg
# r7 swap (VERDICT r6 item 1): the three r6 LLM-pipeline entries
# (decontaminate, sessionize, chunk_docs) had grown the board to 53 while
# the driver's correctness sweep records exactly the first 50 — a silent
# truncation.  Three more twinned variants move to extras so every board
# entry gets a hard CORRECTNESS row:
#   crop_hist          — twin warp_pipeline (facade = crop+mask+reproject
#                        +resample) + point_sampling (containment guard)
#   resample_avg       — twin resample_cubic (same kernel machinery,
#                        harder kernel stays on the board)
#   event_windows      — twin event_rollup + asof_join (same event table,
#                        windowed-agg family)
# r7 add: bbox_join_hetero — twin bbox_join (same operator family;
# exercises the adaptive multi-level cover on mixed-magnitude rects)
# The distributed-path twins rasterize_hist_dist and zonal_stats_dist are
# gone: the both-ways gate matrix (tests/test_spatial_join.py) runs
# rasterize_hist and zonal_stats on both sides of the one broadcast gate.
_EXTRA_QUERIES = (
    "pip_join_shuffle", "crs_3857",
    "simhash", "minhash_pairs", "ann_cosine", "reproject",
    "crop_hist", "resample_avg", "event_windows", "bbox_join_hetero",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: v for k, v in _all_queries().items() if k not in _EXTRA_QUERIES}


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Consolidated near-duplicate queries: not on the driver board (50-row
    cap) but held to the same oracle contract in pytest."""
    return {k: v for k, v in _all_queries().items() if k in _EXTRA_QUERIES}


def extra_oracle_sql() -> dict[str, str]:
    return {k: v for k, v in _all_oracle_sql().items() if k in _EXTRA_QUERIES}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Board + extras union — the test suite's routing-independent view."""
    return _all_queries()


def all_oracle_sql() -> dict[str, str]:
    return _all_oracle_sql()


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pip_join": q_pip_join,
        "pip_join_shuffle": q_pip_join_shuffle,
        "pip_join_poly_spans": q_pip_join_poly,
        "cell_assign": q_cell_assign,
        "geo_extract": q_geo_extract,
        "span_counts": q_span_counts,
        "point_sampling": q_point_sampling,
        "rasterize_hist": q_rasterize,
        "polygonize": q_polygonize,
        "geom_bounds": q_geom_bounds,
        "crop_hist": q_crop_hist,
        "mosaic": q_mosaic,
        "reproject": q_reproject,
        "warp_pipeline": q_warp_pipeline,
        "salted_join": q_salted_join,
        "bbox_join": q_bbox_join,
        "bbox_join_hetero": q_bbox_join_hetero,
        "intersects_join": q_intersects_join,
        "zonal_stats": q_zonal,
        "event_windows": q_event_windows,
        "event_rollup": q_event_rollup,
        "asof_join": q_asof_join,
        "kmv_distinct": q_kmv_distinct,
        "crs_3857": q_crs_3857,
        "crs_lcc": q_crs_lcc,
        "fast_warp": q_fast_warp,
        "write_window": q_write_window,
        "make_valid": q_make_valid,
        "to_epsg": q_to_epsg,
        "tile_checksum": q_tile_checksum,
        "resample_avg": q_resample_avg,
        "resample_cubic": q_resample_cubic,
        "knn": q_knn,
        "radius_join": q_radius_join,
        "exact_dedup": q_exact_dedup,
        "minhash_pairs": q_minhash_pairs,
        "neardup_groups": q_neardup_groups,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash_neardup": q_simhash_neardup,
        "embedding_neardup": q_embedding_neardup,
        "token_stats": q_token_stats,
        "ann_cosine": q_ann_cosine,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "media_features": q_media_features,
        "media_frame_sample": q_media_frame_sample,
        "media_resize": q_media_resize,
        "text_quality": q_text_quality,
        "hash_split": q_hash_split,
        "pack_shards": q_pack_shards,
        "scrub_text": q_scrub_text,
        "top_ngrams": q_top_ngrams,
        "radius_join_m": q_radius_join_m,
        "repetition_stats": q_repetition_stats,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "decontaminate": q_decontaminate,
        "sessionize": q_sessionize,
        "chunk_docs": q_chunk_docs,
    }


# --------------------------------------------------------------------------
# oracle SQL (DuckDB, over pre-registered testdata views)
# --------------------------------------------------------------------------

_GEO_CTE = f"""
geo AS (
  SELECT doc_id,
         {SQL_LON} AS x,
         {SQL_LAT} AS y
  FROM documents
  WHERE {SQL_HAS_GEO}
)
"""


def _reproject_oracle_sql() -> str:
    """Inverse-mapping oracle for q_reproject: identical formula shape
    AND identical floating-point constants (the source grid's inverse
    affine is embedded with full double precision, so the oracle's
    pixel math is bit-compatible with the engine's)."""
    from gdal_boots_spark.geom.affine import invert_transform

    ia, ib, ic, id_, ie, if_ = invert_transform((0.05, 0.0, 26.0, 0.0, -0.05, 55.0))
    r = 6378137.0
    return f"""
        WITH px AS (
          SELECT cy.range AS row, cx.range AS col FROM range(60) cx, range(48) cy
        ), world AS (
          SELECT row, col,
                 2894000.0 + (col + 0.5) * 6000.0 AS wx,
                 7362000.0 - (row + 0.5) * 6000.0 AS wy
          FROM px
        ), ll AS (
          SELECT row, col,
                 DEGREES(wx / {r!r}) AS lon,
                 DEGREES(2.0 * ATAN(EXP(wy / {r!r})) - PI() / 2.0) AS lat
          FROM world
        ), src AS (
          SELECT row, col,
                 CAST(FLOOR({ia!r} * lon + {ic!r}) AS BIGINT) AS px_,
                 CAST(FLOOR({ie!r} * lat + {if_!r}) AS BIGINT) AS py_
          FROM ll
        )
        SELECT row, col,
               CAST(CASE WHEN px_ >= 0 AND px_ < 64 AND py_ >= 0 AND py_ < 48
                         THEN py_ * 64 + px_ + 1 ELSE 0 END AS DOUBLE) AS value
        FROM src
    """


def _resample_cubic_oracle_sql() -> str:
    """Closed-form oracle for q_resample_cubic.  Upsample x2 => the
    fractional tap offset is 0.25 or 0.75 by output-index parity; the 4
    Keys weights at each are exact binary fractions (asserted), so the
    engine's separable convolution and this SQL compute bit-identical
    doubles (see geom/resample_kernels._w_cubic)."""
    import numpy as np

    from gdal_boots_spark.geom.resample_kernels import _w_cubic

    # tap distances for fractional offset f: f+1, f, f-1, f-2  (t=0..3)
    w = {f: _w_cubic(np.array([f + 1, f, f - 1, f - 2])) for f in (0.25, 0.75)}
    assert all(ws.sum() == 1.0 for ws in w.values())

    def axis_sum(base: str, f: float, nmax: int) -> str:
        # CAST each weight: bare float literals type as DECIMAL in DuckDB
        return " + ".join(
            f"CAST({w[f][t]!r} AS DOUBLE) * LEAST(GREATEST({base} - 1 + {t}, 0), {nmax})"
            for t in range(4)
        )

    return f"""
        WITH px AS (
          SELECT cy.range AS row, cx.range AS col FROM range(64) cx, range(48) cy
        ), b AS (
          SELECT row, col,
                 CAST(FLOOR(col * 0.5 - 0.25) AS BIGINT) AS x0,
                 CAST(FLOOR(row * 0.5 - 0.25) AS BIGINT) AS y0
          FROM px
        )
        SELECT row, col,
               ROUND(32.0 * (CASE WHEN row % 2 = 1 THEN {axis_sum('y0', 0.25, 23)}
                                  ELSE {axis_sum('y0', 0.75, 23)} END)
                     + (CASE WHEN col % 2 = 1 THEN {axis_sum('x0', 0.25, 31)}
                             ELSE {axis_sum('x0', 0.75, 31)} END) + 1.0, 6) AS value
        FROM b
    """


def _crs_lcc_oracle_sql() -> str:
    """Exact oracle for q_crs_lcc: Snyder 15-1..15-11 replayed in SQL.
    The projection constants come from the SAME LambertConformalProj
    the engine uses (emitted as repr-roundtrip double literals); the
    per-point math (sin/tan/pow) follows the identical operation order,
    and the cm rounding absorbs cross-engine libm ulps — the same
    contract crs_3857 relies on."""
    from gdal_boots_spark.geom.crs import LambertConformalProj

    lcc = LambertConformalProj(lat_0=40, lon_0=10, lat_1=35, lat_2=55, x_0=2000000, y_0=1000000)

    def c(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"

    return f"""
        WITH {_GEO_CTE},
        r AS (
          SELECT doc_id,
                 ROUND(CAST(x AS DOUBLE), 6) AS xr,
                 ROUND(CAST(y AS DOUBLE), 6) AS yr
          FROM geo
        ), s AS (
          SELECT doc_id,
                 SIN(yr * (PI() / 180.0)) AS sp,
                 yr * (PI() / 180.0) AS phi,
                 (xr - 10.0) * (PI() / 180.0) AS lam
          FROM r
        ), t AS (
          SELECT doc_id, lam,
                 TAN(PI() / 4.0 - phi / 2.0)
                   / POW((1.0 - {c(lcc.e)} * sp) / (1.0 + {c(lcc.e)} * sp), {c(lcc.e)} / 2.0) AS tt
          FROM s
        ), p AS (
          SELECT doc_id,
                 {c(lcc.a)} * {c(lcc.F)} * POW(tt, {c(lcc.n)}) AS rho,
                 {c(lcc.n)} * lam AS theta
          FROM t
        )
        SELECT doc_id,
               ROUND(2000000.0 + rho * SIN(theta), 2) AS mx,
               ROUND(1000000.0 + {c(lcc.rho0)} - rho * COS(theta), 2) AS my
        FROM p
    """


def _ann_lsh_oracle_sql() -> str:
    """Exact oracle for q_ann_lsh: the seeded INTEGER hyperplanes are
    emitted as VALUES list literals; sign-bucketing, the (table, bucket)
    candidate join, and the cosine rerank are plain SQL.  Integer
    weights times float32-exact-in-double embeddings make every dot
    product exactly representable in float64 regardless of summation
    order (operators/ann.py module docstring), so the bucket sign test
    cannot disagree between NumPy and DuckDB."""
    from gdal_boots_spark.operators.ann import _plane_matrix

    bits, n_tables, dim, k = 4, 8, 64, 5
    rows = []
    for t in range(n_tables):
        P = _plane_matrix(dim, bits, t)  # (dim, bits), integer-valued
        for bit in range(bits):
            w = ", ".join(str(int(x)) for x in P[:, bit])
            rows.append(f"({t}, {bit}, [{w}])")
    values = ",\n          ".join(rows)
    return f"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
        ), planes(tbl, bit, w) AS (
          VALUES {values}
        ), d AS (
          SELECT v.vec_id, p.tbl, p.bit,
                 list_dot_product(v.e, list_transform(p.w, x -> CAST(x AS DOUBLE))) AS dp
          FROM v CROSS JOIN planes p
        ), bkt AS (
          SELECT vec_id, tbl,
                 SUM(CASE WHEN dp > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS bucket
          FROM d GROUP BY vec_id, tbl
        ), cand AS (
          SELECT DISTINCT q.vec_id AS qid, b.vec_id AS bid
          FROM bkt q JOIN bkt b ON q.tbl = b.tbl AND q.bucket = b.bucket
          WHERE q.vec_id % 50 = 0
        ), sc AS (
          SELECT c.qid, c.bid,
                 list_dot_product(qv.e, bv.e)
                   / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(bv.e, bv.e))) AS cos
          FROM cand c JOIN v qv ON qv.vec_id = c.qid JOIN v bv ON bv.vec_id = c.bid
        ), r AS (
          SELECT qid, bid,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, bid) AS BIGINT) AS rnk
          FROM sc
        )
        SELECT qid, bid, rnk FROM r WHERE rnk <= {k}
    """


def _ann_ivf_oracle_sql() -> str:
    """Exact oracle for q_ann_ivf: seeded INTEGER centroids as VALUES
    literals; cosine cell assignment (base: nearest cell, query: top
    n_probe cells, ties by cell index — ROW_NUMBER mirrors the stable
    argsort), one equi-join on cell, cosine rerank, window top-k."""
    from gdal_boots_spark.operators.ann import _ivf_centroids

    n_cells, n_probe, dim, k, seed = 16, 8, 64, 5, 7
    C = _ivf_centroids(dim, n_cells, seed)
    rows = []
    for c in range(n_cells):
        w = ", ".join(str(int(x)) for x in C[c])
        rows.append(f"({c}, [{w}])")
    values = ",\n          ".join(rows)
    cd = "list_transform(ct.c, x -> CAST(x AS DOUBLE))"
    return f"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
        ), cents(cell, c) AS (
          VALUES {values}
        ), sims AS (
          SELECT v.vec_id, ct.cell,
                 list_dot_product(v.e, {cd})
                   / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product({cd}, {cd}))) AS sim
          FROM v CROSS JOIN cents ct
        ), ranked AS (
          SELECT vec_id, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
          FROM sims
        ), bcell AS (
          SELECT vec_id AS bid, cell FROM ranked WHERE rn = 1
        ), qcell AS (
          SELECT vec_id AS qid, cell FROM ranked WHERE rn <= {n_probe} AND vec_id % 50 = 0
        ), sc AS (
          SELECT q.qid, b.bid,
                 list_dot_product(qv.e, bv.e)
                   / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(bv.e, bv.e))) AS cos
          FROM qcell q JOIN bcell b ON q.cell = b.cell
          JOIN v qv ON qv.vec_id = q.qid JOIN v bv ON bv.vec_id = b.bid
        ), r AS (
          SELECT qid, bid,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, bid) AS BIGINT) AS rnk
          FROM sc
        )
        SELECT qid, bid, rnk FROM r WHERE rnk <= {k}
    """


# shared oracle fragments (mirror gdal_boots_spark.functions.text_fns)
_SQL_NORM = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
_SQL_MD5 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def oracle_sql() -> dict[str, str]:
    keep = set(queries())
    return {k: v for k, v in _all_oracle_sql().items() if k in keep}


def _top_ngrams_oracle() -> str:
    from gdal_boots_spark.operators.repetition import top_ngrams_oracle_sql

    return top_ngrams_oracle_sql(2, 25)


def _scrub_oracle() -> str:
    from gdal_boots_spark.functions.text_fns import SCRUB_COUNT_NAMES, scrub_oracle_expr

    expr, counts = scrub_oracle_expr("text")
    cols = ", ".join(f"{c} AS {n}" for n, c in zip(SCRUB_COUNT_NAMES, counts))
    return f"SELECT doc_id, {expr} AS scrubbed, {cols} FROM documents"


def _repetition_oracle() -> str:
    from gdal_boots_spark.operators.repetition import repetition_oracle_sql

    return repetition_oracle_sql()


def _decontam_oracle() -> str:
    from gdal_boots_spark.operators.decontam import decontaminate_oracle_sql

    return decontaminate_oracle_sql(n=3, bench_pred="doc_id % 37 = 0")


def _sessionize_oracle() -> str:
    from gdal_boots_spark.operators.sessionize import sessionize_oracle_sql

    return sessionize_oracle_sql(gap_us=1_800_000_000)


def _chunk_oracle() -> str:
    from gdal_boots_spark.operators.chunking import chunk_oracle_sql

    return chunk_oracle_sql(chunk_tokens=64, stride=48)


def _pack_oracle() -> str:
    from gdal_boots_spark.operators.packing import pack_oracle_sql

    return pack_oracle_sql(5000)


def _all_oracle_sql() -> dict[str, str]:
    from gdal_boots_spark.operators.dataset_split import split_oracle_sql

    hash_split_case = split_oracle_sql("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="r4")
    md5 = _SQL_MD5
    text_ctes = f"""
        d AS (
          SELECT doc_id, {_SQL_NORM} AS norm, string_split({_SQL_NORM}, ' ') AS w, text
          FROM documents
        )
    """
    shingle_cte = """
        s AS (
          SELECT doc_id, [array_to_string(w[i:i+2], ' ') for i in generate_series(1, len(w) - 2)] AS sh
          FROM d WHERE len(w) >= 3
        )
    """
    dedup_text_oracles = {
        "exact_dedup": f"""
            WITH h AS (SELECT doc_id, {md5.format(x=_SQL_NORM)} AS th FROM documents)
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY th) AS canonical_id,
                   COUNT(*) OVER (PARTITION BY th) AS group_size
            FROM h
        """,
        "minhash_pairs": f"""
            WITH {text_ctes}, {shingle_cte},
            m AS (
              SELECT doc_id,
                     [list_min(list_transform(sh, s2 -> {md5.format(x="CAST(j AS VARCHAR) || ':' || s2")}))
                      for j in generate_series(0, 15)] AS sig
              FROM s
            ),
            banded AS (
              SELECT doc_id, b.band,
                     CAST(sig[2 * b.band + 1] AS VARCHAR) || ',' || CAST(sig[2 * b.band + 2] AS VARCHAR) AS band_sig
              FROM m, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) b(band)
            )
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM banded x JOIN banded y ON x.band = y.band AND x.band_sig = y.band_sig
            WHERE x.doc_id < y.doc_id
        """,
        # transitive closure of the SAME pair SQL: recursive reachability,
        # canonical = min reachable id (mirrors the engine's distributed CC)
        "neardup_groups": f"""
            WITH RECURSIVE {text_ctes}, {shingle_cte},
            m AS (
              SELECT doc_id,
                     [list_min(list_transform(sh, s2 -> {md5.format(x="CAST(j AS VARCHAR) || ':' || s2")}))
                      for j in generate_series(0, 15)] AS sig
              FROM s
            ),
            banded AS (
              SELECT doc_id, b.band,
                     CAST(sig[2 * b.band + 1] AS VARCHAR) || ',' || CAST(sig[2 * b.band + 2] AS VARCHAR) AS band_sig
              FROM m, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) b(band)
            ),
            pr AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM banded x JOIN banded y ON x.band = y.band AND x.band_sig = y.band_sig
              WHERE x.doc_id < y.doc_id
            ),
            eg AS (SELECT a AS u, b AS v FROM pr UNION ALL SELECT b AS u, a AS v FROM pr),
            reach(doc, r) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT re.doc, e.v FROM reach re JOIN eg e ON e.u = re.r
            ),
            canon AS (SELECT doc AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY doc)
            SELECT doc_id, canonical_id,
                   CAST(COUNT(*) OVER (PARTITION BY canonical_id) AS BIGINT) AS group_size
            FROM canon
        """,
        "simhash": f"""
            WITH {text_ctes},
            h AS (SELECT doc_id, list_transform(w, t -> {md5.format(x='t')}) AS hs FROM d),
            v AS (
              SELECT doc_id,
                     [list_sum(list_transform(hs, x -> ((x >> j) & 1) * 2 - 1)) for j in generate_series(0, 31)] AS votes
              FROM h
            )
            SELECT doc_id,
                   CAST(list_sum([CASE WHEN votes[j + 1] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
                             for j in generate_series(0, 31)]) AS BIGINT) AS simhash
            FROM v
        """,
        "simhash_neardup": f"""
            WITH {text_ctes},
            h AS (SELECT doc_id, list_transform(w, t -> {md5.format(x='t')}) AS hs FROM d),
            v AS (
              SELECT doc_id,
                     [list_sum(list_transform(hs, x -> ((x >> j) & 1) * 2 - 1)) for j in generate_series(0, 31)] AS votes
              FROM h
            ),
            s AS (
              SELECT doc_id,
                     CAST(list_sum([CASE WHEN votes[j + 1] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
                               for j in generate_series(0, 31)]) AS BIGINT) AS simhash
              FROM v
            )
            SELECT x.doc_id AS a, y.doc_id AS b,
                   CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
            FROM s x JOIN s y ON x.doc_id < y.doc_id
            WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
        """,
        "ngram_jaccard": f"""
            WITH {text_ctes}, {shingle_cte},
            e AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM s),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id),
            inter AS (
              SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared
              FROM e x JOIN e y ON x.g = y.g AND x.doc_id < y.doc_id
              GROUP BY 1, 2
            ),
            jac AS (
              SELECT i.a, i.b, CAST(i.shared AS DOUBLE) / (na.n + nb.n - i.shared) AS jaccard
              FROM inter i JOIN sizes na ON na.doc_id = i.a JOIN sizes nb ON nb.doc_id = i.b
            )
            SELECT a, b, jaccard FROM jac ORDER BY jaccard DESC, a, b LIMIT 20
        """,
        "embedding_neardup": """
            WITH v AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
            ), sc AS (
              SELECT a.vec_id AS a, b.vec_id AS b,
                     list_dot_product(a.e, b.e)
                       / (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e))) AS cos
              FROM v a JOIN v b ON a.vec_id < b.vec_id
            )
            SELECT a, b, ROUND(cos, 9) AS cos FROM sc WHERE cos >= 0.4
        """,
        "token_stats": r"""
            SELECT doc_id,
                   len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS n_ws_tokens,
                   len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')) AS n_bpe_tokens
            FROM documents
        """,
        "ann_cosine": """
            WITH q AS (
              SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
              FROM embeddings WHERE vec_id % 50 = 0
            ), b AS (
              SELECT vec_id AS bid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS be
              FROM embeddings
            ), sc AS (
              SELECT q.qid, b.bid,
                     list_dot_product(qe, be) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(be, be))) AS cos
              FROM q CROSS JOIN b
            ), r AS (
              SELECT qid, bid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, bid) AS rnk FROM sc
            )
            SELECT qid, bid, rnk FROM r WHERE rnk <= 5
        """,
        "text_quality": f"""
            WITH {text_ctes},
            f AS (
              SELECT doc_id,
                     len(w) AS n_tokens,
                     CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                       / GREATEST(length(text), 1) AS punct_ratio,
                     CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                       / GREATEST(len(w), 1) AS stopword_ratio
              FROM d
            )
            SELECT doc_id, n_tokens,
                   ROUND(punct_ratio, 9) AS punct_ratio,
                   ROUND(stopword_ratio, 9) AS stopword_ratio,
                   ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.4
                       + GREATEST(1.0 - punct_ratio * 4.0, 0.0) * 0.4
                       + LEAST(stopword_ratio * 3.0 + 0.5, 1.0) * 0.2, 9) AS quality
            FROM f
        """,
        "lang_id": f"""
            WITH {text_ctes},
            c AS (
              SELECT doc_id,
                     len(list_filter(w, t -> t IN ('der','die','das','und','ist','ein','zu'))) AS nde,
                     len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is'))) AS nen,
                     len(list_filter(w, t -> t IN ('el','la','los','y','es','un','una'))) AS nes,
                     len(list_filter(w, t -> t IN ('le','la','les','et','est','un','une'))) AS nfr
              FROM d
            )
            SELECT doc_id,
                   CASE WHEN GREATEST(nde, nen, nes, nfr) = 0 THEN 'und'
                        WHEN nde = GREATEST(nde, nen, nes, nfr) THEN 'de'
                        WHEN nen = GREATEST(nde, nen, nes, nfr) THEN 'en'
                        WHEN nes = GREATEST(nde, nen, nes, nfr) THEN 'es'
                        ELSE 'fr' END AS lang_guess
            FROM c
        """,
        "fingerprint": f"""
            WITH {text_ctes}
            SELECT doc_id, {md5.format(x='norm')} AS fp, len(w) AS n_tokens FROM d
        """,
        "hash_split": f"SELECT doc_id, {hash_split_case} AS split FROM documents",
        "pack_shards": _pack_oracle(),
        "repetition_stats": _repetition_oracle(),
        "decontaminate": _decontam_oracle(),
        "sessionize": _sessionize_oracle(),
        "chunk_docs": _chunk_oracle(),
        "scrub_text": _scrub_oracle(),
        "top_ngrams": _top_ngrams_oracle(),
        "radius_join_m": """
            WITH q AS (
              SELECT s_suppkey AS qid,
                     -20.0 + CAST((s_suppkey * 4409) % 4000 AS DOUBLE) / 100.0 AS x,
                     63.0 + CAST((s_suppkey * 9973) % 600 AS DOUBLE) / 100.0 AS y
              FROM supplier
            ), b AS (
              SELECT c_custkey AS bid,
                     -20.0 + CAST((c_custkey * 7919) % 4000 AS DOUBLE) / 100.0 AS x,
                     63.0 + CAST((c_custkey * 104729) % 600 AS DOUBLE) / 100.0 AS y
              FROM customer
            )
            SELECT q.qid, b.bid
            FROM q CROSS JOIN b
            WHERE 2.0 * 6371008.8 * ASIN(SQRT(
                SIN(RADIANS(b.y - q.y) / 2) * SIN(RADIANS(b.y - q.y) / 2)
                + COS(RADIANS(q.y)) * COS(RADIANS(b.y))
                  * SIN(RADIANS(b.x - q.x) / 2) * SIN(RADIANS(b.x - q.x) / 2)
            )) <= 50000.0
        """,
    }
    out = dedup_text_oracles | {
        "pip_join": f"""
            WITH {_GEO_CTE}
            SELECT g.doc_id AS doc_id, CAST(p.poly_id AS BIGINT) AS poly_id
            FROM geo g
            JOIN {rects_sql_values('p')}
              ON g.x >= p.minx AND g.x < p.maxx
             AND g.y >= p.miny AND g.y < p.maxy
        """,
        "pip_join_shuffle": f"""
            WITH {_GEO_CTE}
            SELECT g.doc_id AS doc_id, CAST(p.poly_id AS BIGINT) AS poly_id
            FROM geo g
            JOIN {rects_sql_values('p')}
              ON g.x >= p.minx AND g.x < p.maxx
             AND g.y >= p.miny AND g.y < p.maxy
        """,
        "pip_join_poly_spans": f"""
            WITH {_GEO_CTE},
            pt AS (
              SELECT g.doc_id AS doc_id, CAST(1 AS BIGINT) AS span_pos,
                     CAST(p.poly_id AS BIGINT) AS poly_id
              FROM geo g
              JOIN {rects_sql_values('p')}
                ON g.x >= p.minx AND g.x < p.maxx
               AND g.y >= p.miny AND g.y < p.maxy
            ),
            ps AS (
              SELECT doc_id, {SQL_PMINX} AS sminx, {SQL_PMINY} AS sminy
              FROM documents WHERE {SQL_HAS_POLY}
            ),
            pl AS (
              SELECT s.doc_id AS doc_id, CAST(1 AS BIGINT) AS span_pos,
                     CAST(p.poly_id AS BIGINT) AS poly_id
              FROM ps s
              JOIN {rects_sql_values('p')}
                ON s.sminx < p.maxx AND p.minx < s.sminx + {POLY_SPAN_W}
               AND s.sminy < p.maxy AND p.miny < s.sminy + {POLY_SPAN_H}
            )
            SELECT * FROM pt UNION ALL SELECT * FROM pl
        """,
        "cell_assign": f"""
            WITH {_GEO_CTE}
            SELECT doc_id,
                   CAST(8 AS BIGINT) * 288230376151711744
                 + CAST(LEAST(GREATEST(FLOOR((x + 180.0) / 360.0 * 256), 0), 255) AS BIGINT) * 536870912
                 + CAST(LEAST(GREATEST(FLOOR((y + 90.0) / 180.0 * 256), 0), 255) AS BIGINT) AS cell_id
            FROM geo
        """,
        "geo_extract": f"""
            WITH {_GEO_CTE}
            SELECT doc_id, ROUND(x, 6) AS x, ROUND(y, 6) AS y FROM geo
        """,
        "point_sampling": """
            WITH pts AS (
              SELECT c_custkey AS point_id,
                     -2.0 + CAST((c_custkey * 13) % 70 AS DOUBLE) / 4.0 AS x,
                     -2.0 + CAST((c_custkey * 29) % 60 AS DOUBLE) / 4.0 AS y
              FROM customer
            ), px AS (
              SELECT point_id,
                     CAST(FLOOR(4.0 * x) AS BIGINT) AS col,
                     CAST(FLOOR(30.0 - 4.0 * y) AS BIGINT) AS row
              FROM pts
            )
            SELECT p.point_id AS point_id, b.band AS band,
                   CASE WHEN p.col >= 0 AND p.col < 50 AND p.row >= 0 AND p.row < 30
                        THEN CAST(p.row * 50 + p.col + 1 + b.band * 1500 AS DOUBLE)
                        ELSE NULL END AS value
            FROM px p CROSS JOIN (VALUES (0), (1)) AS b(band)
        """,
        "knn": """
            WITH q AS (
              SELECT s_suppkey AS qid,
                     26.0 + CAST((s_suppkey * 4409) % 3000 AS DOUBLE) / 1000.0 AS x,
                     53.0 + CAST((s_suppkey * 9973) % 2000 AS DOUBLE) / 1000.0 AS y
              FROM supplier
            ), b AS (
              SELECT c_custkey AS bid,
                     26.0 + CAST((c_custkey * 7919) % 3000 AS DOUBLE) / 1000.0 AS x,
                     53.0 + CAST((c_custkey * 104729) % 2000 AS DOUBLE) / 1000.0 AS y
              FROM customer
            ), d AS (
              SELECT q.qid, b.bid,
                     SQRT((q.x - b.x) * (q.x - b.x) + (q.y - b.y) * (q.y - b.y)) AS dist
              FROM q CROSS JOIN b
            ), r AS (
              SELECT qid, bid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, bid) AS rnk
              FROM d
            )
            SELECT qid, bid, rnk FROM r WHERE rnk <= 3
        """,
        "radius_join": """
            WITH q AS (
              SELECT s_suppkey AS qid,
                     26.0 + CAST((s_suppkey * 4409) % 3000 AS DOUBLE) / 1000.0 AS x,
                     53.0 + CAST((s_suppkey * 9973) % 2000 AS DOUBLE) / 1000.0 AS y
              FROM supplier
            ), b AS (
              SELECT c_custkey AS bid,
                     26.0 + CAST((c_custkey * 7919) % 3000 AS DOUBLE) / 1000.0 AS x,
                     53.0 + CAST((c_custkey * 104729) % 2000 AS DOUBLE) / 1000.0 AS y
              FROM customer
            )
            SELECT q.qid, b.bid,
                   ROUND(SQRT((q.x - b.x) * (q.x - b.x) + (q.y - b.y) * (q.y - b.y)), 9) AS dist
            FROM q CROSS JOIN b
            WHERE SQRT((q.x - b.x) * (q.x - b.x) + (q.y - b.y) * (q.y - b.y)) <= 0.05
        """,
        "resample_avg": """
            SELECT i.range AS row, j.range AS col,
                   CAST((i.range * 4 + 1.5) * 64.0 + (j.range * 4 + 1.5) + 1.0 AS DOUBLE) AS value
            FROM range(12) i, range(16) j
        """,
        "crop_hist": """
            WITH params AS (
              SELECT CAST(FLOOR(3.2 / 0.25) AS BIGINT) AS c0, CAST(CEIL(12.7 / 0.25) AS BIGINT) AS c1,
                     CAST(FLOOR((15.0 - 11.7) / 0.25) AS BIGINT) AS r0, CAST(CEIL((15.0 - 4.2) / 0.25) AS BIGINT) AS r1
            ), px AS (
              SELECT p.r0 + cy.range AS row, p.c0 + cx.range AS col
              FROM params p, range(200) cx, range(200) cy
              WHERE p.c0 + cx.range < p.c1 AND p.r0 + cy.range < p.r1
            ), vals AS (
              SELECT CASE WHEN (col + 0.5) * 0.25 > 3.2 AND (col + 0.5) * 0.25 < 12.7
                           AND 15.0 - (row + 0.5) * 0.25 > 4.2 AND 15.0 - (row + 0.5) * 0.25 < 11.7
                          THEN CAST(row * 80 + col + 1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS value
              FROM px
            )
            SELECT value, COUNT(*) AS cnt FROM vals GROUP BY value
        """,
        "mosaic": """
            WITH px AS (
              SELECT cy.range AS row, cx.range AS col FROM range(40) cx, range(28) cy
            )
            SELECT row, col,
                   CAST(CASE
                     WHEN row >= 4 AND row < 28 AND col >= 8 AND col < 40
                       THEN (row - 4) * 32 + (col - 8) + 1 + 100000
                     WHEN row < 24 AND col < 32
                       THEN row * 32 + col + 1
                     ELSE 0 END AS DOUBLE) AS value
            FROM px
        """,
        "reproject": _reproject_oracle_sql(),
        "warp_pipeline": """
            WITH src AS (
              SELECT cy.range AS row, cx.range AS col,
                     CAST(CASE
                       WHEN cy.range >= 4 AND cy.range < 28 AND cx.range >= 8 AND cx.range < 40
                         THEN (cy.range - 4) * 32 + (cx.range - 8) + 1 + 100000
                       WHEN cy.range < 24 AND cx.range < 32
                         THEN cy.range * 32 + cx.range + 1
                       ELSE 0 END AS DOUBLE) AS v
              FROM range(40) cx, range(28) cy
            ), win AS (
              -- snap of bbox (1.3, 4.2, 8.7, 8.9) on the merged grid:
              -- cols [floor(1.3/.25), ceil(8.7/.25)) = [5, 35),
              -- rows [floor((10-8.9)/.25), ceil((10-4.2)/.25)) = [4, 24)
              SELECT row - 4 AS r, col - 5 AS c, v
              FROM src WHERE col >= 5 AND col < 35 AND row >= 4 AND row < 24
            )
            SELECT CAST(FLOOR(r / 2) AS BIGINT) AS row, CAST(FLOOR(c / 2) AS BIGINT) AS col,
                   AVG(v) AS value
            FROM win GROUP BY 1, 2
        """,
        "resample_cubic": _resample_cubic_oracle_sql(),
        "ann_lsh": _ann_lsh_oracle_sql(),
        "ann_ivf": _ann_ivf_oracle_sql(),
        "tile_checksum": _tile_checksum_oracle_sql(),
        "media_frame_sample": """
            WITH m AS (
              SELECT doc_id,
                     CAST(CAST(FLOOR(doc_id / 8) AS BIGINT) % 8 AS BIGINT) AS ty,
                     CAST(doc_id % 8 AS BIGINT) AS tx
              FROM documents WHERE doc_id % 10 IN (8, 9)
            ), px AS (
              SELECT m.doc_id, m.ty, m.tx, f.frame,
                     CAST(f.frame AS BIGINT) * 16384
                       + (m.ty * 16 + i.range) * 128 + (m.tx * 16 + j.range) + 1 AS v
              FROM m, (VALUES (0),(2),(4)) f(frame), range(16) i, range(16) j
            )
            SELECT doc_id, CAST(1 AS BIGINT) AS span_pos,
                   'r0/0/' || ty || '/' || tx AS media_ref,
                   CAST(frame AS BIGINT) AS frame,
                   CAST(SUM(v) AS BIGINT) AS pixel_sum
            FROM px GROUP BY doc_id, ty, tx, frame
        """,
        "media_features": """
            WITH m AS (
              SELECT doc_id,
                     CAST(CAST(FLOOR(doc_id / 8) AS BIGINT) % 8 AS BIGINT) AS ty,
                     CAST(doc_id % 8 AS BIGINT) AS tx
              FROM documents WHERE doc_id % 10 IN (8, 9)
            ), px AS (
              SELECT m.doc_id, m.ty, m.tx,
                     CAST((m.ty * 16 + i.range) * 128 + (m.tx * 16 + j.range) + 1 AS DOUBLE) AS v
              FROM m, range(16) i, range(16) j
            ), agg AS (
              SELECT doc_id, ty, tx,
                     AVG(v) AS mean, STDDEV_POP(v) AS std, MIN(v) AS mn, MAX(v) AS mx,
                     quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.5) AS med,
                     quantile_cont(v, 0.75) AS q3, COUNT(*) AS n
              FROM px GROUP BY 1, 2, 3
            )
            SELECT doc_id, CAST(1 AS BIGINT) AS span_pos,
                   'r0/0/' || ty || '/' || tx AS media_ref,
                   CAST(1024 AS BIGINT) AS n_bytes,
                   ROUND(mean, 6) AS f0, ROUND(std, 6) AS f1,
                   ROUND(mn, 6) AS f2, ROUND(mx, 6) AS f3,
                   ROUND(q1, 6) AS f4, ROUND(med, 6) AS f5,
                   ROUND(q3, 6) AS f6, CAST(n AS DOUBLE) AS f7
            FROM agg
        """,
        "media_resize": """
            WITH m AS (
              SELECT doc_id,
                     CAST(CAST(FLOOR(doc_id / 8) AS BIGINT) % 8 AS BIGINT) AS ty,
                     CAST(doc_id % 8 AS BIGINT) AS tx
              FROM documents WHERE doc_id % 10 IN (8, 9)
            )
            SELECT doc_id, i.range AS i, j.range AS j,
                   CAST((m.ty * 16 + 4 * i.range + 1.5) * 128
                        + (m.tx * 16 + 4 * j.range + 1.5) + 1 AS DOUBLE) AS value
            FROM m, range(4) i, range(4) j
        """,
        "fast_warp": """
            WITH params AS (
              SELECT CAST(FLOOR(3.2 / 0.25) AS BIGINT) AS c0, CAST(CEIL(12.7 / 0.25) AS BIGINT) AS c1,
                     CAST(FLOOR((15.0 - 11.7) / 0.25) AS BIGINT) AS r0, CAST(CEIL((15.0 - 4.2) / 0.25) AS BIGINT) AS r1
            )
            SELECT cy.range AS row, cx.range AS col,
                   CAST((p.r0 + cy.range) * 80 + (p.c0 + cx.range) + 1 AS DOUBLE) AS value
            FROM params p, range(80) cx, range(60) cy
            WHERE p.c0 + cx.range < p.c1 AND p.r0 + cy.range < p.r1
        """,
        "write_window": """
            SELECT b.band AS band, cy.range AS row, cx.range AS col,
                   CAST(CASE WHEN b.band = 0 AND cx.range >= 5 AND cx.range < 20
                              AND cy.range >= 3 AND cy.range < 17
                             THEN 777
                             ELSE cy.range * 50 + cx.range + 1 + b.band * 1500 END AS DOUBLE) AS value
            FROM range(50) cx, range(30) cy, (VALUES (0), (1)) b(band)
        """,
        "make_valid": """
            SELECT CAST(fid AS BIGINT) AS fid, CAST(gtype AS BIGINT) AS gtype, CAST(n_rings AS BIGINT) AS n_rings,
                   CAST(n_points AS BIGINT) AS n_points,
                   CAST(bminx AS DOUBLE) AS bminx, CAST(bminy AS DOUBLE) AS bminy,
                   CAST(bmaxx AS DOUBLE) AS bmaxx, CAST(bmaxy AS DOUBLE) AS bmaxy
            FROM (VALUES
              (1, 6, 2,  8, 26.768188, 53.504384, 28.388671, 54.278054),
              (2, 3, 2, 11, 26.531982, 53.176411, 28.943481, 54.204223),
              (3, 3, 1,  5,  0.0,       0.0,       4.0,       4.0)
            ) t(fid, gtype, n_rings, n_points, bminx, bminy, bmaxx, bmaxy)
        """,
        "to_epsg": f"""
            SELECT CAST(poly_id AS BIGINT) AS poly_id,
                   ROUND(6378137.0 * (CAST(minx AS DOUBLE) * (PI() / 180.0)), 2) AS mminx,
                   ROUND(6378137.0 * LN(TAN(PI() / 4.0 + (CAST(miny AS DOUBLE) * (PI() / 180.0)) / 2.0)), 2) AS mminy,
                   ROUND(6378137.0 * (CAST(maxx AS DOUBLE) * (PI() / 180.0)), 2) AS mmaxx,
                   ROUND(6378137.0 * LN(TAN(PI() / 4.0 + (CAST(maxy AS DOUBLE) * (PI() / 180.0)) / 2.0)), 2) AS mmaxy
            FROM {rects_sql_values('p')}
        """,
        "event_windows": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
                   COUNT(*) AS n, ROUND(SUM(value), 6) AS v
            FROM events GROUP BY 1, 2
        """,
        "event_rollup": """
            SELECT time_bucket(INTERVAL '1 day', ts) AS w_start, event_type,
                   COUNT(*) AS n, ROUND(SUM(value), 6) AS v,
                   ROUND(MIN(value), 9) AS vmin, ROUND(MAX(value), 9) AS vmax
            FROM events GROUP BY 1, 2
        """,
        "zonal_stats": f"""
            WITH px AS (
              SELECT cy.range AS row, cx.range AS col,
                     26.005 + cx.range * 0.01 AS x,
                     54.995 - cy.range * 0.01 AS y
              FROM range(300) cx, range(200) cy
            ), hit AS (
              SELECT p.poly_id, px.row * 300 + px.col + 1 AS v
              FROM {rects_sql_values('p')}, px
              WHERE px.x > p.minx AND px.x < p.maxx AND px.y > p.miny AND px.y < p.maxy
            )
            SELECT CAST(poly_id AS BIGINT) AS poly_id,
                   COUNT(*) AS n_pixels,
                   CAST(SUM(v) AS DOUBLE) AS sum,
                   CAST(MIN(v) AS DOUBLE) AS min,
                   CAST(MAX(v) AS DOUBLE) AS max,
                   ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 9) AS mean
            FROM hit GROUP BY poly_id
        """,
        "bbox_join": """
            WITH l AS (
              SELECT o_orderkey AS lid,
                     26.0 + CAST((o_orderkey * 271) % 2900 AS DOUBLE) / 1000.0 AS lminx,
                     53.0 + CAST((o_orderkey * 577) % 1900 AS DOUBLE) / 1000.0 AS lminy
              FROM orders
            ), r AS (
              SELECT p_partkey AS rid,
                     26.0 + CAST((p_partkey * 383) % 2900 AS DOUBLE) / 1000.0 AS rminx,
                     53.0 + CAST((p_partkey * 769) % 1900 AS DOUBLE) / 1000.0 AS rminy
              FROM part
            )
            SELECT l.lid AS lid, r.rid AS rid
            FROM l, r
            WHERE l.lminx <= r.rminx + 0.05 AND r.rminx <= l.lminx + 0.04
              AND l.lminy <= r.rminy + 0.05 AND r.rminy <= l.lminy + 0.04
        """,
        "bbox_join_hetero": """
            WITH l AS (
              SELECT s_suppkey AS lid,
                     26.0 + CAST((s_suppkey * 271) % 2900 AS DOUBLE) / 1000.0 AS lminx,
                     53.0 + CAST((s_suppkey * 577) % 1900 AS DOUBLE) / 1000.0 AS lminy,
                     CAST(CASE WHEN s_suppkey % 20 < 17 THEN 20
                               WHEN s_suppkey % 20 < 19 THEN 400
                               ELSE 4000 END AS DOUBLE) / 1000.0 AS w,
                     CAST(CASE WHEN s_suppkey % 20 < 17 THEN 14
                               WHEN s_suppkey % 20 < 19 THEN 280
                               ELSE 2800 END AS DOUBLE) / 1000.0 AS h
              FROM supplier
            ), r AS (
              SELECT p_partkey AS rid,
                     26.0 + CAST((p_partkey * 383) % 2900 AS DOUBLE) / 1000.0 AS rminx,
                     53.0 + CAST((p_partkey * 769) % 1900 AS DOUBLE) / 1000.0 AS rminy,
                     CAST(CASE WHEN p_partkey % 20 < 17 THEN 20
                               WHEN p_partkey % 20 < 19 THEN 400
                               ELSE 4000 END AS DOUBLE) / 1000.0 AS w,
                     CAST(CASE WHEN p_partkey % 20 < 17 THEN 14
                               WHEN p_partkey % 20 < 19 THEN 280
                               ELSE 2800 END AS DOUBLE) / 1000.0 AS h
              FROM part
            )
            SELECT l.lid AS lid, r.rid AS rid
            FROM l, r
            WHERE l.lminx <= r.rminx + r.w AND r.rminx <= l.lminx + l.w
              AND l.lminy <= r.rminy + r.h AND r.rminy <= l.lminy + l.h
        """,
        "intersects_join": """
            WITH l AS (
              SELECT o_orderkey AS lid,
                     26.0 + CAST((o_orderkey * 271) % 2800 AS DOUBLE) / 1000.0 AS minx,
                     53.0 + CAST((o_orderkey * 577) % 1800 AS DOUBLE) / 1000.0 AS miny
              FROM orders
            ), r AS (
              SELECT p_partkey AS rid,
                     26.0004 + CAST((p_partkey * 383) % 2800 AS DOUBLE) / 1000.0 AS minx,
                     53.0004 + CAST((p_partkey * 769) % 1800 AS DOUBLE) / 1000.0 AS miny
              FROM part
            )
            SELECT l.lid AS lid, r.rid AS rid
            FROM l, r
            WHERE l.minx < r.minx + 0.05 AND r.minx < l.minx + 0.04
              AND l.miny < r.miny + 0.05 AND r.miny < l.miny + 0.04
        """,
        "salted_join": """
            SELECT l.l_suppkey AS l_suppkey, s.s_nationkey AS s_nationkey,
                   COUNT(*) AS n, ROUND(SUM(l.l_quantity), 3) AS qty
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY 1, 2
        """,
        "geom_bounds": f"""
            SELECT CAST(poly_id AS BIGINT) AS poly_id,
                   CAST(minx AS DOUBLE) AS bminx, CAST(miny AS DOUBLE) AS bminy,
                   CAST(maxx AS DOUBLE) AS bmaxx, CAST(maxy AS DOUBLE) AS bmaxy
            FROM {rects_sql_values('p')}
        """,
        "crs_3857": f"""
            WITH {_GEO_CTE},
            r AS (
              SELECT doc_id,
                     ROUND(CAST(x AS DOUBLE), 6) AS xr,
                     ROUND(CAST(y AS DOUBLE), 6) AS yr
              FROM geo
            )
            SELECT doc_id,
                   ROUND(6378137.0 * (xr * (PI() / 180.0)), 2) AS mx,
                   ROUND(6378137.0 * LN(TAN(PI() / 4.0 + (yr * (PI() / 180.0)) / 2.0)), 2) AS my
            FROM r
        """,
        "asof_join": """
            WITH l AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
            ), r AS (
              SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'signup'
            ), u AS (
              SELECT user_id, ts, 1 AS side, event_id AS oid, event_id AS lid,
                     NULL::BIGINT AS rid0, NULL::DOUBLE AS rvalue0, NULL::TIMESTAMP AS rts0
              FROM l
              UNION ALL
              SELECT user_id, ts, 0, event_id, NULL, event_id, value, ts FROM r
            ), w AS (
              SELECT user_id, side, lid,
                     last_value(rid0 IGNORE NULLS) OVER win AS rid,
                     last_value(rvalue0 IGNORE NULLS) OVER win AS r_value,
                     last_value(rts0 IGNORE NULLS) OVER win AS rts
              FROM u
              WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, oid ROWS UNBOUNDED PRECEDING)
            )
            SELECT lid, user_id, rid, r_value, epoch_us(rts) AS r_ts_us FROM w WHERE side = 1
        """,
        "kmv_distinct": """
            WITH h AS (
              SELECT DISTINCT event_type AS grp,
                     CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM events
            ), rk AS (
              SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM h
            ), topk AS (SELECT * FROM rk WHERE rn <= 32),
            agg AS (
              SELECT grp, COUNT(*) AS n_kept, MAX(h) AS hmax,
                     string_agg(CAST(h AS VARCHAR), ',' ORDER BY h) AS sketch_csv
              FROM topk GROUP BY grp
            )
            SELECT grp AS event_type, CAST(n_kept AS BIGINT) AS n_kept, hmax AS kth,
                   ROUND(CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
                              ELSE 31.0 / (CAST(hmax AS DOUBLE) / 1152921504606846976.0) END, 9) AS est_distinct,
                   sketch_csv
            FROM agg
        """,
        "crs_lcc": _crs_lcc_oracle_sql(),
        "polygonize": f"""
            WITH px AS (
              SELECT 26.005 + cx.range * 0.01 AS x,
                     54.995 - cy.range * 0.01 AS y
              FROM range(300) cx, range(200) cy
            ), rects AS (
              SELECT * FROM {rects_sql_values('p')} WHERE poly_id < 100
            )
            SELECT COUNT(*) AS n_pixels
            FROM rects r JOIN px
              ON px.x > r.minx AND px.x < r.maxx AND px.y > r.miny AND px.y < r.maxy
            GROUP BY r.poly_id
        """,
        "rasterize_hist": f"""
            WITH px AS (
              SELECT 26.005 + cx.range * 0.01 AS x,
                     54.995 - cy.range * 0.01 AS y
              FROM range(300) cx, range(200) cy
            ), cov AS (
              SELECT CAST(CASE WHEN EXISTS (
                       SELECT 1 FROM {rects_sql_values('p')}
                       WHERE px.x > p.minx AND px.x < p.maxx
                         AND px.y > p.miny AND px.y < p.maxy
                     ) THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value
              FROM px
            )
            SELECT value, COUNT(*) AS cnt FROM cov GROUP BY value
        """,
        "span_counts": f"""
            SELECT doc_id,
                   CAST(2 + CASE WHEN doc_id % 10 IN (0,1,2) THEN 1 ELSE 0 END
                     + CASE WHEN doc_id % 10 IN (8,9) THEN 1 ELSE 0 END AS BIGINT) AS n_spans,
                   CAST(CASE WHEN doc_id % 10 IN (0,1,2) THEN 1 ELSE 0 END AS BIGINT) AS n_geo,
                   CAST(CASE WHEN doc_id % 10 IN (8,9) THEN 1 ELSE 0 END AS BIGINT) AS n_media
            FROM documents
        """,
    }
    return out


# --------------------------------------------------------------------------
# entry
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pip_join(spark, SF0001)
