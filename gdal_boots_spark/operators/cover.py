"""Polygon -> touched-tile contribution rows, in two physical shapes.

The raster x vector operators (rasterize, zonal_stats, crop cutlines)
all start from the same relation: one row per (tile, polygon) pair
where the polygon's pixel-space bbox touches the tile.  SURVEY §2.7 /
SCALE.md "what breaks first" item 1: the polygon side is usually a
broadcast-sized dimension, but at 10^6+ parcels the driver collect +
Python double loop becomes the bottleneck, so the engine offers both:

* ``contribs_broadcast`` — driver-side decode + loop, polygons ride a
  Spark broadcast dict keyed by poly_id (zero shuffle; the render joins
  candidates to the dict inside the worker).  For small dims.
* ``contribs_distributed`` — never collects: the one GeoJSON decode
  pass (functions.geometry_fns.decode_geojson: packed geometry plus
  envelope, one mapInArrow), then inverse-affine pixel bbox and
  tile-range explode as native Column math; the packed-geometry struct
  rides the contribution rows to the render/aggregate stage (the same
  shape as spatial_join.pip_join_points_shuffle).

Both paths produce the same logical relation; pytest asserts
rasterize/zonal equality between them (tests/test_rasterize_warp.py,
tests/test_spatial_join.py).

Pixel-bbox note: the distributed path computes the pixel bbox from the
4 corners of the world-space envelope (exact for axis-aligned
transforms; a safe superset under rotation terms), while the broadcast
path uses the per-vertex transform.  Superset candidates render as
all-zero masks and are dropped, so outputs agree.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import memo
from ..functions.geometry_fns import decode_geojson
from ..geom.affine import invert_transform
from ..geom.packed import from_geojson
from ..sources.tiles import RasterGrid


# broadcast↔distributed auto-switch default (round-4 verdict item 6):
# the collect-and-broadcast paths are only safe while the polygon
# dimension stays driver-sized.  Callers that pass distributed=None get
# a ZERO-JOB probe against this ceiling; tests monkeypatch it to force
# the switch.
BROADCAST_MAX_BYTES = 64 << 20


def polys_fit_broadcast(polys: DataFrame, max_bytes: int | None = None) -> bool:
    """Zero-job dimension-size estimate: Catalyst's optimized-plan
    ``stats().sizeInBytes`` — the same statistic Spark's own
    auto-broadcast-join threshold consults.  LocalRelation / parquet
    sources report (near-)exact bytes; derived plans inherit
    conservative (over-)estimates, which errs toward the no-collect
    path — the safe direction.  True when the collect+broadcast paths
    are safe; False routes callers to the no-collect siblings
    (contribs_distributed / the shuffle PIP join).

    An earlier one-aggregate-job version of this probe cost ~0.5s of
    scheduling latency PER QUERY BUILD and showed up as a 10% flagship
    bench regression (BENCH/BASELINE.md r4) — the probe must not run a
    job.

    Unknown statistics (sizeInBytes == Long.MaxValue, i.e. a
    LogicalRDD from ``createDataFrame``) mean the dimension was built
    from DRIVER-resident data — it already fit on the driver, so the
    broadcast path is safe by construction and we return True.  Every
    file-backed source (parquet/json/binaryFile) reports real sizes
    and auto-switches; pass ``distributed=True`` explicitly for exotic
    RDD-derived dimensions of unknown size."""
    max_bytes = BROADCAST_MAX_BYTES if max_bytes is None else max_bytes
    size = int(polys._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size >= (1 << 62):  # statistics unknown: driver-created data
        return True
    return size <= max_bytes


def vertex_pixel_bbox(pg, transform):
    """Driver-side: packed geometry -> pixel-space bbox over ALL
    vertices (exact under any affine transform)."""
    ia, ib, ic, id_, ie, if_ = invert_transform(transform)
    c = pg.coords.reshape(-1, 2)
    px = ia * c[:, 0] + ib * c[:, 1] + ic
    py = id_ * c[:, 0] + ie * c[:, 1] + if_
    return px.min(), py.min(), px.max(), py.max()


def _tile_range(minv, maxv, tile_size: int, n_tiles: int):
    """Pixel interval -> touched tile index range (floor/ceil snap,
    clamped to the grid) — the Column form of the driver's
    ``int(np.floor(minpx)) // tile_w`` arithmetic."""
    t0 = F.greatest(F.lit(0), F.floor(F.floor(minv) / tile_size)).cast("int")
    t1 = F.least(F.lit(n_tiles - 1), F.floor((F.ceil(maxv) - 1) / tile_size)).cast("int")
    return t0, t1


def contribs_broadcast(spark, polys: DataFrame, grid: RasterGrid):
    """-> (packed dict {poly_id: (coords, ring_offsets)},
           contribs list [(tile_x, tile_y, poly_id)]).
    Driver collect, memoised per session on the dimension's plan and
    the grid (rebuilding the same burn costs zero jobs); the polygon
    table must be dimension-sized.  The returned objects are the memo's
    entries themselves: callers must treat them as read-only."""

    def build():
        packed, contribs = {}, []
        for r in polys.select("poly_id", "geojson").collect():
            pg = from_geojson(r["geojson"])
            if pg.n_points == 0:
                continue
            pid = int(r["poly_id"])
            packed[pid] = (pg.coords, pg.ring_offsets)
            minpx, minpy, maxpx, maxpy = vertex_pixel_bbox(pg, grid.transform)
            tx0 = max(0, int(np.floor(minpx)) // grid.tile_w)
            tx1 = min(grid.n_tiles_x - 1, int(np.ceil(maxpx) - 1) // grid.tile_w)
            ty0 = max(0, int(np.floor(minpy)) // grid.tile_h)
            ty1 = min(grid.n_tiles_y - 1, int(np.ceil(maxpy) - 1) // grid.tile_h)
            for ty in range(ty0, ty1 + 1):
                for tx in range(tx0, tx1 + 1):
                    contribs.append((tx, ty, pid))
        return packed, contribs

    key = memo.plan_key(polys, grid.transform, grid.width, grid.height, grid.tile_w, grid.tile_h)
    return memo.get("contribs", key, build)


def contribs_distributed(polys: DataFrame, grid: RasterGrid) -> DataFrame:
    """-> DataFrame(tile_x int, tile_y int, poly_id long, geom struct).

    No driver collect: decode is the one mapInArrow pass
    (decode_geojson, which drops null/unparseable/empty geometries),
    everything after it is whole-stage-codegen Column math; the output
    is ready to shuffle on (tile_x, tile_y) and carries each polygon's
    packed coords to the consumer stage.
    """
    ia, ib, ic, id_, ie, if_ = invert_transform(grid.transform)
    gp = decode_geojson(polys, "geojson", ["poly_id"])

    def px(x, y):
        return F.lit(ia) * x + F.lit(ib) * y + F.lit(ic)

    def py(x, y):
        return F.lit(id_) * x + F.lit(ie) * y + F.lit(if_)

    corners = [(F.col(x), F.col(y)) for x in ("minx", "maxx") for y in ("miny", "maxy")]
    minpx = F.least(*[px(x, y) for x, y in corners])
    maxpx = F.greatest(*[px(x, y) for x, y in corners])
    minpy = F.least(*[py(x, y) for x, y in corners])
    maxpy = F.greatest(*[py(x, y) for x, y in corners])

    tx0, tx1 = _tile_range(minpx, maxpx, grid.tile_w, grid.n_tiles_x)
    ty0, ty1 = _tile_range(minpy, maxpy, grid.tile_h, grid.n_tiles_y)
    ranged = gp.select(
        "poly_id", "geom", tx0.alias("_tx0"), tx1.alias("_tx1"), ty0.alias("_ty0"), ty1.alias("_ty1")
    ).where((F.col("_tx0") <= F.col("_tx1")) & (F.col("_ty0") <= F.col("_ty1")))
    # guard order matters: F.sequence(1, 0) is DESCENDING, not empty
    return (
        ranged.select(
            "poly_id", "geom",
            F.explode(F.sequence(F.col("_tx0"), F.col("_tx1"))).alias("tile_x"),
            F.col("_ty0"), F.col("_ty1"),
        )
        .select(
            "poly_id", "geom", "tile_x",
            F.explode(F.sequence(F.col("_ty0"), F.col("_ty1"))).alias("tile_y"),
        )
        .select("tile_x", "tile_y", "poly_id", "geom")
    )


def geom_arrays(row_geom) -> tuple[np.ndarray, np.ndarray]:
    """A geom struct value (pandas row cell) -> (coords, ring_offsets)."""
    return (
        np.asarray(row_geom["coords"], dtype=np.float64),
        np.asarray(row_geom["ring_offsets"], dtype=np.int32),
    )
