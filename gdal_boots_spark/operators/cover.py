"""The polygon dimension, its one size gate, and polygon -> touched-tile
contribution rows in two physical shapes.

The point-in-polygon join and the raster x vector operators
(rasterize, zonal_stats, crop cutlines) all start from a small polygon
dimension.  SURVEY §2.7 / SCALE.md "what breaks first" item 1: it is
usually broadcast-sized, but at 10^6+ parcels the driver collect
becomes the bottleneck, so every operator keeps both shapes and ONE
gate picks between them:

* ``fits_broadcast`` — the only broadcast↔distributed switch.  Callers
  pass ``partitioning.plan_bytes(df)`` (zero jobs) or a plan-time
  constant; nothing else selects a path.
* ``poly_dim`` — the broadcast side's dimension: the one GeoJSON decode
  pass (functions.geometry_fns.decode_geojson) collected once per
  session and plan, with its packed coords broadcast once.
  ``tile_contribs`` derives the (tile, polygon) pairs from it on the
  driver, with no second job.
* ``contribs_distributed`` — never collects: the same decode pass, then
  inverse-affine pixel bbox and tile-range explode as native Column
  math; the packed-geometry struct rides the contribution rows to the
  render/aggregate stage (the same shape as
  spatial_join.pip_join_points_shuffle).

Both shapes produce the same logical relation; the both-ways gate
matrix in tests/test_spatial_join.py forces each operator to each side.

Pixel-bbox note: the distributed path computes the pixel bbox from the
4 corners of the world-space envelope (exact for axis-aligned
transforms; a safe superset under rotation terms), while the broadcast
path uses the per-vertex transform.  Superset candidates render as
all-zero masks and are dropped, so outputs agree.
"""

from __future__ import annotations

from typing import Any, NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import memo
from ..functions.geometry_fns import decode_geojson
from ..geom.affine import invert_transform
from ..sources.tiles import RasterGrid


# The broadcast↔distributed ceiling (round-4 verdict item 6): the
# collect-and-broadcast shapes are only safe while the dimension stays
# driver-sized.  Read at call time, so -1 forces every operator to its
# distributed shape and 2**62 to its broadcast shape.
BROADCAST_MAX_BYTES = 64 << 20


def fits_broadcast(nbytes: int) -> bool:
    """The one gate: True when a dimension of ``nbytes`` (normally
    ``partitioning.plan_bytes``, which reads unknown statistics — data
    that was already on the driver — as 0) takes the broadcast shape."""
    return nbytes <= BROADCAST_MAX_BYTES


class PolyDim(NamedTuple):
    """A collected polygon dimension.  Read-only: it is the memo's entry."""

    key: Any  # memo key of the dim plan (None: not memoised)
    packed: dict  # {poly_id: (coords float64[2n], ring_offsets int32)}
    bboxes: dict  # {poly_id: (minx, miny, maxx, maxy)}
    rect_pids: frozenset  # ids of single-ring axis-aligned rectangles
    bpacked: Any  # Broadcast of ``packed``, unpersisted on memo eviction


def poly_dim(polys: DataFrame) -> PolyDim:
    """polys(poly_id, geojson) -> PolyDim, memoised per session and input
    plan: one decode_geojson pass collected as Arrow (null, unparseable
    and empty geometries are already dropped), its geom, bbox and rect
    columns read as flat buffers, and ``packed`` broadcast once.  The
    polygon side is the *dimension*; the fact side never leaves the
    executors."""
    key = memo.plan_key(polys)

    def build():
        t = decode_geojson(polys, "geojson", ["poly_id"]).toArrow()
        geom = t.column("geom").combine_chunks().flatten()
        cvals, coffs = geom[1].values.to_numpy(), geom[1].offsets.to_numpy()
        rvals, roffs = geom[2].values.to_numpy(), geom[2].offsets.to_numpy()
        bbox = zip(*(t.column(c).to_pylist() for c in ("minx", "miny", "maxx", "maxy")))
        packed, bboxes, rect = {}, {}, {}
        for i, (pid, box, r) in enumerate(zip(t.column("poly_id").to_pylist(), bbox, t.column("rect").to_pylist())):
            packed[pid] = (cvals[coffs[i] : coffs[i + 1]], rvals[roffs[i] : roffs[i + 1]])
            bboxes[pid], rect[pid] = box, r
        bpacked = polys.sparkSession.sparkContext.broadcast(packed)
        return PolyDim(key, packed, bboxes, frozenset(p for p, r in rect.items() if r), bpacked)

    return memo.get("poly_dim", key, build)


def vertex_pixel_bbox(coords: np.ndarray, transform):
    """Driver-side: packed coords -> pixel-space bbox over ALL vertices
    (exact under any affine transform)."""
    ia, ib, ic, id_, ie, if_ = invert_transform(transform)
    c = coords.reshape(-1, 2)
    px = ia * c[:, 0] + ib * c[:, 1] + ic
    py = id_ * c[:, 0] + ie * c[:, 1] + if_
    return px.min(), py.min(), px.max(), py.max()


def _tile_range(minv, maxv, tile_size: int, n_tiles: int):
    """Pixel interval -> touched tile index range (floor/ceil snap,
    clamped to the grid) — the Column form of tile_contribs'
    ``int(np.floor(minpx)) // tile_w`` arithmetic."""
    t0 = F.greatest(F.lit(0), F.floor(F.floor(minv) / tile_size)).cast("int")
    t1 = F.least(F.lit(n_tiles - 1), F.floor((F.ceil(maxv) - 1) / tile_size)).cast("int")
    return t0, t1


def tile_contribs(dim: PolyDim, grid: RasterGrid) -> list[tuple[int, int, int]]:
    """-> [(tile_x, tile_y, poly_id)] for every tile a dim polygon's
    vertex pixel bbox touches: driver work over the collected dim, no
    Spark job, memoised per dim and grid.  The list is the memo's entry:
    callers must treat it as read-only."""

    def build():
        contribs = []
        for pid, (coords, _) in dim.packed.items():
            minpx, minpy, maxpx, maxpy = vertex_pixel_bbox(coords, grid.transform)
            tx0 = max(0, int(np.floor(minpx)) // grid.tile_w)
            tx1 = min(grid.n_tiles_x - 1, int(np.ceil(maxpx) - 1) // grid.tile_w)
            ty0 = max(0, int(np.floor(minpy)) // grid.tile_h)
            ty1 = min(grid.n_tiles_y - 1, int(np.ceil(maxpy) - 1) // grid.tile_h)
            contribs.extend((tx, ty, pid) for ty in range(ty0, ty1 + 1) for tx in range(tx0, tx1 + 1))
        return contribs

    key = None if dim.key is None else (dim.key, grid.transform, grid.width, grid.height, grid.tile_w, grid.tile_h)
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
