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
  the same pairs as SQL strings; the packed-geometry struct rides the
  contribution rows to the render/aggregate stage (the same shape as
  spatial_join.pip_join_points_shuffle).

Both shapes produce the same relation: the decode pass's envelope, its
4 corners through the inverse affine (a safe superset of the polygon's
pixels under rotation terms; superset tiles render empty and are
dropped), then the one tile assignment of sources/tiles.py
(``tile_explode`` on the driver, ``explode_tiles`` in Spark).  The
both-ways gate matrix in tests/test_spatial_join.py forces each
operator to each side.
"""

from __future__ import annotations

from typing import Any, NamedTuple

import numpy as np
from pyspark.sql import DataFrame

from .. import memo
from ..functions.geometry_fns import decode_geojson, double_lit_sql
from ..geom.affine import invert_transform
from ..sources.tiles import RasterGrid, explode_tiles, tile_explode


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


def tile_contribs(dim: PolyDim, grid: RasterGrid):
    """-> (tile_x, tile_y, poly_id) int64 arrays, one entry per tile that
    a dim polygon's envelope touches (the relation ``contribs_distributed``
    builds, polygons in dim order, tile_y-major): NumPy over the collected
    dim, no Spark job, memoised per dim and grid.  The arrays are the
    memo's entry: callers must treat them as read-only."""

    def build():
        ia, ib, ic, id_, ie, if_ = invert_transform(grid.transform)
        box = np.array(list(dim.bboxes.values()), dtype=np.float64).reshape(-1, 4)
        xs, ys = box[:, [0, 0, 2, 2]], box[:, [1, 3, 1, 3]]
        px, py = ia * xs + ib * ys + ic, id_ * xs + ie * ys + if_
        row, tx, ty = tile_explode(px.min(1), px.max(1), py.min(1), py.max(1), grid)
        return tx, ty, np.fromiter(dim.bboxes, np.int64, len(dim.bboxes))[row]

    key = None if dim.key is None else (dim.key, grid.transform, grid.width, grid.height, grid.tile_w, grid.tile_h)
    return memo.get("contribs", key, build)


def contribs_distributed(polys: DataFrame, grid: RasterGrid) -> DataFrame:
    """-> DataFrame(poly_id long, geom struct, tile_x int, tile_y int).

    No driver collect: decode is the one mapInArrow pass
    (decode_geojson, which drops null/unparseable/empty geometries),
    then the envelope's 4 corners go through the inverse affine and the
    tile explode (sources.tiles.explode_tiles) as SQL strings; the output
    is ready to shuffle on (tile_x, tile_y) and carries each polygon's
    packed coords to the consumer stage.
    """
    ia, ib, ic, id_, ie, if_ = (double_lit_sql(v) for v in invert_transform(grid.transform))
    corners = [(x, y) for x in ("minx", "maxx") for y in ("miny", "maxy")]
    px = ", ".join(f"{ia} * {x} + {ib} * {y} + {ic}" for x, y in corners)
    py = ", ".join(f"{id_} * {x} + {ie} * {y} + {if_}" for x, y in corners)
    gp = decode_geojson(polys, "geojson", ["poly_id"])
    return explode_tiles(
        gp, ["poly_id", "geom"], grid, f"LEAST({px})", f"GREATEST({px})", f"LEAST({py})", f"GREATEST({py})"
    )


def geom_arrays(row_geom) -> tuple[np.ndarray, np.ndarray]:
    """A geom struct value (pandas row cell) -> (coords, ring_offsets)."""
    return (
        np.asarray(row_geom["coords"], dtype=np.float64),
        np.asarray(row_geom["ring_offsets"], dtype=np.int32),
    )
