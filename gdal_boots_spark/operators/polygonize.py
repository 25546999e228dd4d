"""Distributed polygonize (raster -> vector) with cross-tile stitching.

Reference: ``RasterDataset.to_vector`` (gdal.py:609-623) —
gdal.Polygonize: 4-connected regions of equal pixel value -> polygons.

Engine shape (the two-stage plan of SURVEY §2.7):

  1. per-tile mapInArrow: label components, emit per-component
     (value, pixel count, directed boundary edges as an int64 blob) and
     border runs on each tile side, as typed columns;
  2. adjacency join: border runs meet across a shared tile line when
     value matches and row/col intervals overlap -> merge pairs;
  3. ``connected_components`` over the merge pairs: one lazy
     mapInArrow task (vectorized root hooking + pointer jumping) over
     one node per *border-touching component*, not per pixel — no
     Spark job at build time;
  4. groupBy(global component): concat edges, cancel seam pairs, trace
     rings, emit Polygon (shell + holes) in world coordinates.

Exactness: boundary edges are directed interior-left, so seam edges
cancel in pairs and the stitched polygon is pixel-exact (validated by
the PIP round-trip property test).
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..geom.polygonize_kernel import (
    boundary_edges,
    cancel_paired_edges,
    label_components,
    ring_signed_area,
    trace_rings,
)
from ..geom.validity import _interior_point
from ..sources.tiles import RasterGrid

# one row per component (npix, edges set) or per border run (axis, line,
# lo, hi set); the other kind's columns are null
_SWEEP = "comp string, value double, npix long, edges binary, axis string, line long, lo long, hi long"


def _per_tile(grid: RasterGrid, exclude):
    tw, th = grid.tile_w, grid.tile_h

    def fn(batches):
        import pyarrow as pa

        types = {"string": pa.string(), "double": pa.float64(), "long": pa.int64(), "binary": pa.binary()}
        schema = pa.schema([(n, types[t]) for n, t in (c.split() for c in _SWEEP.split(", "))])
        for batch in batches:
            rows = []
            for t in batch.to_pylist():
                arr = np.frombuffer(t["data"], dtype=np.dtype(t["dtype"])).reshape(t["height"], t["width"])
                labels, n = label_components(arr, exclude=exclude)
                tx, ty = int(t["tile_x"]), int(t["tile_y"])
                r0, c0 = ty * th, tx * tw
                h, w = arr.shape
                for lab in range(1, n + 1):
                    m = labels == lab
                    val = float(arr[m][0])
                    edges = boundary_edges(labels, lab, r0=r0, c0=c0)
                    ckey = f"{tx}_{ty}_{lab}"
                    rows.append((ckey, val, int(m.sum()), edges.tobytes(), None, None, None, None))
                    # border runs (global pixel indices along each side)
                    sides = [
                        ("v", c0, m[:, 0], r0),        # left side at line x=c0
                        ("v", c0 + w, m[:, -1], r0),   # right side at line x=c0+w
                        ("h", r0, m[0, :], c0),        # top side at line y=r0
                        ("h", r0 + h, m[-1, :], c0),   # bottom at line y=r0+h
                    ]
                    for axis, line, strip, off in sides:
                        idx = np.nonzero(strip)[0]
                        if len(idx) == 0:
                            continue
                        # contiguous runs
                        breaks = np.nonzero(np.diff(idx) > 1)[0]
                        starts = np.concatenate([[0], breaks + 1])
                        ends = np.concatenate([breaks, [len(idx) - 1]])
                        for s, e in zip(starts, ends):
                            lo, hi = int(idx[s] + off), int(idx[e] + off + 1)
                            rows.append((ckey, val, None, None, axis, int(line), lo, hi))
            if rows:
                cols = [pa.array(c, type=f.type) for c, f in zip(zip(*rows), schema)]
                yield pa.RecordBatch.from_arrays(cols, schema=schema)

    return fn


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over ``(x, y)`` id pairs -> ``(comp, gid)``
    for every id in a pair, with gid the smallest id of its component
    (string or long ids; strings order as Spark orders them).

    One lazy mapInArrow task: ``np.unique`` codes the ids (sorted, so
    the smallest code is the smallest id), then each round hooks every
    root under the smallest root it shares an edge with and pointer-
    jumps each id to its root, until no edge joins two roots.  Building
    it runs no Spark job; memory is O(distinct ids + pairs) in one task.
    """
    t = pairs.schema["x"].dataType.simpleString()

    def cc(batches):
        import pyarrow as pa

        xs, ys = [], []
        for b in batches:
            xs.append(b.column("x").to_numpy(zero_copy_only=False))
            ys.append(b.column("y").to_numpy(zero_copy_only=False))
        ids = np.concatenate(xs + ys) if xs else np.empty(0, np.int64)
        if len(ids) == 0:
            return
        if ids.dtype == object:
            ids = ids.astype(str)
        uniq, code = np.unique(ids, return_inverse=True)
        u, v = code[: len(ids) // 2], code[len(ids) // 2:]
        root = np.arange(len(uniq))
        while True:
            ru, rv = root[u], root[v]
            cross = ru != rv
            if not cross.any():
                break
            np.minimum.at(root, np.maximum(ru, rv)[cross], np.minimum(ru, rv)[cross])
            while True:
                nxt = root[root]
                if (nxt == root).all():
                    break
                root = nxt
        yield pa.RecordBatch.from_arrays([pa.array(uniq), pa.array(uniq[root])], names=["comp", "gid"])

    return pairs.select("x", "y").repartition(1).mapInArrow(cc, f"comp {t}, gid {t}")


def polygonize(
    spark: SparkSession, tiles: DataFrame, grid: RasterGrid, exclude=None, band: int = 0,
    progress=None,
) -> DataFrame:
    """-> (comp_id string, value double, n_pixels long, geojson string).

    ``comp_id`` is the smallest per-tile component key of each stitched
    component.

    ``progress``: optional GDAL-style callback ``(fraction, msg,
    user_data)`` mirroring the reference's ``to_vector(callback=...)``
    (gdal.py:609-623, exercised with tqdm in test_raster.py:120-134).
    gdal.Polygonize is synchronous, so when a callback is given the
    stages run eagerly (tile sweep, then merge graph + connected
    components + ring assembly) and the returned DataFrame is fully
    materialized (persisted) by the time 1.0 is reported; without one,
    the plan stays lazy and building it runs no Spark job."""
    def _report(frac, msg):
        if progress is not None:
            progress(frac, msg, None)

    _report(0.0, "polygonize: tile sweep")
    src = tiles.where(f"band = {int(band)}").select("tile_x", "tile_y", "width", "height", "dtype", "data")
    # the one branch point: components and border runs both read it
    sweep = memo.persist(src.mapInArrow(_per_tile(grid, exclude), _SWEEP))
    if progress is not None:
        sweep.count()  # materialize the per-tile pass into the persisted cache
        _report(0.4, "polygonize: merge graph, connected components, ring assembly")

    comps = sweep.where("axis IS NULL").select("comp", "value", "npix", "edges")
    borders = sweep.where("axis IS NOT NULL").select("comp", "value", "axis", "line", "lo", "hi")
    pairs = borders.alias("a").join(
        borders.alias("b"),
        F.expr(
            "a.axis = b.axis AND a.line = b.line AND a.value = b.value"
            " AND a.comp < b.comp AND a.lo < b.hi AND b.lo < a.hi"
        ),
    ).selectExpr("a.comp AS x", "b.comp AS y")
    merged = comps.join(connected_components(pairs), "comp", "left").selectExpr(
        "coalesce(gid, comp) AS gid", "comp", "value", "npix", "edges"
    )

    a_, b_, c_, d_, e_, f_ = grid.transform

    def assemble(key, pdf):
        import pandas as pd

        # concat in comp-key order: edge order feeds ring tracing, so a
        # deterministic order makes the emitted GeoJSON reproducible
        # under any parallelism
        pdf = pdf.sort_values("comp")
        edges = np.concatenate(
            [np.frombuffer(x, dtype=np.int64).reshape(-1, 4) for x in pdf["edges"]]
        )
        edges = cancel_paired_edges(edges)
        rings = trace_rings(edges)
        shells, holes = [], []
        for r in rings:
            (shells if ring_signed_area(r) > 0 else holes).append(r)
        # world transform: corner (x=col, y=row) -> world
        def world(r):
            xs = a_ * r[:, 0] + b_ * r[:, 1] + c_
            ys = d_ * r[:, 0] + e_ * r[:, 1] + f_
            return np.column_stack([xs, ys]).tolist()

        polys = []
        for s in shells:
            rs = [world(s)]
            for h in holes:
                ip = _interior_point([tuple(p) for p in h.tolist()])
                if ip is not None:
                    # hole belongs to the shell containing it (pixel frame)
                    from ..geom.pip import points_in_polygon

                    inside = points_in_polygon(
                        np.array([ip[0]]), np.array([ip[1]]),
                        s.astype(np.float64).ravel(), np.asarray([0, len(s)], np.int32),
                    )[0]
                    if inside:
                        rs.append(world(h))
            polys.append(rs)
        if len(polys) == 1:
            gj = {"type": "Polygon", "coordinates": polys[0]}
        else:
            gj = {"type": "MultiPolygon", "coordinates": polys}
        return pd.DataFrame(
            [
                {
                    "comp_id": str(key[0]),
                    "value": float(pdf["value"].iloc[0]),
                    "n_pixels": int(pdf["npix"].sum()),
                    "geojson": json.dumps(gj, separators=(",", ":")),
                }
            ]
        )

    out = merged.groupBy("gid").applyInPandas(
        assemble, schema="comp_id string, value double, n_pixels long, geojson string"
    )
    if progress is not None:
        out = memo.persist(out)
        out.count()
        _report(1.0, "polygonize: done")
    return out
