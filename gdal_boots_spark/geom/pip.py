"""Vectorized even-odd ray-casting point-in-polygon (pure NumPy).

This is the refinement kernel of the engine's cell-bucketed spatial
join (SURVEY.md §2.3) — the explicit re-expression of what the
reference does inside GDAL's rasterize/warp C code.  Semantics: a point
is inside iff a ray to +x crosses the boundary an odd number of times;
holes fall out of the even-odd rule automatically.  Boundary behavior
follows the standard asymmetric rule ((y1 > py) != (y2 > py)), i.e.
points exactly on a horizontal edge resolve deterministically.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from .packed import PackedGeometry, collection_children


def _ring_edges(coords: np.ndarray, ring_offsets: np.ndarray, close: bool = True):
    """Build edge endpoint arrays (x1,y1,x2,y2) for every ring edge.

    Rings are assumed closed (GeoJSON-style repeated last point); if a
    ring is not closed we wrap around to close it.  ``close=False``
    keeps each part open (LineString/MultiLineString polylines).
    """
    c = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
    x1s, y1s, x2s, y2s = [], [], [], []
    for r in range(len(ring_offsets) - 1):
        lo, hi = int(ring_offsets[r]), int(ring_offsets[r + 1])
        if hi - lo < 2:
            continue
        ring = c[lo:hi]
        if close and (ring[0, 0] != ring[-1, 0] or ring[0, 1] != ring[-1, 1]):
            ring = np.vstack([ring, ring[:1]])
        x1s.append(ring[:-1, 0])
        y1s.append(ring[:-1, 1])
        x2s.append(ring[1:, 0])
        y2s.append(ring[1:, 1])
    if not x1s:
        z = np.empty(0, dtype=np.float64)
        return z, z, z, z
    return (
        np.concatenate(x1s),
        np.concatenate(y1s),
        np.concatenate(x2s),
        np.concatenate(y2s),
    )


def points_in_polygon(px, py, coords, ring_offsets, chunk: int = 65536):
    """Even-odd PIP of points (px, py) against packed rings.

    Returns a bool array.  Memory-bounded: processes points in chunks
    so the (points x edges) crossing matrix stays small.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1, y1, x2, y2 = _ring_edges(coords, np.asarray(ring_offsets))
    out = np.zeros(px.shape[0], dtype=bool)
    if x1.size == 0 or px.size == 0:
        return out
    # Precompute edge slope terms; guard div-by-zero on horizontal edges
    # (they never satisfy the straddle test, so the value is unused).
    dy = y2 - y1
    dy_safe = np.where(dy == 0.0, 1.0, dy)
    slope = (x2 - x1) / dy_safe
    # size the (points x edges) crossing matrix to stay cache-resident:
    # ~192k f8 elements ≈ 1.5 MB per temporary, x ~4 temporaries < L2/L3
    # share per core.  Larger budgets go memory-bandwidth-bound and stop
    # scaling with cores (measured on 32-core local mode).
    max_e = max(1, int(np.ceil(192_000 / max(1, x1.size))))
    step = min(chunk, max_e)
    for lo in range(0, px.size, step):
        hi = min(lo + step, px.size)
        pyc = py[lo:hi, None]
        pxc = px[lo:hi, None]
        straddle = (y1[None, :] > pyc) != (y2[None, :] > pyc)
        xint = x1[None, :] + slope[None, :] * (pyc - y1[None, :])
        cross = straddle & (pxc < xint)
        out[lo:hi] = (cross.sum(axis=1) & 1).astype(bool)
    return out


def points_in_packed(px, py, pg: PackedGeometry):
    """PIP against a PackedGeometry (Polygon or MultiPolygon)."""
    if pg.gtype not in (3, 6):
        raise ValueError("PIP requires Polygon/MultiPolygon")
    return points_in_polygon(px, py, pg.coords, pg.ring_offsets)



def polygons_intersect(pga: PackedGeometry, pgb: PackedGeometry) -> bool:
    """Exact polygon/polygon intersection predicate matching GEOS
    ``Intersects`` semantics (the reference's feature.intersects is a
    GEOS call): proper boundary crossing, vertex containment (even-odd),
    OR any degenerate boundary contact — shared edge, collinear overlap,
    edge-through-vertex, vertex-on-edge.  Both inputs
    Polygon/MultiPolygon."""
    ca = pga.coords.reshape(-1, 2)
    cb = pgb.coords.reshape(-1, 2)
    if len(ca) == 0 or len(cb) == 0:
        return False
    # quick bbox reject
    if ca[:, 0].max() < cb[:, 0].min() or cb[:, 0].max() < ca[:, 0].min():
        return False
    if ca[:, 1].max() < cb[:, 1].min() or cb[:, 1].max() < ca[:, 1].min():
        return False
    # vertex containment either way
    if points_in_polygon(ca[:, 0], ca[:, 1], pgb.coords, pgb.ring_offsets).any():
        return True
    if points_in_polygon(cb[:, 0], cb[:, 1], pga.coords, pga.ring_offsets).any():
        return True
    # boundary crossing: orientation tests, vectorized (m x n)
    x1a, y1a, x2a, y2a = _ring_edges(pga.coords, pga.ring_offsets)
    x1b, y1b, x2b, y2b = _ring_edges(pgb.coords, pgb.ring_offsets)
    return bool(_segment_contacts((x1a, y1a, x2a, y2a), (x1b, y1b, x2b, y2b)).any())


def _segment_contacts(edges_a, edges_b) -> np.ndarray:
    """(m x n) bool: segment i of edges_a intersects segment j of
    edges_b — proper crossing OR degenerate contact (collinear overlap,
    endpoint-on-segment)."""
    x1a, y1a, x2a, y2a = (np.asarray(v)[:, None] for v in edges_a)
    x1b, y1b, x2b, y2b = (np.asarray(v)[None, :] for v in edges_b)

    def orient(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    # d1/d2: b endpoints relative to a; d3/d4: a endpoints relative to b
    d1 = orient(x1a, y1a, x2a, y2a, x1b, y1b)
    d2 = orient(x1a, y1a, x2a, y2a, x2b, y2b)
    d3 = orient(x1b, y1b, x2b, y2b, x1a, y1a)
    d4 = orient(x1b, y1b, x2b, y2b, x2a, y2a)
    proper = (d1 * d2 < 0) & (d3 * d4 < 0)

    # degenerate contact: a collinear endpoint lying ON the other
    # segment (covers shared edges, collinear partial overlap, and
    # edge-through-vertex: any touching pair of 1-D overlapping
    # collinear segments has at least one endpoint of one inside the
    # other's bbox, and a vertex landing on an edge has d == 0)
    def on_seg(sx1, sy1, sx2, sy2, px, py):
        return (
            (np.minimum(sx1, sx2) <= px) & (px <= np.maximum(sx1, sx2))
            & (np.minimum(sy1, sy2) <= py) & (py <= np.maximum(sy1, sy2))
        )

    return (
        proper
        | ((d1 == 0) & on_seg(x1a, y1a, x2a, y2a, x1b, y1b))
        | ((d2 == 0) & on_seg(x1a, y1a, x2a, y2a, x2b, y2b))
        | ((d3 == 0) & on_seg(x1b, y1b, x2b, y2b, x1a, y1a))
        | ((d4 == 0) & on_seg(x1b, y1b, x2b, y2b, x2a, y2a))
    )


def geometry_intersects_polygon(pg: PackedGeometry, poly: PackedGeometry) -> bool:
    """GEOS-Intersects of ANY geometry type against a Polygon/
    MultiPolygon: Polygon sides dispatch to polygons_intersect;
    LineStrings use open-edge crossing + vertex containment; Points use
    the even-odd PIP (boundary-exact points resolve by the even-odd
    rule — engine fixtures keep points off edges by construction);
    GeometryCollections intersect through any child.  The per-pair test
    reference: the engine refines through intersects_polygons."""
    if poly.gtype not in (3, 6):
        raise ValueError("right side must be Polygon/MultiPolygon")
    if pg.gtype == 7:
        return any(geometry_intersects_polygon(ch, poly) for ch in collection_children(pg))
    if pg.gtype in (3, 6):
        return polygons_intersect(pg, poly)
    c = pg.coords.reshape(-1, 2)
    cb = poly.coords.reshape(-1, 2)
    if len(c) == 0 or len(cb) == 0:
        return False
    if c[:, 0].max() < cb[:, 0].min() or cb[:, 0].max() < c[:, 0].min():
        return False
    if c[:, 1].max() < cb[:, 1].min() or cb[:, 1].max() < c[:, 1].min():
        return False
    if points_in_polygon(c[:, 0], c[:, 1], poly.coords, poly.ring_offsets).any():
        return True
    if pg.gtype in (1, 4):  # Point/MultiPoint: containment was the only test
        return False
    line_edges = _ring_edges(pg.coords, pg.ring_offsets, close=False)
    poly_edges = _ring_edges(poly.coords, poly.ring_offsets)
    return bool(_segment_contacts(line_edges, poly_edges).any())


def rects_intersect_polygon(
    minx: np.ndarray,
    miny: np.ndarray,
    maxx: np.ndarray,
    maxy: np.ndarray,
    coords: np.ndarray,
    ring_offsets: np.ndarray,
    chunk: int = 8192,
) -> np.ndarray:
    """Vectorized exact GEOS-Intersects of k axis-aligned CLOSED
    rectangles (given as bboxes) against ONE packed Polygon/MultiPolygon
    -> bool[k].

    A rectangle's packed geometry is fully determined by its bbox, so
    the poly-span join ships rect spans payload-free and refines them
    here (round-4 verdict item 4).  Decomposition: (1) any polygon
    vertex inside the rect (boundary-inclusive, the overwhelmingly
    common accept at bench shapes), (2) any rect corner inside the
    polygon (even-odd), (3) residual boundary-crossing pairs (a polygon
    edge slicing through the rect with no vertex containment either
    way) via the exact segment test (_segment_contacts), chunked over
    the leftovers with no per-rectangle loop."""
    minx = np.asarray(minx, np.float64)
    miny = np.asarray(miny, np.float64)
    maxx = np.asarray(maxx, np.float64)
    maxy = np.asarray(maxy, np.float64)
    k = minx.size
    out = np.zeros(k, dtype=bool)
    c = np.asarray(coords, np.float64).reshape(-1, 2)
    if k == 0 or len(c) == 0:
        return out
    px, py = c[:, 0], c[:, 1]
    for lo in range(0, k, chunk):
        hi = min(lo + chunk, k)
        inb = (
            (px[None, :] >= minx[lo:hi, None])
            & (px[None, :] <= maxx[lo:hi, None])
            & (py[None, :] >= miny[lo:hi, None])
            & (py[None, :] <= maxy[lo:hi, None])
        )
        out[lo:hi] = inb.any(axis=1)
    rem = np.flatnonzero(~out)
    if rem.size:
        cx = np.concatenate([minx[rem], maxx[rem], maxx[rem], minx[rem]])
        cy = np.concatenate([miny[rem], miny[rem], maxy[rem], maxy[rem]])
        pin = points_in_polygon(cx, cy, coords, ring_offsets).reshape(4, rem.size)
        out[rem[pin.any(axis=0)]] = True
    rem = np.flatnonzero(~out)
    if rem.size:
        # each remaining rectangle's 4 closed edges against every
        # polygon edge, ~48k contact cells per chunk, reduced per rect
        pedges = _ring_edges(coords, np.asarray(ring_offsets))
        ne = 4 * pedges[0].size
        step = max(1, 48_000 // max(1, ne))
        for lo in range(0, rem.size, step):
            r = rem[lo:lo + step]
            x0, y0, x1, y1 = minx[r], miny[r], maxx[r], maxy[r]
            redges = (
                np.stack([x0, x1, x1, x0], axis=1).ravel(),
                np.stack([y0, y0, y1, y1], axis=1).ravel(),
                np.stack([x1, x1, x0, x0], axis=1).ravel(),
                np.stack([y0, y1, y1, y0], axis=1).ravel(),
            )
            out[r] = _segment_contacts(redges, pedges).reshape(r.size, ne).any(axis=1)
    return out


class Probes(NamedTuple):
    """n probe geometries in the decode pass's flat Arrow layout
    (functions.geometry_fns.GEOMETRY_TYPE): ``gtype`` int8[n] and each
    list field as (values, offsets[n+1]), the offsets indexing values
    directly (an Arrow ListArray's ``.values``/``.offsets``, slices
    included); plus the bbox (minx, miny, maxx, maxy) arrays and the
    rect flag, which together stand in for a rectangle shipped with
    empty coords.  Fields a batch never reads may be None: Point probes
    carry gtype and coords only (point_probes)."""

    gtype: np.ndarray
    coords: tuple
    ring_offsets: tuple | None = None
    part_offsets: tuple | None = None
    part_types: tuple | None = None
    child_offsets: tuple | None = None
    bbox: tuple | None = None
    rect: np.ndarray | None = None


def point_probes(x, y) -> Probes:
    """x, y arrays -> a batch of n Point probes, without a per-row loop."""
    n = len(x)
    return Probes(np.ones(n, np.int8), (np.column_stack([x, y]).ravel(), np.arange(0, 2 * n + 1, 2)))


def _groups(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-group counts -> (group of each member, member's index in its
    group), for members laid out group after group."""
    counts = np.asarray(counts, np.int64)
    group = np.repeat(np.arange(counts.size), counts)
    return group, np.arange(group.size) - np.repeat(np.cumsum(counts) - counts, counts)


def _probe_edges(probes: Probes, rows: np.ndarray):
    """The boundary edges of probe ``rows`` (no Point parts), ordered
    ring by ring -> (x1, y1, x2, y2, row, unit).  Polygonal parts give
    closed rings (a ring not closed is wrapped, like _ring_edges), line
    parts open ones, and a GeometryCollection's children are read part
    by part.  ``unit`` numbers each edge's polygonal geometry — the row
    for a Polygon/MultiPolygon, the child for a collection — and is -1
    on line edges; rings shorter than 2 vertices give no edge."""
    cvals, coffs = probes.coords
    rvals, roffs = probes.ring_offsets
    pvals, poffs = probes.part_offsets
    gt = probes.gtype[rows].astype(np.int64)
    # rings: (row, first vertex, vertex count); a vertex is the index
    # of its x in cvals (offsets index the values directly, slices too)
    ring_row, r = _groups(roffs[rows + 1] - roffs[rows] - 1)
    pos = roffs[rows][ring_row] + r
    a0 = coffs[rows][ring_row] + 2 * rvals[pos].astype(np.int64)
    nv = (rvals[pos + 1] - rvals[pos]).astype(np.int64)
    # parts: their type and polygonal unit (a collection's child)
    part_row, q = _groups(poffs[rows + 1] - poffs[rows] - 1)
    ppos = poffs[rows][part_row] + q
    ring_part = np.repeat(np.arange(part_row.size), pvals[ppos + 1] - pvals[ppos])
    ptype, unit = gt[part_row], part_row.copy()
    gc = ptype == 7
    if gc.any():
        tvals, toffs = probes.part_types
        hvals, hoffs = probes.child_offsets
        child_row, c = _groups(toffs[rows + 1] - toffs[rows])
        hpos = hoffs[rows][child_row] + c
        nparts = hvals[hpos + 1] - hvals[hpos]
        ptype[gc] = np.repeat(tvals[toffs[rows][child_row] + c], nparts)
        unit[gc] = rows.size + np.repeat(np.arange(child_row.size), nparts)
    rtype, runit = ptype[ring_part], unit[ring_part]
    closed = (rtype == 3) | (rtype == 6)
    ok = (closed | (rtype == 2) | (rtype == 5)) & (nv >= 2)
    # each ring's consecutive-vertex edges, then the closing edge of a
    # polygonal ring whose last vertex is not its first
    e_ring, k = _groups(np.where(ok, nv - 1, 0))
    start = a0[e_ring] + 2 * k
    shut = np.flatnonzero(ok & closed)
    last = a0[shut] + 2 * (nv[shut] - 1)
    open_ = (cvals[a0[shut]] != cvals[last]) | (cvals[a0[shut] + 1] != cvals[last + 1])
    shut, last = shut[open_], last[open_]
    e_ring = np.concatenate([e_ring, shut])
    order = np.argsort(e_ring, kind="stable")
    e_ring = e_ring[order]
    i1 = np.concatenate([start, last])[order]
    i2 = np.concatenate([start + 2, a0[shut]])[order]
    return cvals[i1], cvals[i1 + 1], cvals[i2], cvals[i2 + 1], ring_row[e_ring], np.where(closed, runit, -1)[e_ring]


def _edge_contacts(probes: Probes, rows: np.ndarray, coords: np.ndarray, ring_offsets: np.ndarray) -> np.ndarray:
    """bool[rows.size]: probe ``rows`` (lines, polygons and collections,
    none of whose vertices lies inside the polygon) still intersect the
    polygon (coords, ring_offsets).  Either a probe edge touches a
    polygon edge (_segment_contacts, chunked over all the rows' edges at
    once), or the polygon lies inside one of the probe's polygonal parts
    with no boundary contact — so the first vertex of each polygon ring
    decides it, by the even-odd rule over that part's rings."""
    x1, y1, x2, y2, row, unit = _probe_edges(probes, rows)
    hit = np.zeros(rows.size, dtype=bool)
    pedges = _ring_edges(coords, ring_offsets)
    if x1.size == 0 or pedges[0].size == 0:
        return hit
    step = max(1, 48_000 // pedges[0].size)
    for lo in range(0, x1.size, step):
        sl = slice(lo, lo + step)
        touch = _segment_contacts((x1[sl], y1[sl], x2[sl], y2[sl]), pedges).any(axis=1)
        hit[row[sl][touch]] = True
    poly = unit >= 0
    if poly.any():
        x1, y1, x2, y2, row, unit = (v[poly] for v in (x1, y1, x2, y2, row, unit))
        starts = np.flatnonzero(np.diff(unit, prepend=-2))
        ro = np.asarray(ring_offsets, np.int64)
        c = np.asarray(coords, np.float64).reshape(-1, 2)
        # the same crossing arithmetic as points_in_polygon
        dy = y2 - y1
        slope = (x2 - x1) / np.where(dy == 0.0, 1.0, dy)
        for v in ro[:-1][np.diff(ro) > 0]:
            qx, qy = c[v]
            cross = ((y1 > qy) != (y2 > qy)) & (qx < x1 + slope * (qy - y1))
            inside = np.add.reduceat(cross.astype(np.int64), starts) & 1
            hit[row[starts][inside.astype(bool)]] = True
    return hit


def intersects_polygons(pid, probes: Probes, polygon_of) -> np.ndarray:
    """GEOS-Intersects of n probe geometries against the polygons their
    ``pid`` names -> bool[n]: the one exact refine of every polygon join.

    ``polygon_of(p, row)`` returns polygon ``p``'s (coords,
    ring_offsets); ``row`` is the first candidate row naming ``p``, for
    a polygon carried on the candidate rows.  Rows are grouped by pid
    once and each polygon is fetched once.  Per polygon: rect probes
    shipped without coords go to rects_intersect_polygon; every other
    probe's vertices go through ONE points_in_polygon call, reduced per
    probe with reduceat, which decides Points and MultiPoints; the
    remaining lines, polygons and collections take the edge and
    containment tests all at once (_edge_contacts)."""
    pid = np.asarray(pid)
    keep = np.zeros(pid.size, dtype=bool)
    cvals, coffs = probes.coords
    lens = np.diff(np.asarray(coffs, np.int64))
    blank = (lens == 0) & (False if probes.rect is None else probes.rect)
    order = np.argsort(pid, kind="stable")
    uniq, first = np.unique(pid[order], return_index=True)
    for p, s in zip(uniq, np.split(order, first[1:])):
        coords, ro = polygon_of(p, s[0])
        sb = s[blank[s]]
        if sb.size:
            keep[sb] = rects_intersect_polygon(*(b[sb] for b in probes.bbox), coords, ro)
        s = s[lens[s] > 0]
        if not s.size:
            continue
        nv = lens[s] // 2
        vstart = np.zeros(s.size, np.int64)
        np.cumsum(nv[:-1], out=vstart[1:])
        fx = np.repeat(coffs[s] - 2 * vstart, nv) + 2 * np.arange(int(nv.sum()))
        inside = points_in_polygon(cvals[fx], cvals[fx + 1], coords, ro)
        keep[s] = np.logical_or.reduceat(inside, vstart)
        gt = probes.gtype[s]
        rest = s[~keep[s] & (gt != 1) & (gt != 4)]
        if rest.size:
            keep[rest] = _edge_contacts(probes, rest, coords, ro)
    return keep


def rect_rings(coords: np.ndarray, offsets: np.ndarray, one_ring: np.ndarray) -> np.ndarray:
    """Vectorized exact-rectangle test over k geometries packed in one
    flat buffer -> bool[k].

    Row i's interleaved coords are ``coords[offsets[i]:offsets[i+1]]``;
    ``one_ring[i]`` says it is a single-ring polygon.  A row is a
    rectangle iff that ring is closed, has 5 points, and its 4 edges
    are axis-parallel, non-degenerate and alternate between the axes.
    Those conditions make the ring (a,b)->(c,b)->(c,d)->(a,d)->(a,b)
    (or its transpose) with a != c and b != d: the tour of the 4
    distinct corners of its own bbox, whose even-odd interior IS the
    bbox.  A bowtie tour of the same corners has diagonal edges and
    fails.  Such a rectangle is fully determined by its bbox, which is
    what lets the spatial join test it with box arithmetic alone."""
    offsets = np.asarray(offsets, np.int64)
    out = np.zeros(offsets.size - 1, dtype=bool)
    idx = np.flatnonzero(np.asarray(one_ring, bool) & (np.diff(offsets) == 10))
    if idx.size:
        ring = np.asarray(coords, np.float64)[offsets[idx, None] + np.arange(10)].reshape(-1, 5, 2)
        x, y = ring[..., 0], ring[..., 1]
        closed = (x[:, 0] == x[:, 4]) & (y[:, 0] == y[:, 4])
        mx = x[:, 1:] != x[:, :-1]  # edge moves along x
        my = y[:, 1:] != y[:, :-1]  # edge moves along y
        alternating = (mx ^ my).all(axis=1) & (mx[:, 1:] != mx[:, :-1]).all(axis=1)
        out[idx] = closed & alternating
    return out
