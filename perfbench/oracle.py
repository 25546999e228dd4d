"""Independent NumPy oracle for the join workloads.

Shares no code with the engine: the doc_id -> geometry derivation is
re-stated here from the documented interleaved-docs contract, points
are tested by an even-odd ray cast, and rectangle spans against convex
polygons by the separating-axis test.  The generator keeps every point
and span corner clear of every polygon edge, so boundary conventions
cannot matter.

Results are compared as an order-insensitive fingerprint: the pair
count plus two modular sums over (doc_id, span_pos, poly_id).  The same
arithmetic is written as Spark SQL in ``FINGERPRINT_SQL``.
"""

from __future__ import annotations

import numpy as np

# geo span of an interleaved doc (the only one it has) sits at position 1
GEO_SPAN_POS = 1
SPAN_W, SPAN_H = 0.2, 0.15

FINGERPRINT_SQL = (
    "count(*) AS n",
    "sum(pmod(CAST(doc_id AS BIGINT) * 31 + poly_id * 1000003 + span_pos, 2147483647)) AS h1",
    "sum(pmod(CAST(doc_id AS BIGINT) * 7919 + poly_id * 104723 + span_pos * 17, 1000000007)) AS h2",
)


def fingerprint(doc: np.ndarray, span_pos: np.ndarray, poly: np.ndarray) -> tuple[int, int, int]:
    doc, span_pos, poly = (np.asarray(a, np.int64) for a in (doc, span_pos, poly))
    h1 = np.mod(doc * 31 + poly * 1000003 + span_pos, 2147483647)
    h2 = np.mod(doc * 7919 + poly * 104723 + span_pos * 17, 1000000007)
    return int(len(doc)), int(h1.sum()), int(h2.sum())


def point_ids(ids: np.ndarray) -> np.ndarray:
    return ids[np.isin(ids % 10, (0, 1, 2))]


def rect_span_ids(ids: np.ndarray) -> np.ndarray:
    return ids[ids % 10 == 3]


def lonlat(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lon = 26.0 + ((ids * 7919) % 3000).astype(np.float64) / 1000.0
    lat = 53.0 + ((ids * 104729) % 2000).astype(np.float64) / 1000.0
    return lon, lat


def span_rects(ids: np.ndarray) -> tuple[np.ndarray, ...]:
    minx = 26.00003 + ((ids * 3571) % 2700).astype(np.float64) / 1000.0
    miny = 53.00003 + ((ids * 6763) % 1700).astype(np.float64) / 1000.0
    return minx, miny, minx + SPAN_W, miny + SPAN_H


def ray_cast(x: np.ndarray, y: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd rule: a horizontal ray from each point crosses the
    closed ring an odd number of times iff the point is inside."""
    inside = np.zeros(len(x), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        straddle = (y1 > y) != (y2 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
        inside ^= straddle & (x < xc)
    return inside


def sat_rect_convex(minx, miny, maxx, maxy, ring: np.ndarray) -> np.ndarray:
    """Separating-axis test of axis-aligned rectangles against one
    convex polygon: they intersect iff no axis (x, y, or an edge
    normal of the polygon) separates their projections."""
    px, py = ring[:-1, 0], ring[:-1, 1]
    hit = (minx <= px.max()) & (maxx >= px.min()) & (miny <= py.max()) & (maxy >= py.min())
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        nx, ny = y2 - y1, x1 - x2
        proj = px * nx + py * ny
        lo, hi = proj.min(), proj.max()
        corners = np.stack([minx * nx + miny * ny, maxx * nx + miny * ny, minx * nx + maxy * ny, maxx * nx + maxy * ny])
        hit &= (corners.min(axis=0) <= hi) & (corners.max(axis=0) >= lo)
    return hit


def expected_pairs(ids: np.ndarray, polys: list[tuple[int, list]], rect_spans: bool) -> tuple[int, int, int]:
    """Fingerprint of the exact (doc_id, span_pos, poly_id) pair set:
    Point spans by ray cast; with ``rect_spans``, rectangle Polygon
    spans (GeometryCollections wrap the same rectangle) by SAT."""
    pids = point_ids(ids)
    x, y = lonlat(pids)
    rids = rect_span_ids(ids) if rect_spans else np.empty(0, np.int64)
    rect = span_rects(rids)
    docs, polys_out = [], []
    for pid, ring in polys:
        r = np.asarray(ring, dtype=np.float64)
        sel = pids[ray_cast(x, y, r)]
        docs.append(sel)
        polys_out.append(np.full(len(sel), pid, np.int64))
        if len(rids):
            sel = rids[sat_rect_convex(*rect, r)]
            docs.append(sel)
            polys_out.append(np.full(len(sel), pid, np.int64))
    doc = np.concatenate(docs) if docs else np.empty(0, np.int64)
    poly = np.concatenate(polys_out) if polys_out else np.empty(0, np.int64)
    return fingerprint(doc, np.full(len(doc), GEO_SPAN_POS), poly)
