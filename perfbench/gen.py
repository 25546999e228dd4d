"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of a NumPy ``Generator``: the same
seed gives byte-identical tables.  The engine only ever sees the files
written here (flat ``documents.parquet`` tables, polygon dimension
parquets and the board's star-schema tables).

Geometry margins.  The engine derives every point from ``doc_id`` on a
0.001-degree lattice over lon [26, 29) x lat [53, 55), and every
rectangle span from a second 0.001 lattice offset by 0.00003.  Every
polygon vertex generated here sits on the half-step lattice
(``k / 1000 + 0.0005``), and every polygon edge is checked to keep more
than ``MARGIN`` degrees from both lattices, so no point or span corner
lies on (or within rounding noise of) a polygon edge and any correct
predicate implementation gives the same answer.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LON0, LON1 = 26.0, 29.0
LAT0, LAT1 = 53.0, 55.0
STEP = 0.001
SPAN_OFFSET = 0.00003  # rectangle-span corners: lattice + 0.00003
MARGIN = 1e-6

_WORDS = (
    "river road field forest village market bridge tower station harbor "
    "valley hill lake north south east west old new great small green "
    "stone iron mill farm church school square park garden castle"
).split()


def doc_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct seeded doc ids in [0, 2**40) (products with the
    engine's derivation multipliers stay far below 2**63)."""
    ids = np.unique(rng.integers(0, 1 << 40, size=n + n // 50 + 16, dtype=np.int64))
    rng.shuffle(ids)
    if len(ids) < n:  # astronomically unlikely; fail loudly rather than shrink
        raise RuntimeError("doc id draw collided too often")
    return ids[:n]


def _texts(rng: np.random.Generator, n: int, vocab: int = 512) -> pa.Array:
    """``n`` seeded ~90-character texts drawn from a seeded vocabulary
    (dictionary-encoded draw, so generation stays O(n) in C)."""
    sentences = [" ".join(rng.choice(_WORDS, 14)) for _ in range(vocab)]
    idx = pa.array(rng.integers(0, vocab, size=n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(sentences)).cast(pa.string())


def write_documents(path: str, ids: np.ndarray, rng: np.random.Generator) -> None:
    """The flat documents table (doc_id, text, lang, source, n_chars)
    that ``sources.synth.interleaved_docs`` turns into spans."""
    text = _texts(rng, len(ids))
    lang = pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, 3, size=len(ids)).astype(np.int8)), pa.array(["en", "de", "be"])
    ).cast(pa.string())
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": text,
            "lang": lang,
            "source": pa.array(np.full(len(ids), "synthetic", dtype=object), pa.string()),
            "n_chars": pc.utf8_length(text).cast(pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --- polygon dimensions ----------------------------------------------------

def _half_step(v: float) -> float:
    """Snap to the half-step lattice k/1000 + 0.0005."""
    return round(math.floor(v / STEP) * STEP + STEP / 2, 4)


def _edge_clear(x1: float, y1: float, x2: float, y2: float, offset: float) -> bool:
    """True iff no node of the lattice ``offset + k * STEP`` (both axes)
    lies within MARGIN of the segment (x1, y1)-(x2, y2)."""
    dx, dy = x2 - x1, y2 - y1
    length = math.hypot(dx, dy)
    if abs(dx) < abs(dy):  # sweep along the longer axis
        x1, y1, x2, y2, dx, dy = y1, x1, y2, x2, dy, dx
    if dx < 0:
        x1, y1, x2, y2, dx, dy = x2, y2, x1, y1, -dx, -dy
    k0 = math.ceil((x1 - offset) / STEP)
    k1 = math.floor((x2 - offset) / STEP)
    xs = offset + np.arange(k0, k1 + 1) * STEP
    ys = y1 + (xs - x1) * (dy / dx)
    off = (ys - offset) / STEP
    gap = np.abs(off - np.round(off)) * STEP
    return bool((gap * (dx / length) > MARGIN).all()) if len(xs) else True


def _ring_clear(ring: list[tuple[float, float]]) -> bool:
    return all(
        _edge_clear(*ring[i], *ring[i + 1], off)
        for i in range(len(ring) - 1)
        for off in (0.0, SPAN_OFFSET)
    )


def _rect_ring(minx: float, miny: float, maxx: float, maxy: float) -> list[tuple[float, float]]:
    return [(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy), (minx, miny)]


def _cuts(rng: np.random.Generator, lo: float, hi: float, n: int) -> list[float]:
    """``n`` tiles' boundaries over [lo, hi): seeded, distinct, on the
    half-step lattice, each tile at least half the mean width."""
    width = (hi - lo) / n
    inner = [lo + width * (i + rng.uniform(-0.25, 0.25)) for i in range(1, n)]
    return [_half_step(lo - STEP)] + [_half_step(v) for v in inner] + [_half_step(hi)]


def tiling_dim(rng: np.random.Generator, nx: int = 16, ny: int = 12) -> list[tuple[int, list]]:
    """An all-rectangle tiling of the point region (every point in
    exactly one tile) plus one hot rectangle over about a third of it."""
    xs, ys = _cuts(rng, LON0, LON1, nx), _cuts(rng, LAT0, LAT1, ny)
    polys = [
        (i * ny + j, _rect_ring(xs[i], ys[j], xs[i + 1], ys[j + 1]))
        for i in range(nx)
        for j in range(ny)
    ]
    w, h = (LON1 - LON0) * 0.6, (LAT1 - LAT0) * 0.55  # 0.33 of the area
    x0 = _half_step(rng.uniform(LON0, LON1 - w))
    y0 = _half_step(rng.uniform(LAT0, LAT1 - h))
    polys.append((nx * ny, _rect_ring(x0, y0, _half_step(x0 + w), _half_step(y0 + h))))
    return polys


def _convex(rng: np.random.Generator, k: int, r: float) -> list[tuple[float, float]] | None:
    """One seeded strictly convex, non-rectangular ``k``-gon of radius
    about ``r`` on the half-step lattice, or None when the draw fails a
    check."""
    cx = rng.uniform(LON0 + r, LON1 - r)
    cy = rng.uniform(LAT0 + r, LAT1 - r)
    ang = np.sort(rng.uniform(0, 2 * math.pi, size=k))
    pts = [(_half_step(cx + r * math.cos(a)), _half_step(cy + r * 0.7 * math.sin(a))) for a in ang]
    if len(set(pts)) != k:
        return None
    for i in range(k):  # strictly convex, counter-clockwise
        (ax, ay), (bx, by), (qx, qy) = pts[i], pts[(i + 1) % k], pts[(i + 2) % k]
        if (bx - ax) * (qy - by) - (by - ay) * (qx - bx) <= 1e-9:
            return None
    ring = pts + [pts[0]]
    return ring if _ring_clear(ring) else None


def convex_dim(rng: np.random.Generator, n_convex: int = 40, n_rect: int = 8) -> list[tuple[int, list]]:
    """Seeded convex non-rectangle polygons plus a few rectangles.  Sizes
    and vertex counts follow a fixed schedule and only positions and
    shapes are drawn, so every seed gives about the same amount of work."""
    polys: list[tuple[int, list]] = []
    for i in range(n_convex):
        r = 0.08 + 0.22 * i / max(1, n_convex - 1)
        ring = None
        while ring is None:
            ring = _convex(rng, 5 + i % 4, r)
        polys.append((i, ring))
    for i in range(n_rect):
        w, h = 0.1 + 0.4 * i / max(1, n_rect - 1), 0.4 - 0.3 * i / max(1, n_rect - 1)
        x0 = _half_step(rng.uniform(LON0, LON1 - w))
        y0 = _half_step(rng.uniform(LAT0, LAT1 - h))
        polys.append((1000 + i, _rect_ring(x0, y0, _half_step(x0 + w), _half_step(y0 + h))))
    return polys


def write_dim(path: str, polys: list[tuple[int, list]]) -> None:
    """(poly_id, minx, miny, maxx, maxy, geojson) — the engine's dim schema."""
    rows = {"poly_id": [], "minx": [], "miny": [], "maxx": [], "maxy": [], "geojson": []}
    for pid, ring in polys:
        xs, ys = [p[0] for p in ring], [p[1] for p in ring]
        rows["poly_id"].append(pid)
        rows["minx"].append(min(xs))
        rows["miny"].append(min(ys))
        rows["maxx"].append(max(xs))
        rows["maxy"].append(max(ys))
        gj = {"type": "Polygon", "coordinates": [[[x, y] for x, y in ring]]}
        rows["geojson"].append(json.dumps(gj, separators=(",", ":")))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(rows, schema=pa.schema([
        ("poly_id", pa.int64()), ("minx", pa.float64()), ("miny", pa.float64()),
        ("maxx", pa.float64()), ("maxy", pa.float64()), ("geojson", pa.string()),
    ])), path)


# --- board tables ------------------------------------------------------------

# rows per scale-factor unit, TPC-H proportions (sf0.1: 5,000 documents,
# 15,000 customers, 1,000 suppliers, 150,000 orders, 20,000 parts)
BOARD_ROWS = {"documents": 50_000, "customer": 150_000, "supplier": 10_000, "orders": 1_500_000, "part": 200_000}
_KEY = {"customer": "c_custkey", "supplier": "s_suppkey", "orders": "o_orderkey", "part": "p_partkey"}


def write_board_tables(root: str, rng: np.random.Generator, sf: float) -> dict[str, int]:
    """The tables the board queries read, keyed by seeded distinct keys.
    Only the columns the board queries touch are written."""
    sizes = {}
    for name, per_sf in BOARD_ROWS.items():
        n = max(1, int(per_sf * sf))
        path = os.path.join(root, f"{name}.parquet")
        if name == "documents":
            write_documents(path, doc_ids(rng, n), rng)
        else:
            keys = np.sort(rng.choice(np.arange(1, 20 * n + 1, dtype=np.int64), size=n, replace=False))
            pq.write_table(pa.table({_KEY[name]: pa.array(keys, pa.int64())}), path)
        sizes[name] = n
    return sizes
