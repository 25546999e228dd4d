"""Hierarchical quad cell index over lon/lat (H3/S2-style, pure NumPy).

The engine-only index the north rule requires (SURVEY.md §2.9).  A cell
at resolution ``res`` is one square of the 2^res x 2^res grid over the
lon/lat plane ([-180,180] x [-90,90]).  Cell ids are 64-bit, arithmetic
(not bit-interleaved) so the *same id* is computable in ANSI SQL for
the DuckDB oracle:

    ix = floor((lon + 180) / 360 * 2^res)   clamped to [0, 2^res-1]
    iy = floor((lat +  90) / 180 * 2^res)   clamped to [0, 2^res-1]
    cell_id = res * 2^58 + ix * 2^29 + iy       (res <= 28)

Deterministic, versioned (v1): ids appear in persisted outputs
(tile-to-cell assignments) and must stay stable across releases.

``block(cell, r)`` gives the Chebyshev-radius-r neighbourhood of many
cells at once, as one cell-id range per column (ids are ix-major, so a
column's cells are contiguous); ``sorted_points`` and ``block_spans``
are the point index and its block lookup that the broadcast side of
kNN runs in a Python worker.

The ``*_sql`` builders at the end are the Spark side of the same grid:
they take column names or SQL fragments and return Spark SQL strings
(one server-side parse per fragment instead of a py4j Column tree),
built from the same constants.  No other Spark code spells the format
out.  A level is an int (range-checked like ``cell_id``) or a per-row
SQL expression; ``n`` (2^level) may name a column holding it.  The
per-row builders have NumPy twins (``bbox_level``, ``cover_cells``,
``reporting_cell``) that evaluate as Spark does, for the cover join a
Python worker runs itself (``cover_pairs``).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

CELL_RES_BITS = 58
_IX_SHIFT = 2**29
_RES_SHIFT = 2**58
MAX_RES = 28


def _check_res(res: int) -> int:
    if not (0 <= res <= MAX_RES):
        raise ValueError(f"res must be in [0,{MAX_RES}]")
    return res


def level_for_edge(edge, span: float = 360.0) -> int:
    """Finest level whose cell edge (span / 2^level) is at least ``edge``:
    floor(log2(span / edge)) clipped to [0, MAX_RES]; a zero, negative or
    missing edge gets MAX_RES."""
    if not edge or edge <= 0:
        return MAX_RES
    return int(np.clip(np.floor(np.log2(span / edge)), 0, MAX_RES))


def _index(v, off: float, span: float, n):
    """Index of ``v`` on an axis of ``n`` cells (a float, or one per
    row), clamped to [0, n-1] as _index_sql computes it: a NaN floors to
    0, as Spark's FLOOR casts it to BIGINT."""
    f = np.floor((np.asarray(v, dtype=np.float64) + off) / span * n)
    return np.minimum(np.maximum(np.nan_to_num(f, nan=0.0), 0), np.subtract(n, 1)).astype(np.int64)


def _grid(lon, lat, level):
    n = np.ldexp(1.0, level)
    return _index(lon, 180.0, 360.0, n), _index(lat, 90.0, 180.0, n)


def cell_id(lon, lat, res: int):
    """lon/lat arrays -> int64 cell ids at resolution `res`."""
    return compose(res, *_grid(lon, lat, _check_res(res)))


def compose(res, ix, iy):
    return np.asarray(res, np.int64) * _RES_SHIFT + np.asarray(ix, np.int64) * _IX_SHIFT + np.asarray(iy, np.int64)


def cell_decode(cid):
    """int64 cell ids -> (res, ix, iy) arrays."""
    cid = np.asarray(cid, dtype=np.int64)
    res = cid // _RES_SHIFT
    rem = cid - res * _RES_SHIFT
    ix = rem // _IX_SHIFT
    iy = rem - ix * _IX_SHIFT
    return res.astype(np.int64), ix, iy


def cell_bounds(cid):
    """Cell ids -> (minlon, minlat, maxlon, maxlat) arrays."""
    res, ix, iy = cell_decode(cid)
    n = np.power(2.0, res.astype(np.float64))
    w, h = 360.0 / n, 180.0 / n
    minlon = -180.0 + ix * w
    minlat = -90.0 + iy * h
    return minlon, minlat, minlon + w, minlat + h


def cover_bbox(minx, miny, maxx, maxy, res: int) -> np.ndarray:
    """All cell ids at `res` whose boxes intersect the bbox (inclusive).

    This is the safe (no-false-negative) covering used as the join
    pre-filter; exact refinement happens in the PIP kernel.
    """
    return cover_cells(*np.array([[minx], [miny], [maxx], [maxy]], np.float64), res)[1]


def bbox_level(minx, miny, maxx, maxy, lo: int, hi: int) -> np.ndarray:
    """``bbox_level_sql`` per row: the finest level in [lo, hi] whose
    cell edge is at least the bbox extent on both axes.  Evaluated as
    Spark does: LOG2 is ln(x) / ln(2) and null (so ``hi``) at 0, LEAST
    skips a NaN, FLOOR casts NaN to 0."""
    w = np.maximum(np.subtract(maxx, minx), 1e-12)
    h = np.maximum(np.subtract(maxy, miny), 1e-12)
    with np.errstate(divide="ignore", invalid="ignore"):
        lvl = np.floor(np.log(np.fmin(360.0 / w, 180.0 / h)) / np.log(2.0))
    return np.clip(np.nan_to_num(lvl, nan=0.0, neginf=hi), _check_res(lo), _check_res(hi)).astype(np.int64)


def cover_cells(minx, miny, maxx, maxy, level) -> tuple[np.ndarray, np.ndarray]:
    """``cover_explode_sql`` over many bboxes, each at its own ``level``
    (an int or one per row) -> (row, cell_id): every cell at the level
    that a row's bbox intersects (inclusive), rows in input order and
    each row's cells ix-major.  A bbox with min > max covers nothing
    here, where SQL's ``sequence`` would count down; decoded bboxes
    never have one."""
    level = np.broadcast_to(np.asarray(level, np.int64), np.shape(minx))
    ix0, iy0 = _grid(minx, miny, level)
    ix1, iy1 = _grid(maxx, maxy, level)
    ny = np.maximum(iy1 - iy0 + 1, 0)
    cnt = np.maximum(ix1 - ix0 + 1, 0) * ny
    row = np.repeat(np.arange(cnt.size), cnt)
    k = np.arange(row.size) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return row, compose(level[row], ix0[row] + k // ny[row], iy0[row] + k % ny[row])


def window_cover(minx, miny, maxx, maxy, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
    """``cover_cells`` of every bbox at every level in [lo, hi] ->
    (row, cell_id), row-major with levels ascending."""
    rows = np.repeat(np.arange(np.size(minx)), hi - lo + 1)
    levels = np.tile(np.arange(_check_res(lo), _check_res(hi) + 1), np.size(minx))
    sub, cid = cover_cells(*(np.asarray(v, np.float64)[rows] for v in (minx, miny, maxx, maxy)), levels)
    return rows[sub], cid


def reporting_cell(minxs, minys, level) -> np.ndarray:
    """``reporting_cell_sql`` per row: the cell at ``level`` of the
    lower-left corner of the intersection of bboxes whose min corners
    are the arrays in ``minxs``/``minys`` (NaN, like Spark's GREATEST,
    is the greatest)."""
    return compose(level, *_grid(np.maximum.reduce(minxs), np.maximum.reduce(minys), level))


class SortedCover(NamedTuple):
    """Items' bbox covers at every level in [lo, hi] (``window_cover``),
    sorted by cell id: the index ``cover_pairs`` probes."""

    cell: np.ndarray  # int64 cell ids, ascending
    item: np.ndarray  # int64 item id of each cell row
    box: np.ndarray  # float64 [m, 4] item bbox of each cell row
    lo: int
    hi: int


def sorted_cover(ids, boxes, lo: int, hi: int) -> SortedCover:
    """ids int64[k] and their boxes float64[k, 4] -> SortedCover."""
    boxes = np.asarray(boxes, np.float64).reshape(-1, 4)
    row, cid = window_cover(*boxes.T, lo, hi)
    order = np.argsort(cid, kind="stable")
    return SortedCover(cid[order], np.asarray(ids, np.int64)[row[order]], boxes[row[order]], lo, hi)


def cover_pairs(cover: SortedCover, minx, miny, maxx, maxy) -> tuple[np.ndarray, np.ndarray]:
    """Probe bboxes against ``cover`` -> (probe row, item id) for every
    pair whose bboxes overlap (closed), each pair once: a probe is
    covered at its own ``bbox_level`` in [lo, hi], its cells are looked
    up in the sorted cover, and a pair is kept only in its reporting
    cell.  Every level in the window is covered on the item side, so the
    pair set does not depend on the level a probe takes."""
    minx, miny, maxx, maxy = (np.asarray(v, np.float64) for v in (minx, miny, maxx, maxy))
    lvl = bbox_level(minx, miny, maxx, maxy, cover.lo, cover.hi)
    row, cid = cover_cells(minx, miny, maxx, maxy, lvl)
    a = np.searchsorted(cover.cell, cid, "left")
    cnt = np.searchsorted(cover.cell, cid, "right") - a
    j = runs(a, cnt)
    row, cid = np.repeat(row, cnt), np.repeat(cid, cnt)
    pminx, pminy, pmaxx, pmaxy = cover.box[j].T
    hit = (minx[row] <= pmaxx) & (pminx <= maxx[row]) & (miny[row] <= pmaxy) & (pminy <= maxy[row])
    row, j, cid, pminx, pminy = row[hit], j[hit], cid[hit], pminx[hit], pminy[hit]
    keep = cid == reporting_cell((minx[row], pminx), (miny[row], pminy), lvl[row])
    return row[keep], cover.item[j[keep]]


def runs(start, count) -> np.ndarray:
    """start[i], start[i] + 1, ... for count[i] values each, concatenated."""
    count = np.asarray(count, np.int64)
    return np.repeat(np.asarray(start, np.int64) - np.cumsum(count) + count, count) + np.arange(int(count.sum()))


def block(cid, r, box=None) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The cells within Chebyshev distance ``r`` (one radius, or one per
    cell) of each cell in ``cid`` -> (row, lo, hi): one inclusive
    cell-id range per column of each block, rows in input order and
    columns ascending (ids are ix-major, so a column's cells are the
    ids lo..hi).  Both axes clamp to the grid, or to the inclusive cell
    box ``box = (ix0, iy0, ix1, iy1)``: iy stops at the poles and ix at
    the antimeridian without wrapping, because kNN's distance is
    planar and a point more than r columns away unwrapped is more than
    r cell widths away.  A block outside the box has no range."""
    res, ix, iy = cell_decode(cid)
    r = np.broadcast_to(np.asarray(r, np.int64), ix.shape)
    top = np.left_shift(1, res) - 1
    x0, y0, x1, y1 = (0, 0, top, top) if box is None else box
    cx0, cx1 = np.maximum(ix - r, x0), np.minimum(ix + r, x1)
    ry0, ry1 = np.maximum(iy - r, y0), np.minimum(iy + r, y1)
    ncol = np.where(ry0 <= ry1, np.maximum(cx1 - cx0 + 1, 0), 0)
    row = np.repeat(np.arange(ix.size), ncol)
    col = runs(cx0, ncol)
    return row, compose(res[row], col, ry0[row]), compose(res[row], col, ry1[row])


class PointIndex(NamedTuple):
    """Points sorted by their cell id at one level: the index
    ``block_spans`` probes."""

    cell: np.ndarray  # int64 cell ids, ascending
    x: np.ndarray  # float64, in cell order
    y: np.ndarray
    item: np.ndarray  # int64 input row of each point
    res: int
    box: tuple  # (ix0, iy0, ix1, iy1): the cells the points occupy, inclusive


def sorted_points(x, y, res: int) -> PointIndex:
    """Point coordinates (float64[k] each, no NaN) -> PointIndex at ``res``."""
    x, y = np.asarray(x, np.float64), np.asarray(y, np.float64)
    ix, iy = _grid(x, y, _check_res(res))
    cid = compose(res, ix, iy)
    order = np.argsort(cid, kind="stable")
    box = (int(ix.min()), int(iy.min()), int(ix.max()), int(iy.max())) if x.size else (0, 0, -1, -1)
    return PointIndex(cid[order], x[order], y[order], order, res, box)


def block_spans(index: PointIndex, cid, r) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (row, start, count): the index positions start .. start +
    count - 1 hold the points of one column of ``block(cid, r)`` for
    input row ``row``, every column of the index's box once.  ``cid``
    are cell ids at ``index.res``; ``runs(start, count)`` lists the
    points."""
    row, lo, hi = block(cid, r, index.box)
    start = np.searchsorted(index.cell, lo, "left")
    return row, start, np.searchsorted(index.cell, hi, "right") - start


def pick_res(minx, miny, maxx, maxy, max_cells: int = 64) -> int:
    """Coarsest-enough resolution so the bbox cover has <= max_cells
    cells — the per-geometry heuristic of SURVEY.md §4 item 1."""
    for res in range(MAX_RES, -1, -1):
        n = 1 << res
        cw, ch = 360.0 / n, 180.0 / n
        est = (int((maxx - minx) / cw) + 2) * (int((maxy - miny) / ch) + 2)
        if est <= max_cells:
            return res
    return 0


# --- Spark SQL builders --------------------------------------------------


def grid_n_sql(level):
    """2^level: an int for an int level, SQL for a per-row level."""
    if isinstance(level, str):
        return f"SHIFTLEFT(CAST(1 AS BIGINT), {level})"
    return 1 << _check_res(level)


def _index_sql(v: str, off: str, span: str, level, n, clamp: bool = True) -> str:
    n = grid_n_sql(level) if n is None else n
    idx = f"FLOOR((({v}) + {off}) / {span} * {n})"
    if not clamp:
        return f"CAST({idx} AS BIGINT)"
    top = n - 1 if isinstance(n, int) else f"{n} - 1"
    return f"CAST(LEAST(GREATEST({idx}, 0), {top}) AS BIGINT)"


def cell_x_sql(lon: str, level, n=None, clamp: bool = True) -> str:
    """ix of ``lon`` at ``level``, clamped to [0, n-1] like ``_grid``;
    ``clamp=False`` keeps the raw floor for callers that wrap x mod n."""
    return _index_sql(lon, "180.0D", "360.0D", level, n, clamp)


def cell_y_sql(lat: str, level, n=None) -> str:
    """iy of ``lat`` at ``level``, clamped to [0, n-1]."""
    return _index_sql(lat, "90.0D", "180.0D", level, n)


def compose_sql(level, ix: str, iy: str) -> str:
    """level, ix, iy -> cell id (``compose``)."""
    if not isinstance(level, str):
        _check_res(level)
    return f"(CAST({level} AS BIGINT) * {_RES_SHIFT} + ({ix}) * {_IX_SHIFT} + ({iy}))"


def cell_id_sql(lon: str, lat: str, res: int) -> str:
    """Point -> cell id at ``res`` (``cell_id``)."""
    return compose_sql(res, cell_x_sql(lon, res), cell_y_sql(lat, res))


def bbox_level_sql(minx: str, miny: str, maxx: str, maxy: str, lo: int, hi: int) -> str:
    """Per-row finest level in [lo, hi] whose cell edge is at least the
    bbox extent on both axes (y cells are half the x edge, hence 180/h),
    so the bbox covers <= 2x2 cells at that level unless ``lo`` clamps."""
    _check_res(lo)
    _check_res(hi)
    return (
        f"GREATEST({lo}, LEAST({hi}, CAST(FLOOR(LOG2(LEAST("
        f"360.0D / GREATEST(({maxx}) - ({minx}), 1e-12D), "
        f"180.0D / GREATEST(({maxy}) - ({miny}), 1e-12D)))) AS INT)))"
    )


def cover_explode_sql(minx: str, miny: str, maxx: str, maxy: str, level, n=None):
    """The bbox-range cover (``cover_bbox``) as SQL: the select items of
    two selectExpr steps (explode cannot nest) and the cell id over
    their outputs.  Step 1 explodes ix to ``_ix`` and carries the iy
    range as ``_iy0``/``_iy1``; step 2 explodes ``_iy``."""
    x0, x1 = cell_x_sql(minx, level, n), cell_x_sql(maxx, level, n)
    return (
        [f"explode(sequence({x0}, {x1})) AS _ix",
         f"{cell_y_sql(miny, level, n)} AS _iy0", f"{cell_y_sql(maxy, level, n)} AS _iy1"],
        ["explode(sequence(_iy0, _iy1)) AS _iy"],
        compose_sql(level, "_ix", "_iy"),
    )


def reporting_cell_sql(minxs, minys, level, n=None) -> str:
    """Cell id at ``level`` of the lower-left corner of an intersection
    of bboxes with min corners ``minxs``/``minys``.  Two overlapping
    boxes share exactly one such cell, so a pair met in several shared
    cells is kept only there (dedup without a shuffle)."""
    cx, cy = (f"GREATEST({', '.join(v)})" for v in (minxs, minys))
    return compose_sql(level, cell_x_sql(cx, level, n), cell_y_sql(cy, level, n))
