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

``ring(cell, k)`` gives the Chebyshev-distance-k neighbourhood used by
the grid-pruned kNN expansion; ix wraps across the antimeridian, iy
clamps at the poles.

The ``*_sql`` builders at the end are the Spark side of the same grid:
they take column names or SQL fragments and return Spark SQL strings
(one server-side parse per fragment instead of a py4j Column tree),
built from the same constants.  No other Spark code spells the format
out.  A level is an int (range-checked like ``cell_id``) or a per-row
SQL expression; ``n`` (2^level) may name a column holding it.
"""

from __future__ import annotations

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


def _grid(lon, lat, res: int):
    n = 1 << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return ix, iy


def cell_id(lon, lat, res: int):
    """lon/lat arrays -> int64 cell ids at resolution `res`."""
    ix, iy = _grid(lon, lat, _check_res(res))
    return np.int64(res) * _RES_SHIFT + ix * _IX_SHIFT + iy


def compose(res, ix, iy):
    return np.int64(res) * _RES_SHIFT + np.asarray(ix, np.int64) * _IX_SHIFT + np.asarray(iy, np.int64)


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
    ix0, iy0 = _grid(minx, miny, res)
    ix1, iy1 = _grid(maxx, maxy, res)
    ixs = np.arange(int(ix0), int(ix1) + 1, dtype=np.int64)
    iys = np.arange(int(iy0), int(iy1) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys, indexing="ij")
    return compose(res, gx.ravel(), gy.ravel())


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


def cover_geometry(pg, res: int) -> np.ndarray:
    """Bbox cover of a PackedGeometry (safe superset)."""
    from .packed import bounds

    minx, miny, maxx, maxy = bounds(pg)
    if np.isnan(minx):
        return np.empty(0, dtype=np.int64)
    return cover_bbox(minx, miny, maxx, maxy, res)


def ring(cid: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of `cid` (the (2k+1)^2
    block), ix wrapped mod 2^res, iy clamped — kNN ring expansion."""
    res, ix, iy = cell_decode(np.asarray([cid]))
    res, ix, iy = int(res[0]), int(ix[0]), int(iy[0])
    n = 1 << res
    dxs = np.arange(-k, k + 1, dtype=np.int64)
    gx, gy = np.meshgrid((ix + dxs) % n, iy + dxs, indexing="ij")
    keep = (gy >= 0) & (gy < n)
    return compose(res, gx[keep], gy[keep])


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
