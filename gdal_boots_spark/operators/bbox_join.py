"""BBox-overlap (range/interval) join — SURVEY §2.3: "bbox-overlap is a
range/interval join realized as cell-bucket equi-join + exact
refinement predicate" (the standard OSS-Spark pattern, cf. PAPERS.md
"Raster Intervals").

Both sides explode to covering cells at one resolution — entirely in
codegen, through the one cell-grid SQL builder (geom.cells: sequence
over the ix/iy ranges; no UDF) — then hash-join on cell_id, refine with
the exact interval predicate, and de-duplicate WITHOUT a distinct
shuffle via the reporting-cell trick: a pair is emitted only in the
unique cell that contains the intersection's (max(minx), max(miny))
corner, so each overlapping pair appears exactly once.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from .. import memo
from ..functions.geometry_fns import decode_geojson, where_intersects
from ..geom import cells


def _cover(df: DataFrame, p: str, level) -> DataFrame:
    """bbox columns ``{p}minx..{p}maxy`` -> one row per covering cell
    at ``level`` (an int, or a per-row level column), as server-parsed
    SQL strings: the Column-tree form cost ~400 py4j round trips per
    join build on the cold-plan profile (r8)."""
    s1, s2, cid = cells.cover_explode_sql(f"{p}minx", f"{p}miny", f"{p}maxx", f"{p}maxy", level)
    out = df.selectExpr("*", *s1).selectExpr("*", *s2)
    return out.selectExpr("*", f"{cid} AS cell_id").drop("_ix", "_iy", "_iy0", "_iy1")


_OVERLAP = "lminx <= rmaxx AND rminx <= lmaxx AND lminy <= rmaxy AND rminy <= lmaxy"


def auto_res(left: DataFrame, right: DataFrame, sample: int = 1024) -> int:
    """Pick the bucketing resolution from the DATA: x-cell edge closest
    (in log2) to the median rect edge max(w, 2h) — i.e. cell ~ rect.
    The join result is res-INDEPENDENT (exact refinement +
    reporting-cell dedup), but the candidate volume is not: cells much
    larger than the rects dilate every rect by a cell (at bench
    density, res=10 = 62.4M join rows over 120 cells — a skewed
    per-cell cross join — for 4.38M true pairs), while cells much
    smaller multiply the cover explode (res=14: 2.3M cover rows, 30.7M
    join rows).  cell ~ rect bottoms the trade: res=12 = 19.0M join
    rows / 1575 cells, measured -40% wall vs res=10 (clean-window
    interleaved probe, BENCH/BASELINE.md).
    Two bounded `limit(sample)` scans; their cost (~2 tiny jobs, whose
    ~0.3-0.6 s of scheduling latency would otherwise re-run on every
    join build) is paid once per (session, input pair) — memoised."""
    import statistics

    def build():
        # y cells are 180/n vs x 360/n
        med = [max(w, h * 2.0) for w, h in _sample_edges(left, right, sample)]
        if not med:
            return 10
        target = max(statistics.median(med), 1e-9)
        return max(4, min(int(round(math.log2(360.0 / target))), 18))

    return memo.get("bbox_res", memo.plan_key(left, right, "res", sample), build)


def _sample_edges(left: DataFrame, right: DataFrame, sample: int) -> list:
    """(w, h) of up to ``sample`` rects from each side."""
    out = []
    for df, p in ((left, "l"), (right, "r")):
        rows = df.selectExpr(f"{p}maxx - {p}minx AS w", f"{p}maxy - {p}miny AS h").limit(sample).collect()
        out.extend((r["w"], r["h"]) for r in rows)
    return out


def bbox_overlap_join(left: DataFrame, right: DataFrame, res: int | None = 10) -> DataFrame:
    """left(lid, lminx..lmaxy) x right(rid, rminx..rmaxy) ->
    one row per overlapping pair (closed-interval overlap), all left +
    right columns, exactly once per pair (no distinct needed).
    ``res=None`` auto-picks the resolution from sampled rect sizes
    (auto_res); any res yields the identical result set."""
    if res is None:
        res = auto_res(left, right)
    # single-file seeds plan as ONE task and the cover join amplifies
    # them 100x+ — spread BEFORE the explode (zero-job gated; no-op for
    # well-partitioned inputs and for tiny correctness-SF seeds)
    from ..partitioning import spread_small_scan

    lc = _cover(spread_small_scan(left), "l", res)
    rc = _cover(spread_small_scan(right), "r", res)
    # exact overlap + reporting cell (the one containing the
    # intersection's lower-left) in ONE server-parsed filter string
    rep = cells.reporting_cell_sql(("lminx", "rminx"), ("lminy", "rminy"), res)
    return lc.join(rc, "cell_id").where(f"{_OVERLAP} AND cell_id = {rep}").drop("cell_id")


def auto_levels(left: DataFrame, right: DataFrame, sample: int = 1024) -> tuple[int, int]:
    """(lo, hi) level window from the DATA: hi sized for the small
    rects (10th-percentile edge), lo for the large ones (the sampled
    MAX edge — r8, ADVICE r7: a p90-derived lo left up to ~10% of the
    corpus exploding as (size/cell)^2 cover rows at every level), capped
    at 8 apart.  Mixed-magnitude corpora get per-rect levels inside
    this window instead of one global compromise resolution.  Every
    SAMPLED rect covers <= 2x2 cells at its own level; outliers the
    non-uniform limit(sample) scan missed (or rects beyond the hi-8
    cap) can still exceed that bound.  Memoised per (session, input
    pair) like auto_res."""

    def build():
        edges = sorted(max(w, h * 2.0) for w, h in _sample_edges(left, right, sample))
        if not edges:
            return 10, 10
        p10 = max(edges[int(len(edges) * 0.1)], 1e-9)
        emax = max(edges[-1], 1e-9)
        hi = max(4, min(int(round(math.log2(360.0 / p10))), 18))
        # floor, not round: guarantees cell edge >= the sampled max edge
        lo = max(4, min(int(math.floor(math.log2(360.0 / emax))), hi))
        return max(lo, hi - 8), hi

    return memo.get("bbox_res", memo.plan_key(left, right, "levels", sample), build)


def bbox_overlap_join_adaptive(
    left: DataFrame, right: DataFrame, levels: tuple[int, int] | None = None
) -> DataFrame:
    """bbox_overlap_join for HETEROGENEOUS rect sizes: each rect covers
    at its own level (<= 2x2 cells) plus every coarser level in a
    bounded window, both sides symmetric.  A pair (A, B) meets at every
    common level; it is COUNTED exactly once — at min(lvl_A, lvl_B)
    (the coarser rect's level, where the finer rect is a <= 2x2 cover)
    in the reporting cell holding the intersection's lower-left corner.

    Same exact semantics as bbox_overlap_join (closed-interval overlap,
    each pair exactly once, no distinct shuffle); use it when rect
    sizes span magnitudes — a single global resolution either explodes
    the big rects or dilates the small ones by giant cells.  Cost per
    rect is <= 4*(hi-lo+1) cover rows REGARDLESS of its size (the
    poly-span adaptive-cover argument, spatial_join.py, applied to both
    join sides)."""
    if levels is None:
        levels = auto_levels(left, right)
    lo, hi = levels
    from ..partitioning import spread_small_scan

    def cover(df, p):
        # the rect's own level, then one cover per level in [lo, own]
        lvl = cells.bbox_level_sql(f"{p}minx", f"{p}miny", f"{p}maxx", f"{p}maxy", lo, hi)
        df = df.selectExpr("*", f"{lvl} AS {p}lvl").selectExpr("*", f"explode(sequence({lo}, {p}lvl)) AS _lvl")
        return _cover(df, p, "_lvl").drop("_lvl")

    lc = cover(spread_small_scan(left), "l")
    rc = cover(spread_small_scan(right), "r")
    # counted once: at the coarser rect's level, in the reporting cell
    rep = cells.reporting_cell_sql(("lminx", "rminx"), ("lminy", "rminy"), "LEAST(llvl, rlvl)")
    return lc.join(rc, "cell_id").where(f"{_OVERLAP} AND cell_id = {rep}").drop("cell_id", "llvl", "rlvl")


def intersects_join(left: DataFrame, right: DataFrame, res: int | None = None) -> DataFrame:
    """Exact polygon-intersects join: left(poly_id, geojson) x
    right(poly_id, geojson) -> (lid, rid) for every intersecting pair.

    bbox-overlap candidates (cell-bucketed, dedup-free; res=None picks
    the resolution from sampled bbox sizes — the candidate volume
    matters MORE here than in bbox_overlap_join because every
    candidate row crosses into the Python refine) refined by the one
    exact GEOS-Intersects predicate (functions.geometry_fns.
    where_intersects: boundary crossing, containment, AND degenerate
    touching), the right geometry the probe and the left the polygon
    (right-side rectangles payload-free, read from their bbox).
    Each side is decoded ONCE (functions.geometry_fns.decode_geojson,
    which also emits the bbox and drops unparseable geometries) and the
    packed geometry struct rides the candidate rows; only the refine's
    argument columns cross Arrow, and each left polygon is read once
    per batch.  For dimension x dimension workloads; point x polygon
    goes through pip_join_*, bbox-only through bbox_overlap_join.
    """

    def side(df, p, blank_rect):
        g = decode_geojson(
            df.selectExpr(f"CAST(poly_id AS BIGINT) AS {p}id", "geojson"), "geojson", [f"{p}id"], blank_rect
        )
        return g.selectExpr(f"{p}id", *(f"{c} AS {p}{c}" for c in ("geom", "minx", "miny", "maxx", "maxy", "rect")))

    cand = bbox_overlap_join(side(left, "l", False), side(right, "r", True), res=res)
    probe = ("rgeom", "rminx", "rminy", "rmaxx", "rmaxy", "rrect")
    return where_intersects(cand, "lid", probe, "lgeom").selectExpr("lid", "rid")
