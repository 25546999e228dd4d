"""Cell-bucketed point-in-polygon spatial join — the engine flagship.

This re-expresses, as one distributed plan, what the reference does
in-process in ``crop_by_geometry``/``values_by_points`` (gdal.py:819-931):
geometry -> covering cells -> candidate pairs -> exact refinement.

Physical shape of the Point join (small/medium polygon side — the
common case):

    points ──(native cell_id math, codegen)──┐
                                             ├─ BROADCAST hash join on cell_id
    polys ──(driver: bbox cover explode)─────┘
                      │
                      └─ exact refinement: a boolean Arrow UDF in a
                         WHERE (Arrow batches of (poly_id, x, y) only,
                         polygon coords via a Spark broadcast variable —
                         candidate rows never carry coordinate payloads)

Zero shuffles end-to-end: the fact (document/point) side flows
filter -> project -> broadcast-join -> UDF filter entirely within one
stage, so the plan scales linearly with executors at 100 TB (the
two-parallelism scaling evidence in BENCH runs this operator).

Documents whose geo spans mix geometry types (pip_join_docs_any) take
ONE span pass, and on the broadcast side it is one Python pass:

    geo spans ──(codegen posexplode + filter)──> ONE mapInArrow; per batch:
        decode -> cell-cover lookup (sorted cover, a Broadcast)
               -> exact refine (packed coords, a Broadcast)
               -> (doc_id, span_pos, poly_id) only

No broadcast exchange, no JVM join and no second Python worker: the
geometry a worker decodes is filtered and refined where it was decoded
(geom.cells.cover_pairs has the cover join's rules in NumPy: a span
at its own level, bbox overlap, reporting-cell dedup).

A polygon dim over cover.fits_broadcast's ceiling is never collected:
every join here then joins its candidates to the dim decoded once and
cell-exploded (_cover_shuffle), which carries each polygon's packed
geometry to the refine.  Every side refines through the one kernel,
geom.pip.intersects_polygons: after a JVM join through the boolean
Arrow UDF functions.geometry_fns.where_intersects, and in the span
join's broadcast pass through functions.geometry_fns.intersecting_pairs.

For point-vs-polygon the (point, poly) pair appears at most once —
a point maps to exactly one cell and a polygon's cover lists each cell
once per level, and a point matches only its own level — so no dedup
shuffle is needed (SURVEY §4.3 applies only to geometry x geometry
joins).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..functions.geometry_fns import decode_geojson, intersecting_pairs, point_xy_sql, quote_ident, where_intersects
from ..geom import cells
from ..geom.cells import level_for_edge, pick_res
from ..partitioning import plan_bytes
from .cover import fits_broadcast, poly_dim
from .skew import hot_keys, join_salting, salted_join
from .spans import extract_geo_spans


def _span_res(med: float, worst) -> int:
    """One global resolution for a polygon dim: cell size ~ the median
    polygon extent ``med``, capped so the largest-area polygon (bbox
    ``worst``) covers no more than ~64 cells (SURVEY §4.1)."""
    return min(level_for_edge(med), pick_res(*worst, max_cells=64))


def _auto_res(bboxes: dict) -> int:
    """_span_res of a collected dim's {poly_id: bbox}."""
    if not bboxes:
        return 8
    spans = sorted(max(b[2] - b[0], b[3] - b[1]) for b in bboxes.values())
    worst = max(bboxes.values(), key=lambda b: (b[2] - b[0]) * (b[3] - b[1]))
    return _span_res(spans[len(spans) // 2], worst)


# how many levels BELOW the poly-derived cap the span side may choose;
# the polygon dim publishes its cover at every level in the window, so
# the window is a (small) multiplier on the broadcast dim, not on the
# fact side
ADAPTIVE_LEVEL_WINDOW = 4

# the distributed side's skew handling: a cell holding more than
# HOT_CELL_ROWS point rows is split across HOT_CELL_SALT reducers
HOT_CELL_SALT, HOT_CELL_ROWS = 8, 1_000_000


def _dim_boxes(bboxes: dict) -> tuple[np.ndarray, np.ndarray]:
    """A collected dim's {poly_id: bbox} -> (poly ids int64[k], bboxes
    float64[k, 4]), in dim order."""
    return np.fromiter(bboxes, np.int64, len(bboxes)), np.asarray(list(bboxes.values()), np.float64).reshape(-1, 4)


def _cover_df(spark: SparkSession, bboxes: dict, res: int) -> DataFrame:
    """The polygon dim's cell cover as the relation pip_join_points and
    poly_span_candidates join (the span join's broadcast pass reads the
    same rows sorted, _cover_index): a (cell_id, poly_id, _pminx,
    _pminy, _pmaxx, _pmaxy) row per polygon and cell of its bbox cover
    at every level in [res - ADAPTIVE_LEVEL_WINDOW, res].  Cell ids embed their level
    (geom.cells), so a Point's level-``res`` cell matches only the
    level-``res`` rows while a span matches at its own level.  The
    underscore names cannot collide with a caller's point columns.

    An Arrow local relation (planned as a LocalTableScan), so no
    execution runs a Python worker to broadcast it; a Python row list
    would plan ``Scan ExistingRDD`` over a PythonRDD that every
    execution re-runs.  Memoised per session: the build ships the
    table through py4j on every cold plan build, and the rows are a
    pure function of the key."""

    def build():
        pids, box = _dim_boxes(bboxes)
        own, cid = cells.window_cover(*box.T, max(0, res - ADAPTIVE_LEVEL_WINDOW), res)
        cols = {"cell_id": cid, "poly_id": pids[own]}
        cols.update((name, box[own, j]) for j, name in enumerate(("_pminx", "_pminy", "_pmaxx", "_pmaxy")))
        return spark.createDataFrame(
            pa.table(cols), "cell_id long, poly_id long, _pminx double, _pminy double, _pmaxx double, _pmaxy double"
        )

    return memo.get("cover_df", (res, tuple(sorted(bboxes.items()))), build)


def _cover_index(spark: SparkSession, dim, res: int):
    """A Broadcast of the collected ``dim``'s cell cover at every level
    in [res - ADAPTIVE_LEVEL_WINDOW, res] (_cover_df's rows) as a
    geom.cells.SortedCover, for the span join's broadcast side.
    Memoised per session, dim plan and res, and unpersisted on eviction,
    like the dim's packed coords."""

    def build():
        cover = cells.sorted_cover(*_dim_boxes(dim.bboxes), max(0, res - ADAPTIVE_LEVEL_WINDOW), res)
        return spark.sparkContext.broadcast(cover)

    return memo.get("cover_index", None if dim.key is None else (dim.key, res), build)


def _cover_shuffle(polys: DataFrame, res: int | None, window: int = ADAPTIVE_LEVEL_WINDOW) -> tuple[int, DataFrame]:
    """-> (res, cover): _cover_df's relation built in Spark and never
    collected, for a dim over the broadcast gate.  The one decode pass
    (decode_geojson), then the same columns at the same [res - window,
    res] levels through the cell-grid SQL explode, plus each polygon's
    packed geometry as ``_pgeom`` for the refine to read off the
    candidate rows.  A Point join passes ``window=0``: a point's cell
    matches only the level-``res`` rows.

    ``res=None`` is _auto_res computed distributed: the approximate
    median extent and the largest-area bbox in one aggregate, memoised
    per session and dim plan (warm builds run no job)."""
    gb = decode_geojson(polys, "geojson", ["poly_id"])
    if res is None:

        def probe():
            b = gb.selectExpr(
                "percentile_approx(GREATEST(maxx - minx, maxy - miny), 0.5) AS med",
                "max_by(struct(minx, miny, maxx, maxy), (maxx - minx) * (maxy - miny)) AS worst",
            ).collect()[0]
            return _span_res(b["med"], tuple(b["worst"])) if b["worst"] else _auto_res({})

        res = memo.get("shuffle_res", memo.plan_key(polys), probe)
    s1, s2, cid = cells.cover_explode_sql("_pminx", "_pminy", "_pmaxx", "_pmaxy", "_lvl", "_n")
    cols = ["poly_id", "_pminx", "_pminy", "_pmaxx", "_pmaxy", "_pgeom"]
    cover = gb.selectExpr(
        "poly_id", "minx AS _pminx", "miny AS _pminy", "maxx AS _pmaxx", "maxy AS _pmaxy", "geom AS _pgeom",
        f"explode(sequence({max(0, res - window)}, {res})) AS _lvl",
    ).selectExpr(*cols, "_lvl", f"{cells.grid_n_sql('_lvl')} AS _n").selectExpr(
        *cols, "_lvl", "_n", *s1
    ).selectExpr(*cols, "_lvl", "_n", "_ix", *s2).selectExpr(f"{cid} AS cell_id", *cols)
    return res, cover


def pip_join_points(
    points: DataFrame,
    polys: DataFrame,
    res: int | None = None,
    x_col: str = "x",
    y_col: str = "y",
    refine: bool = True,
) -> DataFrame:
    """points(<ids..>, x, y) x polys(poly_id, geojson) -> points cols + poly_id.

    Exact even-odd ray-cast semantics; the cell join is only a
    no-false-negative pre-filter.  ``refine=False`` returns the raw
    cell-join candidates (bench instrumentation: per-candidate cost).

    A polygon dim over the broadcast gate (cover.fits_broadcast of its
    zero-job plan size) takes the no-collect pip_join_points_shuffle
    (identical semantics, pytest-asserted).  ``refine=False`` is
    broadcast-only instrumentation and keeps the broadcast path
    regardless.
    """
    if refine and not fits_broadcast(plan_bytes(polys)):
        return pip_join_points_shuffle(points, polys, res=res, x_col=x_col, y_col=y_col)
    spark: SparkSession = points.sparkSession
    dim = poly_dim(polys)
    bboxes = dim.bboxes
    if res is None:
        res = _auto_res(bboxes)

    # r8 RECTANGLE BYPASS (guide §4.1 "prefer built-ins"; the Point-path
    # twin of the poly-span side's RectangleIntersects bypass): for a
    # PROPER axis-aligned rectangle ring, the even-odd ray-cast
    # (pip.points_in_polygon, asymmetric (y1>py)!=(y2>py) rule) reduces
    # EXACTLY — boundary points included — to the half-open test
    #     pminx <= x < pmaxx AND pminy <= y < pmaxy
    # (the two vertical edges straddle iff pminy <= y < pmaxy and cross
    # iff x < pmaxx / x < pminx; horizontal edges never straddle; the
    # XOR of the two crossings is the half-open box).  When EVERY dim
    # polygon is such a rectangle the refinement is a pure codegen
    # filter: no broadcast of packed coords, no ArrowEvalPython stage,
    # zero bytes across the Python boundary.  Mixed/non-rect dims take
    # the Arrow-UDF refine below.
    all_rect = dim.rect_pids == set(dim.packed)
    xq, yq = quote_ident(x_col), quote_ident(y_col)
    pts = points.withColumn("cell_id", F.expr(cells.cell_id_sql(xq, yq, res)))
    cover_df = _cover_df(spark, bboxes, res)
    if refine and all_rect:
        cand = pts.join(F.broadcast(cover_df), "cell_id").drop("cell_id")
        keep = f"{xq} >= _pminx AND {xq} < _pmaxx AND {yq} >= _pminy AND {yq} < _pmaxy"
        return cand.where(keep).drop("_pminx", "_pminy", "_pmaxx", "_pmaxy")

    cand = pts.join(F.broadcast(cover_df.select("cell_id", "poly_id")), "cell_id").drop("cell_id")
    if not refine:
        return cand

    # Refinement as a BOOLEAN Arrow UDF inside a WHERE, not a
    # mapInArrow over whole rows: Spark's ArrowEvalPython projects ONLY
    # (poly_id, x, y) into Python and gets one byte back per row, so
    # id/string payload columns never cross the Arrow boundary in
    # either direction and the JVM applies the filter in codegen.
    # Measured on the 20M-doc flagship: ~2x faster end-to-end than the
    # round-trip refine and the refine increment scales with cores like
    # the pure-JVM stages (BENCH/BASELINE.md).
    return where_intersects(cand, "poly_id", (x_col, y_col), dim.bpacked)


def pip_join_docs(
    docs: DataFrame, polys: DataFrame, res: int | None = None, refine: bool = True
) -> DataFrame:
    """Interleaved documents x polygons -> (doc_id, span_pos, poly_id).

    Geometry extraction is all codegen: posexplode + filter (spans.py),
    then Point coordinates via native string ops (point_xy_sql — NOT
    from_json, which does not scale with cores; see its docstring) —
    the engine keeps the 10^12-doc hot path JVM-side and enters Python
    only inside the Arrow-batched exact refine (where_intersects, a
    boolean Arrow UDF; SURVEY §2.8).  Point spans only (the flagship hot
    path); use pip_join_docs_any when documents also carry Polygon/LineString
    geo spans.
    """
    geo = extract_geo_spans(docs)
    # string form -> one server-side parse per fragment instead of the
    # ~25-round-trip py4j Column tree (cold-plan cost, VERDICT r5 item 7;
    # r8 extends it to the select/filter glue — same logical plan)
    xs, ys, ps = point_xy_sql("text")
    pts = geo.where(ps).selectExpr(
        "doc_id", "span_pos", f"{xs} AS x", f"{ys} AS y"
    ).where("x IS NOT NULL AND y IS NOT NULL")
    return pip_join_points(pts, polys, res=res, refine=refine).selectExpr(
        "doc_id", "span_pos", "poly_id", "x", "y"
    )


def _poly_span_candidates(spans: DataFrame, cover: DataFrame, res: int, hot: DataFrame | None = None) -> DataFrame:
    """geo spans (extract_geo_spans rows) -> deduped (doc_id, span_pos,
    geom, bbox, rect, poly_id[, the cover's _pgeom]) candidates: geojson
    decode -> native bbox cover explode -> cell join with the dim's
    ``cover`` (_cover_df or _cover_shuffle), salting the ``hot`` cells
    if given -> bbox overlap filter -> reporting-cell dedup (the pair
    survives only in the cell holding the bbox-intersection lower-left
    corner — dedup WITHOUT a shuffle).

    ADAPTIVE COVER RESOLUTION (VERDICT r5 item 4): each span explodes at
    its OWN level — the finest level in [res-ADAPTIVE_LEVEL_WINDOW, res]
    whose cell is at least the span's bbox extent per axis, so every
    span emits <= 2x2 cells regardless of its size.  A single global
    res is chosen from the POLYGON dim (_auto_res) and is quadratically
    wrong for spans much larger than the median polygon (a 2-degree
    span at the bench res explodes ~18 cells; at web scale,
    heterogeneous span sizes make this the explode bottleneck).  The
    polygon side is the DIM, so it absorbs the multi-level cost: it
    publishes its bbox cover at EVERY level in the window, on both sides
    of the broadcast gate, and the join key (cell_id embeds the level,
    geom.cells.compose) matches each span at the span's level.
    Dedup/filter semantics are unchanged — the output is exactly the
    bbox-overlap pair set at any level choice, because the cell holding
    the bbox-intersection lower-left corner is covered by both sides at
    the span's level.  A Point's bbox is (x, y, x, y): it takes level
    ``res`` and explodes to exactly its own cell.

    The decode is the one mapInArrow pass (decode_geojson) with
    payload-free rectangles: the refine reads a rectangle span from its
    bbox columns."""
    lmin = max(0, res - ADAPTIVE_LEVEL_WINDOW)
    g = decode_geojson(spans, "text", ["doc_id", "span_pos"], blank_rect=True)

    # the whole level-pick -> explode -> cell-id -> bbox-filter ->
    # reporting-cell chain is emitted as server-side-parsed SQL strings
    # (geom.cells builders): a Column tree cost ~1.9s of py4j
    # round-trips PER BUILD on the flagship (cold-plan profile, VERDICT
    # r5 item 7).  The span's level is the finest in [lmin, res] whose
    # cell covers the span per axis (<= 2x2 exploded cells for any span
    # size within the window).
    s1, s2, cid = cells.cover_explode_sql("minx", "miny", "maxx", "maxy", "_lvl", "_n")
    cols = ["doc_id", "span_pos", "geom", "minx", "miny", "maxx", "maxy", "rect"]
    covered = g.selectExpr(
        *cols, f"{cells.bbox_level_sql('minx', 'miny', 'maxx', 'maxy', lmin, res)} AS _lvl",
    ).selectExpr(
        *cols, "_lvl", f"{cells.grid_n_sql('_lvl')} AS _n",
    ).selectExpr(
        *cols, "_lvl", "_n", *s1,
    ).selectExpr(
        *cols, "_lvl", "_n", "_ix", *s2,
    ).selectExpr(
        *cols, "_lvl", "_n", f"{cid} AS cell_id",
    )
    # bbox overlap + reporting cell in ONE filter: the pair survives
    # only in the cell (at the span's own level) holding the
    # bbox-intersection lower-left corner (dedup without a shuffle)
    keep = (
        "minx <= _pmaxx AND _pminx <= maxx AND miny <= _pmaxy AND _pminy <= maxy AND cell_id = "
        + cells.reporting_cell_sql(("minx", "_pminx"), ("miny", "_pminy"), "_lvl", "_n")
    )
    if hot is None:
        pairs = covered.join(cover, "cell_id")
    else:
        pairs = join_salting(covered, cover, "cell_id", hot, HOT_CELL_SALT)
    return pairs.where(keep).drop("cell_id", "_lvl", "_n", "_pminx", "_pminy", "_pmaxx", "_pmaxy")


def poly_span_candidates(docs: DataFrame, polys: DataFrame, res: int | None = None) -> DataFrame:
    """Bench/diagnostic surface: the pre-refinement candidates of the
    non-Point geo spans of interleaved docs (mirrors pip_join_points
    ``refine=False``) — used to normalize per-candidate refine cost.
    The polygon dim is read on the side cover.fits_broadcast picks: the
    collected dim's broadcast cover, or the distributed cover
    (_cover_shuffle), whose ``_pgeom`` rides along."""
    if fits_broadcast(plan_bytes(polys)):
        dim = poly_dim(polys)
        res = _auto_res(dim.bboxes) if res is None else res
        cover = F.broadcast(_cover_df(polys.sparkSession, dim.bboxes, res))
    else:
        res, cover = _cover_shuffle(polys, res)
    spans = extract_geo_spans(docs).where(f"NOT {point_xy_sql('text')[2]}")
    return _poly_span_candidates(spans, cover, res)


def pip_join_docs_any(docs: DataFrame, polys: DataFrame, res: int | None = None) -> DataFrame:
    """Interleaved documents x polygons -> (doc_id, span_pos, poly_id)
    for geo spans of ANY geometry type (crop/rasterize in the reference
    accept any geometry, gdal.py:836-846), in ONE span pass on either
    side of cover.fits_broadcast.

    Broadcast side: one mapInArrow over the geo spans
    (geometry_fns.intersecting_pairs) decodes each Arrow batch, looks its
    candidates up in the collected dim's sorted cell cover (_cover_index,
    one Broadcast) and refines them, all in the Python worker that
    decoded them; only the (doc_id, span_pos, poly_id) pairs come back.
    The plan has no broadcast exchange and no JVM join.

    Distributed side: the dim is decoded once and never collected;
    every span, Points included, goes through _poly_span_candidates (one
    decode, one cover join with hot cells salted by skew.join_salting,
    counted over the Point spans' cell ids in the JVM so that the count
    reruns no decode; reporting-cell dedup without a shuffle), then the
    one exact refine, where_intersects, reading each polygon off the
    candidate rows.  Rect x rect pairs are not split off in the JVM:
    that needed the candidates persisted, and the cache stage cost more
    per pass than the NumPy test it spared (CHANGES.md).  Both sides
    give the same pairs."""
    spans = extract_geo_spans(docs)
    if fits_broadcast(plan_bytes(polys)):
        dim = poly_dim(polys)
        res = _auto_res(dim.bboxes) if res is None else res
        cover = _cover_index(polys.sparkSession, dim, res)
        return intersecting_pairs(spans, "text", ["doc_id", "span_pos"], cover, dim.bpacked)
    res, cover = _cover_shuffle(polys, res)
    xs, ys, ps = point_xy_sql("text")
    cell_ids = spans.where(ps).selectExpr(f"{cells.cell_id_sql(xs, ys, res)} AS cell_id")
    cand = _poly_span_candidates(spans, cover, res, hot_keys(cell_ids, "cell_id", HOT_CELL_ROWS))
    return where_intersects(
        cand, "poly_id", ("geom", "minx", "miny", "maxx", "maxy", "rect"), "_pgeom"
    ).selectExpr("doc_id", "span_pos", "poly_id")


def pip_join_points_shuffle(
    points: DataFrame,
    polys: DataFrame,
    res: int | None = None,
    x_col: str = "x",
    y_col: str = "y",
    salt: int = HOT_CELL_SALT,
    hot_threshold: int = HOT_CELL_ROWS,
) -> DataFrame:
    """Big-polygon-side variant: no driver collect, no broadcast dict.

    The polygon table is decoded and cover-exploded DISTRIBUTED
    (_cover_shuffle, the span join's distributed cover, at level res
    only), candidates come from a shuffle hash join
    on cell_id with **salted repartitioning on hot cells** (north_star:
    points side counts pick hot cell ids; their rows split across
    `salt` reducers, the polygon side's hot rows are exploded x salt),
    and the one Arrow-UDF refine (where_intersects) reads each polygon's
    packed coords off the candidate rows, once per (batch, poly) group.

    Semantics identical to pip_join_points (tested); use when the
    polygon side is too large to broadcast.
    """
    res, cover = _cover_shuffle(polys, res, window=0)
    pts = points.withColumn("cell_id", F.expr(cells.cell_id_sql(quote_ident(x_col), quote_ident(y_col), res)))
    cand = salted_join(
        pts, cover.selectExpr("cell_id", "poly_id", "_pgeom"), "cell_id", salt=salt, hot_threshold=hot_threshold
    ).drop("cell_id")
    return where_intersects(cand, "poly_id", (x_col, y_col), "_pgeom").drop("_pgeom")
