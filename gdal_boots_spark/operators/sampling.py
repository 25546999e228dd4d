"""Point-in-raster sampling — reference ``values_by_points``
(gdal.py:897-931) as a distributed point x tile join.

Reference semantics (golden: test_raster.py:648-677): world -> pixel by
inverse affine + floor (gdal.py:919-921); bounds check 0<=px<w,
0<=py<h (gdal.py:924); out-of-bounds points yield NULL (left outer
join); multiband rasters yield one value per band.

TWO physical shapes, auto-picked from the raster's PLAN-TIME size
(r8, guide §2.4/§3.1 — the raster is the DIMENSION of this join):

* broadcast path (dense raster bytes pass cover.fits_broadcast): the tile
  table is collected ONCE (memoized per session like the polygon dims)
  into a dense (bands, H, W) array + a present-tile mask, broadcast,
  and sampling is a single ArrowEvalPython over the point side's
  codegen pixel math — ZERO shuffles, no cogroup, the point side never
  leaves its scan stage.  Absent tiles still yield NULL via the mask
  (sparse tile tables keep left-outer semantics).

* cogroup path (large rasters): ONE shuffle of
  each side,

    points ── native inverse-affine pixel math (codegen) ──┐
       │  tile_key = f(band, px/tw, py/th) in bounds,      │
       │  salted "oob/<h>" sentinel outside                │
       └── groupBy(tile_key) COGROUP applyInPandas ────────┤
    tiles ── groupBy(tile_key) ────────────────────────────┘
                      │ one Arrow transfer of each tile blob per task,
                      │ vectorized fancy-index gather per tile group;
                      │ groups with no tile row (sentinel or missing
                      │ tile) emit NULL — the cogroup IS the left join
              (point_id, band, value | NULL)

  Tile blobs never ride on candidate rows, so the shuffle volume is
  O(points) keys + O(tiles) blobs, each shuffled once — the pattern
  that survives 10^12 points.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import memo
from ..geom.affine import invert_transform
from ..sources.tiles import RasterGrid, tile_range, tile_range_sql


def _broadcast_raster(tiles: DataFrame, grid: RasterGrid):
    """The tile table collected into a dense float64 (bands, H, W) array
    plus a present bool (bands, n_ty, n_tx) mask, broadcast — one memo
    entry per session, raster plan and grid: sc.broadcast() re-pickles
    and re-ships the whole dense array otherwise (bench best-of-N
    rebuilds the plan per rep)."""

    def build():
        arr = np.full((grid.bands, grid.height, grid.width), np.nan, dtype=np.float64)
        present = np.zeros((grid.bands, grid.n_tiles_y, grid.n_tiles_x), dtype=bool)
        rows = tiles.select("band", "tile_x", "tile_y", "width", "height", "dtype", "data").collect()
        for r in rows:
            b, tx, ty = int(r["band"]), int(r["tile_x"]), int(r["tile_y"])
            if not (0 <= b < grid.bands and 0 <= tx < grid.n_tiles_x and 0 <= ty < grid.n_tiles_y):
                continue
            blk = np.frombuffer(r["data"], dtype=np.dtype(r["dtype"])).reshape(r["height"], r["width"])
            y0, x0 = ty * grid.tile_h, tx * grid.tile_w
            arr[b, y0 : y0 + r["height"], x0 : x0 + r["width"]] = blk.astype(np.float64)
            present[b, ty, tx] = True
        return tiles.sparkSession.sparkContext.broadcast((arr, present))

    key = memo.plan_key(
        tiles, grid.raster_id, grid.transform, grid.width, grid.height,
        grid.tile_w, grid.tile_h, grid.bands,
    )
    return memo.get("raster", key, build, limit=16)


def values_by_points(
    points: DataFrame,
    tiles: DataFrame,
    grid: RasterGrid,
    id_col: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """-> (point_id, band, value:double); value NULL when outside (or
    when the point's tile is absent from the tile table).

    The path is picked by cover.fits_broadcast from the DENSE raster
    size (a plan-time constant of the grid — zero probe jobs): the
    broadcast gather or the cogroup join.  Outputs are identical
    (pytest-asserted)."""
    from ..functions.geometry_fns import double_lit_sql as _dl, quote_ident
    from .cover import fits_broadcast

    spark = points.sparkSession

    ia, ib, ic, id_, ie, if_ = invert_transform(grid.transform)
    # build mechanics as server-parsed SQL strings (r8 cold-plan cost)
    x, y = quote_ident(x_col), quote_ident(y_col)
    px_sql = f"CAST(FLOOR({_dl(ia)} * {x} + {_dl(ib)} * {y} + {_dl(ic)}) AS INT)"
    py_sql = f"CAST(FLOOR({_dl(id_)} * {x} + {_dl(ie)} * {y} + {_dl(if_)}) AS INT)"
    bands = spark.range(grid.bands).selectExpr("CAST(id AS INT) AS band")

    if fits_broadcast(grid.width * grid.height * grid.bands * 8):
        braster = _broadcast_raster(tiles, grid)
        g = grid
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def sample(band_s, px_s, py_s):
            import pandas as pd

            arr, present = braster.value
            b = band_s.to_numpy(np.int64)
            ix = px_s.to_numpy(np.int64)
            iy = py_s.to_numpy(np.int64)
            ok = (ix >= 0) & (ix < g.width) & (iy >= 0) & (iy < g.height)
            ixc, iyc = np.clip(ix, 0, g.width - 1), np.clip(iy, 0, g.height - 1)
            ok &= present[b, tile_range(iyc, iyc + 1, g.tile_h, g.n_tiles_y)[0],
                          tile_range(ixc, ixc + 1, g.tile_w, g.n_tiles_x)[0]]
            vals = arr[b, iyc, ixc]
            # FloatingArray(values, mask): ONLY ~ok rows become NULL —
            # a genuine NaN pixel in a float raster stays NaN (a
            # pd.array(..., dtype="Float64") cast would silently
            # NA-coerce it, diverging from the cogroup path)
            return pd.Series(pd.arrays.FloatingArray(np.ascontiguousarray(vals), ~ok))

        pts = points.selectExpr(f"{quote_ident(id_col)} AS point_id", f"{px_sql} AS px", f"{py_sql} AS py")
        return pts.crossJoin(F.broadcast(bands)).select(
            "point_id", "band", sample(F.col("band"), F.col("px"), F.col("py")).alias("value")
        )

    # Out-of-bounds points are NOT filtered out: they ride the same
    # cogroup under a salted sentinel key (no tile row exists there, so
    # the gather emits NULL).  That makes the cogroup itself the left
    # outer join — the old shape re-shuffled every (point, band) row a
    # SECOND time through a final join just to backfill NULLs, doubling
    # the O(points) shuffle volume at 10^12 points.  Salting spreads a
    # mostly-out-of-bounds workload across reducers.
    in_bounds = (
        (F.col("px") >= 0) & (F.col("px") < grid.width) & (F.col("py") >= 0) & (F.col("py") < grid.height)
    )
    pts = points.select(
        F.col(id_col).alias("point_id"), F.expr(px_sql).alias("px"), F.expr(py_sql).alias("py"),
        in_bounds.alias("ok"),
    )
    cand = pts.crossJoin(F.broadcast(bands)).select(
        "point_id",
        "band",
        F.when(
            F.col("ok"),
            F.format_string(
                f"{grid.raster_id}/%d/%d/%d",
                F.col("band"),
                F.expr(tile_range_sql("py", "py + 1", grid.tile_h, grid.n_tiles_y)[0]),
                F.expr(tile_range_sql("px", "px + 1", grid.tile_w, grid.n_tiles_x)[0]),
            ),
        )
        .otherwise(F.format_string("oob/%d", F.pmod(F.xxhash64("point_id"), F.lit(64))))
        .alias("tile_key"),
        (F.col("px") % grid.tile_w).alias("ix"),
        (F.col("py") % grid.tile_h).alias("iy"),
    )

    tile_side = tiles.select("tile_key", "width", "dtype", "data")

    def gather(key, pts_pdf, tiles_pdf):
        import pandas as pd

        if len(pts_pdf) == 0:
            return pd.DataFrame({"point_id": [], "band": [], "value": []}).astype(
                {"point_id": "int64", "band": "int32", "value": "float64"}
            )
        if len(tiles_pdf) == 0:
            # out-of-bounds sentinel group or a tile absent from the
            # raster table: left-outer semantics, NULL values
            return pd.DataFrame(
                {
                    "point_id": pts_pdf["point_id"].to_numpy(),
                    "band": pts_pdf["band"].to_numpy(),
                    "value": pd.array([None] * len(pts_pdf), dtype="Float64"),
                }
            )
        t = tiles_pdf.iloc[0]
        arr = np.frombuffer(t["data"], dtype=np.dtype(t["dtype"])).reshape(-1, t["width"])
        vals = arr[pts_pdf["iy"].to_numpy(), pts_pdf["ix"].to_numpy()].astype(np.float64)
        return pd.DataFrame(
            {"point_id": pts_pdf["point_id"].to_numpy(), "band": pts_pdf["band"].to_numpy(), "value": vals}
        )

    return (
        cand.groupBy("tile_key")
        .cogroup(tile_side.groupBy("tile_key"))
        .applyInPandas(gather, schema="point_id long, band int, value double")
        .select("point_id", "band", "value")
    )
