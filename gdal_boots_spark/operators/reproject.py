"""Raster reprojection — the out_epsg/out_proj4 arm of the reference's
``warp`` (gdal.py:653-737, single gdal.Warp C call) as a distributed
inverse-mapping resample.

Pipeline:
  driver   — destination grid from the source bounds densified-boundary
             envelope in the target CRS (the curvature-safe version of
             what GDAL's SuggestedWarpOutput does)
  executors— (1) mapInPandas over the distinct source tile keys: each
             tile's dst-tile span via vectorized corner+edge transform
             (+1 px margin), joined back to the pixel blobs in the JVM
             -> sources.tiles.explode_tiles
             (2) groupBy(dst tile) applyInPandas: paste contributions
             into a src-pixel buffer, transform the dst tile's pixel
             centers dst->src in ONE batch call (geom.crs), then
             gather_nearest/gather_bilinear

Vector-side ``vector_to_epsg`` replaces the reference's per-feature
Python loop (gdal.py:1298-1326) with one Arrow-batched UDF.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.geometry_fns import transform_geom_udf
from ..geom.affine import invert_transform
from ..geom.crs import transform_coords
from ..geom.resample_kernels import gather_bilinear, gather_nearest
from ..sources.tiles import TILE_SCHEMA, RasterGrid, explode_tiles


def _boundary_samples(minx, miny, maxx, maxy, n=21):
    xs = np.linspace(minx, maxx, n)
    ys = np.linspace(miny, maxy, n)
    bx = np.concatenate([xs, xs, np.full(n, minx), np.full(n, maxx)])
    by = np.concatenate([np.full(n, miny), np.full(n, maxy), ys, ys])
    return bx, by


def suggested_grid(grid: RasterGrid, dst_crs, resolution=None, raster_id=None) -> RasterGrid:
    """Destination grid covering the reprojected source envelope."""
    from ..geom.affine import bounds_from_transform

    minx, miny, maxx, maxy = bounds_from_transform(grid.transform, grid.width, grid.height)
    bx, by = _boundary_samples(minx, miny, maxx, maxy)
    tx, ty = transform_coords(bx, by, grid.crs, dst_crs)
    dminx, dminy, dmaxx, dmaxy = tx.min(), ty.min(), tx.max(), ty.max()
    if resolution is None:
        # preserve pixel count along the diagonal (GDAL-like heuristic)
        rx = (dmaxx - dminx) / grid.width
        ry = (dmaxy - dminy) / grid.height
        rx = ry = min(rx, ry)
    else:
        rx, ry = (resolution, resolution) if np.isscalar(resolution) else resolution
    W = max(1, int(np.ceil((dmaxx - dminx) / rx)))
    H = max(1, int(np.ceil((dmaxy - dminy) / ry)))
    epsg_out = dst_crs if isinstance(dst_crs, int) else 0  # 0 = custom proj4
    return RasterGrid(
        raster_id=raster_id or (grid.raster_id + "_prj"),
        epsg=epsg_out,
        proj4=None if isinstance(dst_crs, int) else dst_crs,
        transform=(rx, 0.0, float(dminx), 0.0, -ry, float(dmaxy)),
        width=W,
        height=H,
        tile_w=grid.tile_w,
        tile_h=grid.tile_h,
        bands=grid.bands,
        dtype=grid.dtype,
        nodata=grid.nodata,
    )


def reproject(
    tiles: DataFrame,
    grid: RasterGrid,
    dst_crs,
    resolution=None,
    kernel: str = "nearest",
    out_grid: RasterGrid | None = None,
) -> tuple[DataFrame, RasterGrid]:
    """dst_crs: EPSG int or proj4 string (geom.crs support set)."""
    og = out_grid or suggested_grid(grid, dst_crs, resolution=resolution)
    g = grid
    src_crs = grid.crs
    oia = invert_transform(og.transform)
    gia = invert_transform(g.transform)
    fill = 0.0 if g.nodata is None else g.nodata

    def spans(batches):
        a, b, c, d, e, f = g.transform
        for pdf in batches:
            box = []
            for r in pdf.itertuples(index=False):
                tx0 = int(r.tile_x) * g.tile_w
                ty0 = int(r.tile_y) * g.tile_h
                bx, by = _boundary_samples(0, 0, int(r.width), int(r.height), n=9)
                wx = a * (tx0 + bx) + b * (ty0 + by) + c
                wy = d * (tx0 + bx) + e * (ty0 + by) + f
                dx, dy = transform_coords(wx, wy, src_crs, dst_crs)
                pxs = oia[0] * dx + oia[1] * dy + oia[2]
                pys = oia[3] * dx + oia[4] * dy + oia[5]
                # dst pixels [min - 1, ceil(max + 1)]: a 1 px margin
                # around the transformed boundary samples
                box.append((pxs.min() - 1, np.ceil(pxs.max() + 1) + 1, pys.min() - 1, np.ceil(pys.max() + 1) + 1))
            yield pdf.assign(**dict(zip(["px0", "px1", "py0", "py1"], np.array(box, np.float64).reshape(-1, 4).T)))

    # a tile's destination box depends on its position and shape alone
    # (every band shares it): compute it once per distinct tile key and
    # join the pixel blobs back in the JVM, so no raster byte crosses
    # into a Python worker before the assemble step
    keys = ["tile_x", "tile_y", "width", "height"]
    box_schema = StructType(
        [tiles.schema[k] for k in keys] + [StructField(c, DoubleType()) for c in ("px0", "px1", "py0", "py1")]
    )
    boxes = tiles.select(*keys).distinct().mapInPandas(spans, schema=box_schema)
    cols = ["band", "tile_x", "tile_y", "width", "height", "dtype", "data"]
    cand = explode_tiles(
        tiles.select(*cols).join(boxes, keys), cols, og, "px0", "px1", "py0", "py1", ("otx", "oty"),
    )

    def assemble(key, pdf):
        import pandas as pd

        band, otx, oty = int(key[0]), int(key[1]), int(key[2])
        oh, ow = og.tile_shape(otx, oty)
        ox0, oy0 = otx * og.tile_w, oty * og.tile_h
        oa, ob, oc, od, oe, of = og.transform
        jj, ii = np.meshgrid(np.arange(ow) + 0.5, np.arange(oh) + 0.5)
        wx = oa * (ox0 + jj) + ob * (oy0 + ii) + oc
        wy = od * (ox0 + jj) + oe * (oy0 + ii) + of
        sx, sy = transform_coords(wx.ravel(), wy.ravel(), dst_crs, src_crs)
        spx = (gia[0] * sx + gia[1] * sy + gia[2]).reshape(oh, ow)
        spy = (gia[3] * sx + gia[4] * sy + gia[5]).reshape(oh, ow)

        # buffer covering the needed src window (+2 halo)
        bx0 = max(0, int(np.floor(np.nanmin(spx))) - 2)
        bx1 = min(g.width, int(np.ceil(np.nanmax(spx))) + 2)
        by0 = max(0, int(np.floor(np.nanmin(spy))) - 2)
        by1 = min(g.height, int(np.ceil(np.nanmax(spy))) + 2)
        bx1, by1 = max(bx1, bx0 + 1), max(by1, by0 + 1)
        buf = np.full((by1 - by0, bx1 - bx0), fill, dtype=np.dtype(g.dtype))
        for r in pdf.itertuples(index=False):
            src = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(r.height, r.width)
            tx0, ty0 = int(r.tile_x) * g.tile_w, int(r.tile_y) * g.tile_h
            x0, x1 = max(tx0, bx0), min(tx0 + int(r.width), bx1)
            y0, y1 = max(ty0, by0), min(ty0 + int(r.height), by1)
            if x0 >= x1 or y0 >= y1:
                continue
            buf[y0 - by0 : y1 - by0, x0 - bx0 : x1 - bx0] = src[y0 - ty0 : y1 - ty0, x0 - tx0 : x1 - tx0]

        # mask dst pixels whose src center is outside the raster
        inb = (spx >= 0) & (spx < g.width) & (spy >= 0) & (spy < g.height)
        lpx = np.where(inb, spx - bx0, -1e9)
        lpy = np.where(inb, spy - by0, -1e9)
        if kernel == "bilinear":
            blk = gather_bilinear(buf, lpx, lpy, fill)
        else:
            blk = gather_nearest(buf, lpx, lpy, fill)
        blk = np.ascontiguousarray(blk.astype(np.dtype(og.dtype)))
        return pd.DataFrame(
            [
                {
                    "tile_key": og.tile_key(band, oty, otx),
                    "raster_id": og.raster_id,
                    "band": band,
                    "tile_x": otx,
                    "tile_y": oty,
                    "epsg": og.epsg,
                    "transform": list(og.tile_transform(otx, oty)),
                    "width": ow,
                    "height": oh,
                    "dtype": og.dtype,
                    "nodata": og.nodata,
                    "data": blk.tobytes(),
                    "meta": og.meta_encoded,
                }
            ]
        )

    out_tiles = cand.groupBy("band", "otx", "oty").applyInPandas(assemble, schema=TILE_SCHEMA)
    return out_tiles, og


def vector_to_epsg(df: DataFrame, src_epsg: int, dst_epsg, geom_col: str = "geometry") -> DataFrame:
    """Whole-column vectorized CRS transform of packed geometries —
    the reference loops one osr call per feature (gdal.py:1316-1325)."""
    return df.withColumn(geom_col, transform_geom_udf(src_epsg, dst_epsg)(F.col(geom_col)))
