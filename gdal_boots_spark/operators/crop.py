"""crop_by_geometry — the reference flagship pipeline (gdal.py:819-888)
re-expressed as a lazy DataFrame DAG.

Reference stages -> engine stages:
  geometry build + CRS transform (gdal.py:836-846)  -> NumPy, driver
  actual_bounds intersect (gdal.py:848-855)          -> window clip
  warp to envelope (gdal.py:864-872)                 -> slice_window
  rasterize mask (gdal.py:875-876)                   -> rasterize operator
  mask apply img[mask==0]=nodata (gdal.py:878-887)   -> 1:1 tile join +
                                                        mapInPandas np.where

Returns (masked_tiles, mask_tiles, out_grid) — the reference returns
(warped, mask).  Degenerate geometry (empty window) raises, matching
test_raster.py:485-487.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geom.crs import transform_coords
from ..geom.packed import PackedGeometry, from_geojson, to_geojson
from ..geom.raster_kernels import apply_mask
from ..sources.tiles import RasterGrid
from .rasterize import rasterize
from .warp import slice_window, window_of_bbox


def transform_packed(pg: PackedGeometry, src, dst) -> PackedGeometry:
    if str(src) == str(dst) or pg.n_points == 0:
        return pg
    xy = pg.coords.reshape(-1, 2)
    tx, ty = transform_coords(xy[:, 0], xy[:, 1], src, dst)
    return PackedGeometry(pg.gtype, np.column_stack([tx, ty]).ravel(), pg.ring_offsets, pg.part_offsets)


def crop_by_geometry(
    spark: SparkSession,
    tiles: DataFrame,
    grid: RasterGrid,
    geometry,
    epsg: int = 4326,
    apply_mask_flag: bool = True,
    all_touched: bool = True,
    actual_bounds: bool = True,
) -> tuple[DataFrame, DataFrame, RasterGrid]:
    """Crop `tiles` to `geometry` (GeoJSON dict/str in `epsg`).

    all_touched=True mirrors the reference's rasterize default
    (gdal.py:1096-1099: burn=1, ALL_TOUCHED=TRUE).
    """
    pg = from_geojson(geometry)
    pg = transform_packed(pg, epsg, grid.crs)
    c = pg.coords.reshape(-1, 2)
    if len(c) == 0:
        raise ValueError("empty geometry")
    bbox = (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())
    window = window_of_bbox(grid, bbox, clip=actual_bounds)

    sliced, out_grid = slice_window(tiles, grid, window)

    poly_df = spark.createDataFrame(
        pa.table({"poly_id": [0], "geojson": [json.dumps(to_geojson(pg), separators=(",", ":"))]}),
        "poly_id long, geojson string",
    )
    mask_tiles = rasterize(spark, poly_df, out_grid, all_touched=all_touched, dense=True)

    if not apply_mask_flag:
        return sliced, mask_tiles, out_grid

    m = mask_tiles.select(
        F.col("tile_x").alias("mtx"), F.col("tile_y").alias("mty"), F.col("data").alias("mask_data")
    )
    joined = sliced.join(
        m, (F.col("tile_x") == F.col("mtx")) & (F.col("tile_y") == F.col("mty")), "left"
    ).drop("mtx", "mty")

    nodata = out_grid.nodata

    def mask_apply(batches):
        for pdf in batches:
            out_rows = []
            for r in pdf.itertuples(index=False):
                img = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(r.height, r.width)
                if r.mask_data is None:
                    msk = np.zeros_like(img, dtype=np.uint8)
                else:
                    msk = np.frombuffer(r.mask_data, dtype=np.uint8).reshape(r.height, r.width)
                out_rows.append(apply_mask(img, msk, nodata).tobytes())
            pdf = pdf.drop(columns=["mask_data"])
            pdf["data"] = out_rows
            yield pdf

    masked = joined.mapInPandas(mask_apply, schema=sliced.schema)
    return masked, mask_tiles, out_grid
