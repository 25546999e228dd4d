"""Zonal statistics: per-polygon aggregates over raster pixels.

The classic raster x vector operator (the Raptor use case, PAPERS.md):
for every polygon, aggregate the raster values whose pixel CENTER falls
inside it (same coverage rule as rasterize all_touched=False).

Physical shape:
    polys -> (tile, poly) contribution rows, one side picked by
    cover.fits_broadcast:
        broadcast path: cover.poly_dim + tile_contribs, coords via the
        dim's broadcast, contributions broadcast-joined to tiles
        distributed path: operators.cover no-collect explode; the geom
        struct rides the rows through a shuffle hash join on
        (tile_x, tile_y) — for polygon tables too large to broadcast
    joined ⋈ tiles -> mapInPandas: scanline mask per (poly, tile),
        masked partial aggregates (count/sum/min/max) — one NumPy pass
        per pair
    groupBy(poly_id, band) final combine  (shuffle of tiny rows)

The partial+final split means pixel bytes never shuffle: only
O(polys x touched tiles) aggregate rows do.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geom.raster_kernels import rasterize_mask
from ..partitioning import plan_bytes
from ..sources.tiles import RasterGrid
from .cover import contribs_distributed, fits_broadcast, geom_arrays, poly_dim, tile_contribs

_OUT_SCHEMA = "poly_id long, band int, n_pixels long, sum double, min double, max double, mean double"
_PARTIAL_SCHEMA = "poly_id long, band int, n_pixels long, sum double, min double, max double"


def zonal_stats(
    spark: SparkSession,
    tiles: DataFrame,
    grid: RasterGrid,
    polys: DataFrame,
) -> DataFrame:
    """-> (poly_id, band, n_pixels, sum, min, max, mean) per polygon
    over all raster bands; polygons with no covered pixel are absent
    (the reference's GDAL zonal workflows behave the same).

    A polygon side over the broadcast gate (cover.fits_broadcast) runs
    with no driver collect; output is identical (pytest-asserted)."""
    g = grid
    if not fits_broadcast(plan_bytes(polys)):
        joined = tiles.join(contribs_distributed(polys, grid), ["tile_x", "tile_y"])

        def arrays_of(r):
            return geom_arrays(r.geom)
    else:
        dim = poly_dim(polys)
        tx, ty, pids = tile_contribs(dim, grid)
        # driver relations come from Arrow tables (local relations: no
        # execution runs a Python worker to scan them)
        if not len(pids):
            return spark.createDataFrame(
                pa.table({c.split()[0]: pa.nulls(0) for c in _OUT_SCHEMA.split(", ")}), _OUT_SCHEMA
            )
        cdf = spark.createDataFrame(
            pa.table([tx, ty, pids], names=["tile_x", "tile_y", "poly_id"]),
            "tile_x int, tile_y int, poly_id long",
        )
        joined = tiles.join(F.broadcast(cdf), ["tile_x", "tile_y"])
        bpolys = dim.bpacked

        def arrays_of(r):
            return bpolys.value[int(r.poly_id)]

    def partial(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            cache: dict = {}  # look each polygon up (or decode it) once per batch
            for r in pdf.itertuples(index=False):
                pid = int(r.poly_id)
                if pid not in cache:
                    cache[pid] = arrays_of(r)
                rec = _pair_partial(r, *cache[pid], g)
                if rec is not None:
                    out.append(rec)
            if out:
                yield pd.DataFrame(out)

    partials = joined.mapInPandas(partial, schema=_PARTIAL_SCHEMA)

    return partials.groupBy("poly_id", "band").agg(
        F.sum("n_pixels").alias("n_pixels"),
        F.sum("sum").alias("sum"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        (F.sum("sum") / F.sum("n_pixels")).alias("mean"),
    )


def _pair_partial(r, coords: np.ndarray, ro: np.ndarray, g: RasterGrid):
    """One (tile, polygon) pair -> partial aggregate record or None."""
    arr = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(r.height, r.width)
    t = g.tile_transform(int(r.tile_x), int(r.tile_y))
    m = rasterize_mask(coords, ro, t, r.height, r.width).astype(bool)
    if not m.any():
        return None
    vals = arr[m].astype(np.float64)
    return {
        "poly_id": int(r.poly_id),
        "band": int(r.band),
        "n_pixels": int(vals.size),
        "sum": float(vals.sum()),
        "min": float(vals.min()),
        "max": float(vals.max()),
    }
