"""Raster mosaic (spatial union-join) — reference ``union``
(gdal.py:890-895) / ``warp(extra_ds=[...])`` (gdal.py:712-714).

Semantics pinned by the reference goldens (test_raster.py:628-645,
:178-227): output grid = envelope union at the primary grid's
resolution; pixels initialize to the output nodata (or 0); sources
paste **in list order, later wins**; a source's nodata pixels never
overwrite (multiband_3857 golden keeps 255).

Engine shape: per-source native contribution explode (uniform global
pixel offsets computed on the driver) -> unionByName -> groupBy(out
tile) applyInPandas paste ordered by source index.  One shuffle, keyed
by output tile id — the deterministic-order mosaic groupBy of SURVEY
§2.3, safe under any parallelism because ordering is by data
(src, tile coords), never by arrival.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..functions.geometry_fns import double_lit_sql
from ..sources.tiles import TILE_SCHEMA, RasterGrid, explode_tiles


def mosaic(
    spark: SparkSession,
    inputs: list[tuple[DataFrame, RasterGrid]],
    nodata: float | None = None,
) -> tuple[DataFrame, RasterGrid]:
    if not inputs:
        raise ValueError("mosaic needs at least one input")
    g0 = inputs[0][1]
    a, b, c0, d, e, f0 = g0.transform
    if b != 0 or d != 0:
        raise ValueError("mosaic requires axis-aligned grids")
    for _, g in inputs:
        ga, gb, _, gd, ge, _ = g.transform
        if g.epsg != g0.epsg or (ga, gb, gd, ge) != (a, b, d, e):
            raise ValueError("mosaic inputs must share CRS and resolution (use resample/reproject first)")

    minx = min(g.transform[2] for _, g in inputs)
    maxy = max(g.transform[5] for _, g in inputs)
    maxx = max(g.transform[2] + g.width * a for _, g in inputs)
    miny = min(g.transform[5] + g.height * e for _, g in inputs)

    def _int(v, name):
        r = round(v)
        if abs(v - r) > 1e-6:
            raise ValueError(f"mosaic inputs not grid-aligned ({name}={v})")
        return int(r)

    W = _int((maxx - minx) / a, "width")
    H = _int((miny - maxy) / e, "height")
    from dataclasses import replace as _replace

    out = _replace(
        g0,
        raster_id=g0.raster_id + "_mosaic",
        transform=(a, 0.0, minx, 0.0, e, maxy),
        width=W,
        height=H,
        nodata=g0.nodata if nodata is None else nodata,
    )

    cands = []
    for i, (tiles, g) in enumerate(inputs):
        dx = _int((g.transform[2] - minx) / a, f"dx[{i}]")
        dy = _int((g.transform[5] - maxy) / e, f"dy[{i}]")
        nodata_sql = "NULL" if g.nodata is None else double_lit_sql(g.nodata)
        placed = tiles.selectExpr(
            "band", "width", "height", "dtype", "data", f"{i} AS src", f"CAST({nodata_sql} AS DOUBLE) AS src_nodata",
            f"tile_x * {g.tile_w} + {dx} AS gx0", f"tile_y * {g.tile_h} + {dy} AS gy0",
        )
        keep = ["band", "width", "height", "dtype", "data", "src", "src_nodata", "gx0", "gy0"]
        cands.append(explode_tiles(placed, keep, out, "gx0", "gx0 + width", "gy0", "gy0 + height", ("otx", "oty")))

    allc = cands[0]
    for cand in cands[1:]:
        allc = allc.unionByName(cand)

    og = out
    fill = 0.0 if og.nodata is None else og.nodata

    def assemble(key, pdf):
        import pandas as pd

        band, otx, oty = int(key[0]), int(key[1]), int(key[2])
        oh, ow = og.tile_shape(otx, oty)
        ox0, oy0 = otx * og.tile_w, oty * og.tile_h
        arr = np.full((oh, ow), fill, dtype=np.dtype(og.dtype))
        for r in pdf.sort_values(["src", "gy0", "gx0"]).itertuples(index=False):
            src = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(r.height, r.width)
            x0 = max(int(r.gx0), ox0)
            x1 = min(int(r.gx0) + int(r.width), ox0 + ow)
            y0 = max(int(r.gy0), oy0)
            y1 = min(int(r.gy0) + int(r.height), oy0 + oh)
            if x0 >= x1 or y0 >= y1:
                continue
            blk = src[y0 - int(r.gy0) : y1 - int(r.gy0), x0 - int(r.gx0) : x1 - int(r.gx0)]
            view = arr[y0 - oy0 : y1 - oy0, x0 - ox0 : x1 - ox0]
            if r.src_nodata is not None and not (isinstance(r.src_nodata, float) and np.isnan(r.src_nodata)):
                m = blk != np.asarray(r.src_nodata, dtype=blk.dtype)
                view[m] = blk.astype(arr.dtype)[m]
            else:
                view[:] = blk.astype(arr.dtype)
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
                    "data": arr.tobytes(),
                    "meta": og.meta_encoded,
                }
            ]
        )

    out_tiles = allc.groupBy("band", "otx", "oty").applyInPandas(assemble, schema=TILE_SCHEMA)
    return out_tiles, out
