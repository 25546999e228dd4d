"""Window slicing (fast_warp) and the shared regrid machinery.

``fast_warp`` (reference gdal.py:739-817) is the cheap read path: an
axis-aligned bbox in the native CRS snapped outward to the pixel grid,
then a pure slice — no resampling.  Goldens: test_raster.py:309-365
(exact output shapes and snapped bounds at 10/20/60 m).

Engine shape: the window is computed on the driver (snap_bbox_to_grid,
identical floor/ceil semantics), input tiles are pruned by a native
tile-range filter (the pushdown the reference lacks — Catalyst turns it
into parquet min/max pruning when tiles are read from disk), and output
tiles are assembled by a groupBy(out tile) applyInPandas paste.  An
input tile contributes to at most 4 output tiles when tile sizes match,
so shuffle volume is O(window bytes).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..functions.geometry_fns import double_lit_sql
from ..geom.affine import snap_bbox_to_grid
from ..sources.tiles import TILE_SCHEMA, RasterGrid, explode_tiles, tile_range


def window_of_bbox(grid: RasterGrid, bbox, clip: bool = False):
    """bbox (minx,miny,maxx,maxy world) -> (col0,row0,col1,row1) snapped
    outward to the pixel grid.  Reference validates the bbox lies inside
    the raster (gdal.py:749-757); `clip=True` instead intersects with
    the raster extent (the crop_by_geometry `actual_bounds` behavior,
    gdal.py:848-855)."""
    minx, miny, maxx, maxy = bbox
    col0, row0, col1, row1, *_ = snap_bbox_to_grid(grid.transform, minx, miny, maxx, maxy)
    if clip:
        col0, row0 = max(0, col0), max(0, row0)
        col1, row1 = min(grid.width, col1), min(grid.height, row1)
        if col0 >= col1 or row0 >= row1:
            raise ValueError("window does not intersect raster")
    elif col0 < 0 or row0 < 0 or col1 > grid.width or row1 > grid.height:
        raise ValueError("bbox outside raster bounds")
    return int(col0), int(row0), int(col1), int(row1)


def sliced_grid(grid: RasterGrid, window, raster_id: str | None = None) -> RasterGrid:
    from dataclasses import replace

    col0, row0, col1, row1 = window
    a, b, c, d, e, f = grid.transform
    return replace(
        grid,
        raster_id=raster_id or (grid.raster_id + "_win"),
        transform=(a, b, a * col0 + b * row0 + c, d, e, d * col0 + e * row0 + f),
        width=col1 - col0,
        height=row1 - row0,
    )


def slice_window(tiles: DataFrame, grid: RasterGrid, window) -> tuple[DataFrame, RasterGrid]:
    """fast_warp: -> (out tile table, out grid).  Pure slice, exact
    pixel values (reference asserts fast_warp == warp output on aligned
    reads, test_raster.py:326-331)."""
    col0, row0, col1, row1 = window
    out = sliced_grid(grid, window)
    g, og = grid, out

    # prune input tiles to the window (native; becomes min/max file
    # pruning on a persisted tile table)
    tx0, tx1 = (int(t) for t in tile_range(col0, col1, g.tile_w, g.n_tiles_x))
    ty0, ty1 = (int(t) for t in tile_range(row0, row1, g.tile_h, g.n_tiles_y))
    pruned = tiles.where(f"tile_x >= {tx0} AND tile_x <= {tx1} AND tile_y >= {ty0} AND tile_y <= {ty1}")

    # each input tile -> the out tiles its part of the window touches
    # (pixels of the out grid: the window starts at (col0, row0))
    cand = explode_tiles(
        pruned, ["band", "tile_x", "tile_y", "width", "height", "dtype", "data"], og,
        f"GREATEST(tile_x * {g.tile_w}, {col0}) - {col0}", f"LEAST(tile_x * {g.tile_w} + width, {col1}) - {col0}",
        f"GREATEST(tile_y * {g.tile_h}, {row0}) - {row0}", f"LEAST(tile_y * {g.tile_h} + height, {row1}) - {row0}",
        ("otx", "oty"),
    )

    def assemble(key, pdf):
        import pandas as pd

        band, otx, oty = int(key[0]), int(key[1]), int(key[2])
        oh, ow = og.tile_shape(otx, oty)
        arr = np.zeros((oh, ow), dtype=np.dtype(og.dtype))
        if og.nodata is not None:
            arr[:] = og.nodata
        # out tile's global pixel range (input raster frame)
        ox0, oy0 = col0 + otx * og.tile_w, row0 + oty * og.tile_h
        for r in pdf.itertuples(index=False):
            src = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(r.height, r.width)
            sx0, sy0 = int(r.tile_x) * g.tile_w, int(r.tile_y) * g.tile_h
            x0 = max(sx0, ox0, col0)
            x1 = min(sx0 + int(r.width), ox0 + ow, col1)
            y0 = max(sy0, oy0, row0)
            y1 = min(sy0 + int(r.height), oy0 + oh, row1)
            if x0 >= x1 or y0 >= y1:
                continue
            arr[y0 - oy0 : y1 - oy0, x0 - ox0 : x1 - ox0] = src[y0 - sy0 : y1 - sy0, x0 - sx0 : x1 - sx0]
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

    out_tiles = cand.groupBy("band", "otx", "oty").applyInPandas(assemble, schema=TILE_SCHEMA)
    return out_tiles, out


def fast_warp(tiles: DataFrame, grid: RasterGrid, bbox, clip: bool = False) -> tuple[DataFrame, RasterGrid]:
    """bbox slice in native CRS — the reference fast_warp
    (gdal.py:808-817) routed through the engine's regrid."""
    return slice_window(tiles, grid, window_of_bbox(grid, bbox, clip=clip))


def resampled_grid(grid: RasterGrid, resolution=None, size=None, raster_id=None) -> RasterGrid:
    """Target grid for a resolution/size change over the same extent —
    reference warp(resolution=...) (gdal.py:716-723; shape-ratio golden
    test_raster.py:299-302)."""
    a, b, c, d, e, f = grid.transform
    if size is not None:
        W2, H2 = int(size[0]), int(size[1])
        rx, ry = a * grid.width / W2, -e * grid.height / H2
    else:
        rx, ry = (resolution, resolution) if np.isscalar(resolution) else resolution
        W2 = max(1, int(round(grid.width * a / rx)))
        H2 = max(1, int(round(grid.height * (-e) / ry)))
    from dataclasses import replace as _replace

    return _replace(
        grid,
        raster_id=raster_id or (grid.raster_id + "_rs"),
        transform=(rx, 0.0, c, 0.0, -ry, f),
        width=W2,
        height=H2,
    )


def resample(
    tiles: DataFrame,
    grid: RasterGrid,
    kernel: str = "nearest",
    resolution=None,
    size=None,
) -> tuple[DataFrame, RasterGrid]:
    """Resolution change over the same extent with one of the reference's
    kernels (Resampling enum, gdal.py:179-204): nearest / bilinear /
    cubic / cubicspline / lanczos (separable convolution, any scale) /
    the 9 aggregate kernels (any downscale factor >= 1; integer factors
    take the block-reduce fast path).

    Physical shape: native contribution explode (each source tile ->
    the output tiles whose preimage it can influence, +-halo where halo
    covers the kernel support) -> groupBy(out tile) applyInPandas:
    paste the source window into a local buffer, then one vectorized
    kernel call (geom.resample_kernels).  Shuffle volume
    O(source bytes).
    """
    from ..geom.resample_kernels import (
        AGG_KERNELS,
        CONV_KERNELS,
        bilinear,
        block_agg,
        nearest,
        separable_conv,
        window_agg,
    )

    og = resampled_grid(grid, resolution=resolution, size=size)
    scale_x = grid.width / og.width
    scale_y = grid.height / og.height
    support = 1
    if kernel in AGG_KERNELS:
        if scale_x < 1.0 - 1e-9 or scale_y < 1.0 - 1e-9:
            raise ValueError("aggregate kernels are downsampling kernels (factor >= 1)")
        # aggregates produce exact float64 (documented deviation from
        # GDAL, which clips back to the band dtype)
        from dataclasses import replace as _dc_replace

        og = _dc_replace(og, dtype="float64")
    elif kernel in CONV_KERNELS:
        support = CONV_KERNELS[kernel]
    elif kernel not in ("nearest", "bilinear"):
        raise ValueError(f"unknown kernel {kernel}")

    g = grid
    halo = support + 1  # source pixels beyond the tile that can matter
    # out pixels a source tile [x0, x1) can influence: from
    # floor((x0 - halo) / scale) - 1 through ceil((x1 + halo) / scale) + 1
    sx, sy = double_lit_sql(scale_x), double_lit_sql(scale_y)
    cand = explode_tiles(
        tiles, ["band", "tile_x", "tile_y", "width", "height", "dtype", "data"], og,
        f"FLOOR((tile_x * {g.tile_w} - {halo}) / {sx}) - 1", f"CEIL((tile_x * {g.tile_w} + width + {halo}) / {sx}) + 2",
        f"FLOOR((tile_y * {g.tile_h} - {halo}) / {sy}) - 1", f"CEIL((tile_y * {g.tile_h} + height + {halo}) / {sy}) + 2",
        ("otx", "oty"),
    )

    fill = 0.0 if g.nodata is None else g.nodata
    kname = kernel

    def assemble(key, pdf):
        import pandas as pd

        band, otx, oty = int(key[0]), int(key[1]), int(key[2])
        oh, ow = og.tile_shape(otx, oty)
        ox0, oy0 = otx * og.tile_w, oty * og.tile_h
        # source buffer covering the preimage (+ kernel-support halo), clipped
        hb = support + 1
        sx0 = max(0, int(np.floor(ox0 * scale_x)) - hb)
        sx1 = min(g.width, int(np.ceil((ox0 + ow) * scale_x)) + hb)
        sy0 = max(0, int(np.floor(oy0 * scale_y)) - hb)
        sy1 = min(g.height, int(np.ceil((oy0 + oh) * scale_y)) + hb)
        buf = np.full((sy1 - sy0, sx1 - sx0), fill, dtype=np.dtype(g.dtype))
        for r in pdf.itertuples(index=False):
            src = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(r.height, r.width)
            tx0 = int(r.tile_x) * g.tile_w
            ty0 = int(r.tile_y) * g.tile_h
            x0, x1 = max(tx0, sx0), min(tx0 + int(r.width), sx1)
            y0, y1 = max(ty0, sy0), min(ty0 + int(r.height), sy1)
            if x0 >= x1 or y0 >= y1:
                continue
            buf[y0 - sy0 : y1 - sy0, x0 - sx0 : x1 - sx0] = src[y0 - ty0 : y1 - ty0, x0 - tx0 : x1 - tx0]

        if kname == "nearest":
            blk = nearest(buf, sx0, sy0, scale_x, scale_y, oh, ow, ox0, oy0)
        elif kname == "bilinear":
            blk = bilinear(buf, sx0, sy0, scale_x, scale_y, oh, ow, ox0, oy0)
        elif kname in CONV_KERNELS:
            blk = separable_conv(buf, sx0, sy0, scale_x, scale_y, oh, ow, ox0, oy0, kname)
        else:
            kx, ky = int(round(scale_x)), int(round(scale_y))
            if abs(scale_x - kx) < 1e-9 and abs(scale_y - ky) < 1e-9:
                # integer-factor fast path: pure block reduce
                wx0, wy0 = ox0 * kx, oy0 * ky
                sub = buf[wy0 - sy0 : wy0 - sy0 + oh * ky, wx0 - sx0 : wx0 - sx0 + ow * kx]
                blk = block_agg(sub, kx, ky, kname)
            else:
                blk = window_agg(buf, sx0, sy0, scale_x, scale_y, oh, ow, ox0, oy0, kname)
        blk = np.ascontiguousarray(blk.astype(np.dtype(og.dtype)))
        odtype = og.dtype
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
                    "dtype": odtype,
                    "nodata": og.nodata,
                    "data": blk.tobytes(),
                    "meta": og.meta_encoded,
                }
            ]
        )

    out_tiles = cand.groupBy("band", "otx", "oty").applyInPandas(assemble, schema=TILE_SCHEMA)
    return out_tiles, og
