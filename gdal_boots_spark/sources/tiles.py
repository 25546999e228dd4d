"""Raster-as-a-table: tile schema, generators, and assembly helpers.

A raster (reference: RasterDataset, gdal.py:207-931 — a dense in-memory
(bands, y, x) array) becomes a **tile table** (FIXTURES.md §2): one row
per (band, tile_y, tile_x) with a binary C-order NumPy blob.  This is
the Raptor "raster-as-table" model (PAPERS.md, VLDB 2019): tiles are
the unit of partitioning, pruning (tile_x/tile_y min-max), and
shuffle-keyed aggregation.

``RasterGrid`` carries the raster-level georeferencing that the
reference keeps in GeoInfo (gdal.py:120-176): epsg + 6-coeff affine
transform, plus tiling geometry.  Every tile row is self-describing
(its own transform), so tile tables survive being written to Parquet
and re-read without side metadata.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TILE_SCHEMA = (
    "tile_key string, raster_id string, band int, tile_x int, tile_y int, "
    "epsg int, transform array<double>, width int, height int, "
    "dtype string, nodata double, data binary, meta map<string,string>"
)


@dataclass(frozen=True)
class RasterGrid:
    """Raster-level georeferencing + tiling geometry."""

    raster_id: str
    epsg: int
    transform: tuple  # (a,b,c,d,e,f) affine, pixel->world
    width: int  # full raster pixels
    height: int
    tile_w: int = 256
    tile_h: int = 256
    bands: int = 1
    dtype: str = "int32"
    nodata: float | None = None
    proj4: str | None = None  # custom CRS (gdal.py:124); epsg=0 when set
    meta: dict | None = None  # free-form metadata ('json:' codec, gdal.py:230-239)

    @property
    def meta_encoded(self) -> dict | None:
        if self.meta is None:
            return None
        from ..operators.raster_ops import meta_encode

        return meta_encode(self.meta)

    @property
    def crs(self):
        """EPSG int or proj4 string — whatever geom.crs accepts."""
        return self.proj4 if self.proj4 else self.epsg

    @property
    def n_tiles_x(self) -> int:
        return -(-self.width // self.tile_w)

    @property
    def n_tiles_y(self) -> int:
        return -(-self.height // self.tile_h)

    def tile_shape(self, tx: int, ty: int) -> tuple[int, int]:
        w = min(self.tile_w, self.width - tx * self.tile_w)
        h = min(self.tile_h, self.height - ty * self.tile_h)
        return h, w

    def tile_transform(self, tx: int, ty: int) -> tuple:
        a, b, c, d, e, f = self.transform
        px, py = tx * self.tile_w, ty * self.tile_h
        return (a, b, a * px + b * py + c, d, e, d * px + e * py + f)

    def tile_key(self, band: int, ty: int, tx: int) -> str:
        return f"{self.raster_id}/{band}/{ty}/{tx}"


# --- tile assignment: pixel interval -> touched tiles ---------------------
#
# The one place that maps a half-open pixel interval [p0, p1) on one axis
# of a grid to the tiles it touches: snap outward (floor p0, ceil p1),
# divide by the tile size, clamp to [0, n_tiles - 1].  An interval off the
# grid comes back as t0 > t1 (empty); one that snaps empty inside a tile
# still names that tile, whose render then finds nothing.  ``tile_range``
# (NumPy) and ``tile_range_sql`` (Spark SQL) compute the same integers.


def tile_range(p0, p1, tile: int, n_tiles: int):
    """Pixel interval(s) [p0, p1) -> inclusive int64 tile range(s) (t0, t1)."""
    t0 = np.maximum(np.floor(p0) // tile, 0)
    t1 = np.minimum((np.ceil(p1) - 1) // tile, n_tiles - 1)
    return np.asarray(t0, np.int64), np.asarray(t1, np.int64)


def tile_range_sql(p0: str, p1: str, tile: int, n_tiles: int) -> tuple[str, str]:
    """``tile_range`` over SQL fragments -> (t0, t1) INT expressions."""
    return (
        f"CAST(GREATEST(0, FLOOR(FLOOR({p0}) / {tile})) AS INT)",
        f"CAST(LEAST({n_tiles - 1}, FLOOR((CEIL({p1}) - 1) / {tile})) AS INT)",
    )


def tile_explode(px0, px1, py0, py1, grid: RasterGrid):
    """Per-row pixel boxes -> (row, tile_x, tile_y) int64 arrays, one
    entry per touched tile: rows in input order, tile_y-major within a
    row (the driver twin of ``explode_tiles``)."""
    tx0, tx1 = tile_range(px0, px1, grid.tile_w, grid.n_tiles_x)
    ty0, ty1 = tile_range(py0, py1, grid.tile_h, grid.n_tiles_y)
    nx, ny = np.maximum(tx1 - tx0 + 1, 0), np.maximum(ty1 - ty0 + 1, 0)
    cnt = nx * ny
    row = np.repeat(np.arange(cnt.size), cnt)
    k = np.arange(row.size) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return row, tx0[row] + k % nx[row], ty0[row] + k // nx[row]


def explode_tiles(df: DataFrame, keep, grid: RasterGrid, px0: str, px1: str, py0: str, py1: str,
                  names=("tile_x", "tile_y")) -> DataFrame:
    """One output row per tile of ``grid`` that the per-row pixel box
    [px0, px1) x [py0, py1) (SQL fragments over ``df``) touches: the
    ``keep`` columns, then the tile indices as ``names``.  Four selectExpr
    steps (explode cannot nest); the range guard runs before the explodes
    because ``sequence(1, 0)`` counts down instead of coming back empty."""
    nx, ny = names
    tx0, tx1 = tile_range_sql(px0, px1, grid.tile_w, grid.n_tiles_x)
    ty0, ty1 = tile_range_sql(py0, py1, grid.tile_h, grid.n_tiles_y)
    return (
        df.selectExpr(*keep, f"{tx0} AS _tx0", f"{tx1} AS _tx1", f"{ty0} AS _ty0", f"{ty1} AS _ty1")
        .where("_tx0 <= _tx1 AND _ty0 <= _ty1")
        .selectExpr(*keep, f"explode(sequence(_tx0, _tx1)) AS {nx}", "_ty0", "_ty1")
        .selectExpr(*keep, nx, f"explode(sequence(_ty0, _ty1)) AS {ny}")
    )


def generate_tiles(spark: SparkSession, grid: RasterGrid, fill) -> DataFrame:
    """Distributed tile generation: one task per tile, the `fill`
    callable produces the pixel block.

    fill(band, ty, tx, h, w, grid) -> np.ndarray (h, w) of grid.dtype.
    Runs inside mapInPandas (Arrow-batched); deterministic given its
    arguments, so regeneration is reproducible at any parallelism.
    """
    n = grid.n_tiles_x * grid.n_tiles_y * grid.bands
    # Range with an explicit numPartitions: the split is even by
    # construction (contiguous id blocks, uniform per-tile fill cost),
    # so the old repartition() EXCHANGE — a full shuffle of the ids and
    # an extra stage boundary on every generated raster — buys nothing.
    # Not AQE-coalescible either: only shuffle reads coalesce, and this
    # plan has none (r8, guide §2.4 "remove shuffles outright").
    ids = spark.range(0, n, 1, min(n, spark.sparkContext.defaultParallelism * 2))
    g = grid

    def make(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                band = int(i) // (g.n_tiles_x * g.n_tiles_y)
                rem = int(i) % (g.n_tiles_x * g.n_tiles_y)
                ty, tx = rem // g.n_tiles_x, rem % g.n_tiles_x
                h, w = g.tile_shape(tx, ty)
                arr = np.asarray(fill(band, ty, tx, h, w, g), dtype=np.dtype(g.dtype))
                rows.append(
                    {
                        "tile_key": g.tile_key(band, ty, tx),
                        "raster_id": g.raster_id,
                        "band": band,
                        "tile_x": tx,
                        "tile_y": ty,
                        "epsg": g.epsg,
                        "transform": list(g.tile_transform(tx, ty)),
                        "width": w,
                        "height": h,
                        "dtype": g.dtype,
                        "nodata": g.nodata,
                        "data": arr.tobytes(),
                        "meta": g.meta_encoded,
                    }
                )
            yield pd.DataFrame(rows)

    return ids.mapInPandas(make, schema=TILE_SCHEMA)


def ramp_fill(band, ty, tx, h, w, grid: RasterGrid):
    """Global ramp value = band_offset + row*W + col + 1 — the
    reference point-sampling golden pattern (test_raster.py:664-666,
    :671-677) and analytically SQL-replicable for the oracle."""
    r0, c0 = ty * grid.tile_h, tx * grid.tile_w
    rows = (np.arange(r0, r0 + h, dtype=np.int64) * grid.width)[:, None]
    cols = np.arange(c0, c0 + w, dtype=np.int64)[None, :]
    return rows + cols + 1 + band * grid.width * grid.height


def marked_fill(band, ty, tx, h, w, grid: RasterGrid):
    """Deterministic pseudo-random uint8 grid (seeded per tile) with a
    marked rectangle — mirrors the reference unit-test fixtures
    (test_raster.py:81-83)."""
    import zlib

    seed = zlib.crc32(f"{grid.raster_id}/{band}/{ty}/{tx}".encode())
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 255, size=(h, w))
    arr[h // 4 : h // 2, w // 4 : w // 2] = 255
    return arr


def tiles_to_array(tiles_df: DataFrame, grid: RasterGrid) -> np.ndarray:
    """Collect a tile table into a dense (bands, H, W) array — the
    test-side inverse (small rasters only); squeezes to 2-D for a
    single band like the reference shape rule (gdal.py:241-251)."""
    out = np.zeros((grid.bands, grid.height, grid.width), dtype=np.dtype(grid.dtype))
    if grid.nodata is not None:
        out[:] = grid.nodata
    for r in tiles_df.collect():
        arr = np.frombuffer(r["data"], dtype=np.dtype(r["dtype"])).reshape(r["height"], r["width"])
        y0, x0 = r["tile_y"] * grid.tile_h, r["tile_x"] * grid.tile_w
        out[r["band"], y0 : y0 + r["height"], x0 : x0 + r["width"]] = arr
    return out[0] if grid.bands == 1 else out


def array_to_tiles(spark: SparkSession, arr: np.ndarray, grid: RasterGrid) -> DataFrame:
    """Dense array -> tile table (test helper / small-raster ingestion)."""
    a = arr if arr.ndim == 3 else arr[None, :, :]

    def fill(band, ty, tx, h, w, g):
        r0, c0 = ty * g.tile_h, tx * g.tile_w
        return a[band, r0 : r0 + h, c0 : c0 + w]

    return generate_tiles(spark, grid, fill)


def png_to_tiles(spark: SparkSession, path: str, grid: RasterGrid) -> DataFrame:
    """Encoded-image ingestion (reference from_bytes/from_stream,
    gdal.py:546-575): binaryFile datasource -> pure-Python PNG decode ->
    tile rows on `grid` (one source image per file; grid describes its
    georeferencing and tiling).  Decode happens once per file inside an
    Arrow batch; tiles are cut locally — no shuffle."""
    from .png import decode_png

    g = grid
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def cut(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decode_png(bytes(r.content))
                if arr.ndim == 3:  # RGB -> one band per channel
                    planes = [np.ascontiguousarray(arr[:, :, b]) for b in range(arr.shape[2])]
                else:
                    planes = [arr]
                for band, plane in enumerate(planes):
                    for ty in range(g.n_tiles_y):
                        for tx in range(g.n_tiles_x):
                            h, w = g.tile_shape(tx, ty)
                            blk = np.ascontiguousarray(
                                plane[ty * g.tile_h : ty * g.tile_h + h, tx * g.tile_w : tx * g.tile_w + w]
                            )
                            rows.append(
                                {
                                    "tile_key": g.tile_key(band, ty, tx),
                                    "raster_id": g.raster_id,
                                    "band": band,
                                    "tile_x": tx,
                                    "tile_y": ty,
                                    "epsg": g.epsg,
                                    "transform": list(g.tile_transform(tx, ty)),
                                    "width": w,
                                    "height": h,
                                    "dtype": str(plane.dtype),
                                    "nodata": g.nodata,
                                    "data": blk.tobytes(),
                                    "meta": g.meta_encoded,
                                }
                            )
            if rows:
                yield pd.DataFrame(rows)

    return files.mapInPandas(cut, schema=TILE_SCHEMA)


def tiles_to_png(tiles: DataFrame, zlevel: int = 6) -> DataFrame:
    """Per-tile PNG export (reference to_bytes, gdal.py:577-607):
    -> (tile_key, png binary).  Encode UDF, Arrow-batched.

    Only uint8/uint16 band types are encodable — the reference's GDAL
    PNG driver refuses other types, so we raise instead of silently
    wrapping values with a lossy cast."""
    from .png import encode_png

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(r.height, r.width)
                if arr.dtype not in (np.uint8, np.uint16):
                    raise ValueError(
                        f"PNG export supports uint8/uint16 bands only, got {arr.dtype} "
                        f"(tile {r.tile_key}); cast explicitly with as_type first"
                    )
                out.append(encode_png(arr, zlevel=zlevel))
            yield pd.DataFrame({"tile_key": pdf["tile_key"], "png": out})

    return tiles.select("tile_key", "width", "height", "dtype", "data").mapInPandas(
        enc, schema="tile_key string, png binary"
    )
