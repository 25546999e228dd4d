"""Vector -> raster burn as a distributed tile render.

Reference: ``Layer.rasterize`` (gdal.py:1092-1107) burns features into
an existing raster via gdal.RasterizeLayer (default burn value 1,
ALL_TOUCHED toggle).  Engine shape (SURVEY §2.7):

    polys (dimension) ── (tile, poly) contribution rows ──┐
       broadcast path: cover.poly_dim + tile_contribs     │
       distributed path: operators.cover (no collect)     │
                                                          │
    repartition(tile) ── mapInPandas ─────────────────────┘
         scanline fill of every contributing polygon on the tile's
         pixel-center lattice (geom.raster_kernels)

Only tiles with at least one burned pixel are emitted in sparse mode
(at 100 TB most of the world is empty); ``dense=True`` additionally
emits zero tiles so the result is a complete mask raster.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geom.raster_kernels import rasterize_mask
from ..partitioning import plan_bytes
from ..sources.tiles import TILE_SCHEMA, RasterGrid
from .cover import contribs_distributed, fits_broadcast, geom_arrays, poly_dim, tile_contribs


def rasterize(
    spark: SparkSession,
    polys: DataFrame,
    grid: RasterGrid,
    all_touched: bool = False,
    burn: int = 1,
    dense: bool = False,
) -> DataFrame:
    """polys(poly_id, geojson) -> uint8 mask tile table on `grid`.

    Deterministic under parallelism: within a tile, polygons burn in
    poly_id order (they all burn the same value by default, but custom
    per-poly burn values stay reproducible).

    A polygon table over the broadcast gate (cover.fits_broadcast of
    its zero-job plan size) takes the no-collect cover explode
    (operators.cover); output is identical (pytest-asserted).
    """
    from dataclasses import replace

    mask_grid = replace(
        grid, raster_id=grid.raster_id + "_mask", bands=1, dtype="uint8", nodata=None
    )
    g = mask_grid
    at, bv, dn = all_touched, burn, dense
    ntx = g.n_tiles_x
    # dense mode is ONE render pass: every tile is a render unit (a
    # zero-contribution sentinel row per tile on the distributed side),
    # and the render emits it even when nothing burned.  The old shape
    # (burn touched tiles, then zeros.join(broadcast(burned.select(
    # tile_key)), "left_anti") + union) consumed `burned` TWICE — Spark
    # does not reuse an uncached subtree across consumers, so the whole
    # render ran twice plus a zeros generate stage and an anti-join
    # (measured ~2x the single-pass execution on the board burn).
    n_tiles_total = g.n_tiles_x * g.n_tiles_y

    # NOT groupBy().applyInPandas(): contribution rows are a few bytes
    # but each group is heavy CPU (a full scanline render), so AQE's
    # byte-based partition coalescing would collapse the render stage
    # onto one task.  Both sides hand the render an explicit partition
    # count (a repartition-by-number or a Range), which AQE leaves alone.
    if not fits_broadcast(plan_bytes(polys)):
        contribs = contribs_distributed(polys, grid).selectExpr(
            f"CAST(tile_y AS BIGINT) * {ntx} + tile_x AS tile_index", "poly_id", "geom"
        )
        if dense:
            # r8 (ADVICE): the sentinel geom is a NON-NULL empty struct
            # — Spark's Arrow writer serializes NULL struct rows
            # pathologically slowly (~14us/row, the CLAUDE.md gotcha);
            # the render keeps keying the skip on poly_id IS NULL.
            empty_geom = F.struct(
                F.lit(0).cast("tinyint").alias("gtype"),
                F.array().cast("array<double>").alias("coords"),
                F.array().cast("array<int>").alias("ring_offsets"),
                F.array().cast("array<int>").alias("part_offsets"),
                F.array().cast("array<tinyint>").alias("part_types"),
                F.array().cast("array<int>").alias("child_offsets"),
            )
            contribs = contribs.unionByName(
                # 2 input tasks, not defaultParallelism: these are a few
                # bytes per tile and only feed the tile_index exchange
                spark.range(0, n_tiles_total, 1, 2).select(
                    F.col("id").alias("tile_index"),
                    F.lit(None).cast("long").alias("poly_id"),
                    empty_geom.alias("geom"),
                )
            )
        n_parts = max(spark.sparkContext.defaultParallelism * 2, 2)
        source = contribs.repartition(n_parts, "tile_index")

        def tile_geoms(batches):
            import pandas as pd

            pdfs = list(batches)
            if not pdfs:
                return
            cache: dict = {}  # decode each polygon once per partition (zonal's pattern, commit 3874102)
            for ti, grp in pd.concat(pdfs, ignore_index=True).groupby("tile_index"):
                grp = grp.sort_values("poly_id")
                geoms = []
                for pid, gg in zip(grp["poly_id"].to_numpy(), grp["geom"]):
                    if pd.isna(pid):
                        continue  # dense sentinel row
                    if int(pid) not in cache:
                        cache[int(pid)] = geom_arrays(gg)
                    geoms.append(cache[int(pid)])
                yield int(ti), geoms
    else:
        # r8 (guide §2.4): the contribution rows are DRIVER-resident
        # (tile_contribs derives them from the collected dim), so they
        # ride the render closure as a {tile_index: [poly_id]} dict and
        # the coords ride the dim's one broadcast, instead of a
        # createDataFrame -> union(zeros) -> repartition chain.  The
        # render source collapses to ONE Range with explicit partitions:
        # zero exchanges, no ExistingRDD parallelize, two fewer stage
        # boundaries per build (plan: Range -> MapInPandas; before:
        # Scan ExistingRDD + Range -> Union -> Exchange -> MapInPandas).
        dim = poly_dim(polys)
        tx, ty, pids = tile_contribs(dim, grid)
        by_tile: dict[int, list[int]] = {}
        for ti, pid in zip((ty * ntx + tx).tolist(), pids.tolist()):
            by_tile.setdefault(ti, []).append(pid)
        # dense: render every tile (ids ARE tile indices); sparse: only
        # touched tiles, via an id -> tile_index table
        units = None if dense else sorted(by_tile)
        n_units = n_tiles_total if dense else len(units)
        n_parts = max(min(spark.sparkContext.defaultParallelism * 2, n_units), 2)
        source = spark.range(0, n_units, 1, n_parts)
        bpacked = dim.bpacked

        def tile_geoms(batches):
            packed = bpacked.value
            for pdf in batches:
                for u in pdf["id"]:
                    ti = int(u) if units is None else units[int(u)]
                    yield ti, [packed[pid] for pid in sorted(by_tile.get(ti, ()))]

    def render_partition(batches):
        """Burn each tile's polygons (poly_id order, so the within-tile
        burn order is deterministic) and emit the tiles that are dense or
        have a pixel set."""
        import pandas as pd

        rows = []
        for ti, geoms in tile_geoms(batches):
            ty, tx = divmod(ti, ntx)
            h, w = g.tile_shape(tx, ty)
            t = g.tile_transform(tx, ty)
            out = np.zeros((h, w), dtype=np.uint8)
            for coords, ro in geoms:
                rasterize_mask(coords, ro, t, h, w, all_touched=at, out=out, burn=bv)
            if dn or out.any():
                rows.append({
                    "tile_key": g.tile_key(0, ty, tx), "raster_id": g.raster_id, "band": 0,
                    "tile_x": tx, "tile_y": ty, "epsg": g.epsg, "transform": list(t),
                    "width": w, "height": h, "dtype": "uint8", "nodata": None,
                    "data": out.tobytes(), "meta": g.meta_encoded,
                })
        if rows:
            yield pd.DataFrame(rows)

    return source.mapInPandas(render_partition, schema=TILE_SCHEMA)
