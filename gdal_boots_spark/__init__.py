"""gdal_boots_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch, Spark-first re-expression of the semantics of
habibutsu/gdal-boots (reference: /root/reference, read-only): raster
warp/resample/mosaic, vector rasterize, raster polygonize,
crop-by-geometry, point-value sampling, CRS transform, GeoJSON codec,
geometry repair — plus the engine-only operators the north rule
demands: hierarchical cell index (H3/S2-style), cell-bucketed
point-in-polygon joins, grid-pruned kNN, skew salting, and a
checkpoint/resume stage runner with per-partition lineage metrics.

Design rules (see SURVEY.md):
  * DataFrame / Spark SQL everywhere; no RDDs.
  * All geometry/raster kernels are pure NumPy inside Arrow-batched
    pandas UDFs (``pandas_udf`` / ``applyInPandas`` / ``mapInPandas``)
    — never per-row Python.
  * Geometry travels as packed coordinate arrays
    (struct<gtype,coords,ring_offsets,part_offsets>), rasters as tile
    tables with binary pixel blobs; nothing crosses the JVM/Python
    boundary as Python objects.
"""

__version__ = "0.1.0"

from gdal_boots_spark.worker_imports import freeze_spark_archives

freeze_spark_archives()


def engine_versions() -> dict:
    """Environment probe (reference utils.py:1-32 get_geos/gdal_version):
    the engine's backend versions for skip/compat logic."""
    import numpy
    import pyarrow
    import pyspark

    return {
        "gdal_boots_spark": __version__,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }
