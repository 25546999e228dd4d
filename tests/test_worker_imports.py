"""Python workers skip the per-task re-read of Spark's import archives
(gdal_boots_spark.worker_imports), and pyFiles still import."""

import importlib
import os
import pkgutil
import sys
import zipfile
import zipimport

import pyarrow as pa

import gdal_boots_spark
from gdal_boots_spark.functions.geometry_fns import decode_geojson


def _decode_points(spark, n=40, parts=4):
    """Run the engine's decode UDF so the workers import the package."""
    rows = [(i, '{"type":"Point","coordinates":[%d.125,%d.375]}' % (i % 90, i % 45)) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, g string").repartition(parts)
    assert decode_geojson(df, "g", ["id"]).count() == n


def test_workers_skip_rereading_spark_archives(spark):
    _decode_points(spark)

    def probe(batches):
        import importlib
        import zipimport

        import gdal_boots_spark  # noqa: F401  (what every engine UDF imports)
        from pyspark import SparkFiles

        pyfiles_root = os.path.join(os.path.abspath(SparkFiles.getRootDirectory()), "")
        seen = []
        read_directory = zipimport._read_directory

        def spy(archive):
            seen.append(archive)
            return read_directory(archive)

        zipimport._read_directory = spy
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        reread = [a for a in seen if not os.path.abspath(a).startswith(pyfiles_root)]
        yield pa.RecordBatch.from_pydict({"archive": reread}, pa.schema([("archive", pa.string())]))

    reread = [r.archive for r in spark.range(0, 8, 1, 4).mapInArrow(probe, "archive string").collect()]
    assert reread == []

    # the driver is not a worker: its zipimport stays the stdlib's
    for m in pkgutil.walk_packages(gdal_boots_spark.__path__, "gdal_boots_spark."):
        importlib.import_module(m.name)
    stdlib = zipimport.zipimporter.invalidate_caches
    assert (stdlib.__module__, stdlib.__qualname__) == ("zipimport", "zipimporter.invalidate_caches")
    assert gdal_boots_spark.worker_imports.frozen == frozenset()


def test_pyfiles_import_after_workers_hold_the_guard(spark, tmp_path):
    _decode_points(spark)
    archive = tmp_path / "gbs_pyfile_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("gbs_pyfile_probe.py", "VALUE = 42\n")
    sys_path = list(sys.path)
    spark.sparkContext.addPyFile(str(archive))
    try:

        def probe(batches):
            import importlib

            from gdal_boots_spark import worker_imports
            from pyspark import SparkFiles

            value = importlib.import_module("gbs_pyfile_probe").VALUE
            added = os.path.join(SparkFiles.getRootDirectory(), "gbs_pyfile_probe.zip")
            for _ in batches:
                pass
            yield pa.RecordBatch.from_pydict(
                {"value": [value], "guarded": [bool(worker_imports.frozen)], "frozen": [added in worker_imports.frozen]}
            )

        rows = spark.range(0, 8, 1, 4).mapInArrow(probe, "value long, guarded boolean, frozen boolean").collect()
    finally:
        sys.path[:] = sys_path
        sys.modules.pop("gbs_pyfile_probe", None)
    assert [(r.value, r.guarded, r.frozen) for r in rows] == [(42, True, False)] * 4
