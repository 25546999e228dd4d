#!/usr/bin/env python
"""Noop-sink isolation benchmarks (guide §1.4) — NOT part of the frozen
bench.py contract.  Isolates the stages of the xl flagships so r8
optimization work targets the real cost, not the sink:

  pt_full     pip_join_docs(docs, polys)            (xl Point path)
  poly_decode the decode_geojson mapInArrow alone    (poly xl stage 1)
  poly_cand   poly_span_candidates (decode+cover+join+dedup)
  poly_full   pip_join_docs_any(pdocs, polys)        (whole poly path)

Every variant is timed with df.write.format('noop') so every column of
every row is computed and discarded; reps are interleaved with a
same-run cpu control (the CLAUDE.md A/B protocol); caches cleared
between reps.  Prints one JSON line."""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = int(os.environ.get("SPARK_GRAFT_EXTRA_RUNS", "3"))


def main():
    from pyspark.sql import functions as F

    from gdal_boots_spark.functions.geometry_fns import decode_geojson
    from gdal_boots_spark.operators.spatial_join import (
        pip_join_docs,
        pip_join_docs_any,
        poly_span_candidates,
    )
    from gdal_boots_spark.operators.spans import extract_geo_spans
    from gdal_boots_spark.session import get_spark
    from gdal_boots_spark.sources.synth import rect_polygons_df

    spark = get_spark("gbs-bench-extra", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("WARN")

    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "4000"))
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")
    cache = os.path.join(base, f"docs_{os.path.basename(SF_DIR.rstrip('/'))}_x{replicate}.parquet")
    pcache = cache.replace(".parquet", "_poly.parquet")
    if not (os.path.exists(cache) and os.path.exists(pcache)):
        print(json.dumps({"error": "run bench.py once to materialize .bench_cache"}))
        return
    docs = spark.read.parquet(cache)
    pdocs = spark.read.parquet(pcache)
    docs.count(); pdocs.count()
    polys = rect_polygons_df(spark)

    def poly_decode():
        return decode_geojson(extract_geo_spans(pdocs), "text", ["doc_id", "span_pos"], blank_rect=True)

    def poly_scan():
        return extract_geo_spans(pdocs).select("doc_id", "span_pos", "text")

    variants = {
        "pt_full": lambda: pip_join_docs(docs, polys),
        "poly_scan": poly_scan,
        "poly_decode": poly_decode,
        "poly_cand": lambda: poly_span_candidates(pdocs, polys),
        "poly_full": lambda: pip_join_docs_any(pdocs, polys),
    }
    ctl = spark.range(40_000_000).select(F.md5(F.col("id").cast("string")).alias("h"))
    ctl.where(F.col("h") > "f").count()  # warm

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    for name, build in variants.items():  # warm plans + workers once
        spark.sparkContext.setJobDescription(f"warm:{name}")
        noop(build())
        spark.catalog.clearCache()

    res: dict[str, list] = {k: [] for k in list(variants) + ["cpu_control"]}
    for _ in range(REPS):
        t0 = time.perf_counter()
        ctl.where(F.col("h") > "f").count()
        res["cpu_control"].append(round(time.perf_counter() - t0, 4))
        for name, build in variants.items():
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            noop(build())
            res[name].append(round(time.perf_counter() - t0, 4))
            spark.catalog.clearCache()
    out = {
        "best": {k: min(v) for k, v in res.items()},
        "reps": res,
        "load1": float(open("/proc/loadavg").read().split()[0]),
        "sf": SF_DIR,
        "replicate": replicate,
        "cpus": int(CPUS),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
