#!/usr/bin/env python
"""Resumable flagship pipeline — the spark-submit entry point.

    spark-submit --py-files dist/gdal_boots_spark.zip scripts/pipeline.py \
        --sf-dir /root/testdata/sf0.1 --out /tmp/gbs_run --replicate 1

Stages (each checkpointed by plans.runner.StageRunner with per-file
lineage + row counts; reruns skip completed stages):
  1. interleave  — build/refresh the interleaved documents table
  2. pip_join    — cell-bucketed PIP join against the polygon dim
  3. cell_stats  — per-cell document counts (the rollup feeding salting)
  4. chunk       — token-window chunking of the documents table
  5. pack        — token-budget shard assignment over the chunks
"""

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--replicate", type=int, default=1)
    args = ap.parse_args()

    from gdal_boots_spark.functions.geometry_fns import cell_id_sql
    from gdal_boots_spark.operators.spatial_join import pip_join_docs
    from gdal_boots_spark.plans.runner import StageRunner
    from gdal_boots_spark.sources.synth import interleaved_docs, rect_polygons_df

    spark = SparkSession.builder.appName("gbs-pipeline").getOrCreate()
    runner = StageRunner(spark, args.out)
    fp = f"sf={args.sf_dir};rep={args.replicate};v1"

    docs = runner.run("interleave", lambda: interleaved_docs(spark, args.sf_dir, replicate=args.replicate), fp)
    joined = runner.run("pip_join", lambda: pip_join_docs(docs, rect_polygons_df(spark)), fp)
    runner.run(
        "cell_stats",
        lambda: joined.groupBy(F.expr(cell_id_sql("x", "y", 8)).alias("cell_id")).agg(
            F.count("*").alias("n_docs")
        ),
        fp,
    )

    # LLM-pipeline branch: chunk the raw documents table, pack chunks
    # into token-budget shards (operators/chunking.py, packing.py)
    from gdal_boots_spark.operators.chunking import chunk_documents
    from gdal_boots_spark.operators.packing import pack_shards

    raw_docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    chunks = runner.run("chunk", lambda: chunk_documents(raw_docs, chunk_tokens=64), fp)

    def _pack():
        keyed = chunks.select(
            F.concat_ws("#", F.col("doc_id").cast("string"), F.col("chunk_idx").cast("string")).alias("chunk_key"),
            "n_tokens",
        )
        out = pack_shards(keyed, budget=5000, key_col="chunk_key", tokens_col="n_tokens")
        return out

    runner.run("pack", _pack, fp)
    for e in runner.events:
        print(e)
    spark.stop()


if __name__ == "__main__":
    main()
