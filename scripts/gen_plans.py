#!/usr/bin/env python
"""Regenerate PLANS.md: captured physical plans of the key operators,
annotated with what to look for (pushdown, broadcast, codegen spans)."""

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def cap(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from gdal_boots_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sections = []

    df = e.q_pip_join(spark, "/root/testdata/sf0.001")
    sections.append((
        "Flagship: cell-bucketed PIP join over interleaved docs",
        "Zero shuffles on the fact side: parquet scan -> codegen explode/"
        "filter/string-decode/cell math -> BroadcastHashJoin on cell_id. "
        "With an all-rectangle dim (r8) the refinement is the half-open "
        "box test FUSED into the join condition — no Python eval node at "
        "all; non-rect dims add one ArrowEvalPython, the boolean Arrow-UDF "
        "refine (where_intersects).",
        cap(df),
    ))

    from gdal_boots_spark.operators.sampling import values_by_points
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid("pl", 4326, (0.25, 0.0, 0.0, 0.0, -0.25, 7.5), 50, 30, 16, 16, 1, "int32")
    tiles = generate_tiles(spark, grid, ramp_fill)
    pts = spark.range(100).select(F.col("id").alias("point_id"), (F.col("id") % 50 / 4.0).alias("x"), (F.col("id") % 30 / 4.0).alias("y"))
    sections.append((
        "Point sampling (values_by_points)",
        "Codegen inverse-affine pixel math on the point side; plan-time-"
        "small rasters (r8) broadcast as a dense array + present-tile mask "
        "and sample through ONE ArrowEvalPython — zero shuffles; large "
        "rasters keep the cogroup join (each tile blob crosses once, "
        "NULL via the left-outer cogroup).",
        cap(values_by_points(pts, tiles, grid)),
    ))

    import tempfile
    from gdal_boots_spark.operators.warp import fast_warp

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "tiles.parquet")
        g2 = RasterGrid("pr", 4326, (0.01, 0.0, 26.0, 0.0, -0.01, 55.0), 512, 512, 64, 64, 1, "int32")
        generate_tiles(spark, g2, ramp_fill).write.parquet(p)
        persisted = spark.read.parquet(p)
        out, _ = fast_warp(persisted, g2, (26.5, 54.5, 27.0, 54.9))
        sections.append((
            "fast_warp window slice over a persisted tile table",
            "The tile-range prune reaches the parquet scan as PushedFilters "
            "(min/max on tile_x/tile_y) — file/row-group pruning at scale.",
            cap(out),
        ))

    from gdal_boots_spark.operators.cover import contribs_distributed
    from gdal_boots_spark.sources.synth import rect_polygons_df

    g3 = RasterGrid("pc", 4326, (0.01, 0.0, 26.0, 0.0, -0.01, 55.0), 300, 200, 64, 64, 1, "uint8")
    sections.append((
        "Distributed polygon cover (rasterize/zonal scale path)",
        "No driver collect: one decode_geojson MapInArrow (packed geometry "
        "plus envelope), then inverse-affine corners and the one tile-range "
        "explode (sources/tiles.py) as SQL strings in codegen — "
        "ready to shuffle on (tile_x, tile_y) with the packed coords riding "
        "the rows.",
        cap(contribs_distributed(rect_polygons_df(spark), g3)),
    ))

    from gdal_boots_spark.operators.bbox_join import bbox_overlap_join

    l = spark.range(100).select(
        F.col("id").alias("lid"), (26.0 + F.col("id") / 50.0).alias("lminx"), F.lit(53.0).alias("lminy"),
        (26.1 + F.col("id") / 50.0).alias("lmaxx"), F.lit(53.1).alias("lmaxy"),
    )
    r = spark.range(100).select(
        F.col("id").alias("rid"), (26.05 + F.col("id") / 50.0).alias("rminx"), F.lit(53.05).alias("rminy"),
        (26.15 + F.col("id") / 50.0).alias("rmaxx"), F.lit(53.15).alias("rmaxy"),
    )
    sections.append((
        "BBox-overlap range join (dedup-free)",
        "Native sequence-explode cell cover on BOTH sides, one hash join on "
        "cell_id, exact interval predicate + reporting-cell filter — note "
        "there is NO distinct/dedup Exchange anywhere in the plan.",
        cap(bbox_overlap_join(l, r, res=10)),
    ))

    from gdal_boots_spark.operators.ann import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sections.append((
        "IVF similarity search (scale path)",
        "Map-side centroid assignment (MapInArrow ivf_assign) emits "
        "IDS-ONLY (id, cell) rows (one matmul per Arrow batch), ONE "
        "equi-join on the int cell key, base vectors re-attached once via "
        "an equi-join on bid with query vectors broadcast, the shared "
        "MapInArrow pair_cosine scorer, then only narrow (qid, bid, cos) "
        "rows reach the window top-k — no dedup exchange (a pair can "
        "appear at most once) and no `_vec` in the cell exchange.",
        cap(ivf_topk(emb.where(F.col("vec_id") % 50 == 0), emb, k=5, n_cells=16, n_probe=8)),
    ))

    from gdal_boots_spark.operators.ann import ann_lsh_topk

    sections.append((
        "Sign-LSH similarity search (ids-only bucket join)",
        "The shared MapInArrow lsh_bucketize maps emit NARROW (id, table, "
        "bucket) rows — no `_vec` attribute appears in the bucket-join "
        "exchanges or the (qid, bid) dedup; base vectors re-attach via ONE "
        "equi-join on bid and query vectors broadcast (pair_cosine), so "
        "embedding payloads cross the wire exactly once instead of riding "
        "the bucket shuffle x n_tables.",
        cap(ann_lsh_topk(emb.where(F.col("vec_id") % 50 == 0), emb, k=5, bits=4, n_tables=8)),
    ))

    from gdal_boots_spark.operators.decontam import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sections.append((
        "Benchmark decontamination (broadcast reference-set semi-count)",
        "The benchmark side collapses to a distinct-gram dimension "
        "(Exchange only on the tiny gram set) and broadcasts; the fact "
        "side is Scan -> codegen shingle Generate -> BroadcastHashJoin — "
        "ZERO fact-side shuffle to find hits.  Only matching (doc, gram) "
        "rows reach the groupBy(doc) count; the final left join rides on "
        "the narrow (doc_id) projection.",
        cap(decontaminate(docs, docs.where(F.col("doc_id") % 37 == 0), n=3)),
    ))

    from gdal_boots_spark.operators.sessionize import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sections.append((
        "Gap-based sessionization (single-exchange double window)",
        "Both window passes (lag new-session flag + running counter) "
        "share the identical (user_id, ts, event_id) window spec, so "
        "the plan carries exactly ONE Exchange hashpartitioning(user_id) "
        "and one sort under two stacked Window operators — no second "
        "shuffle, no Python.",
        cap(sessionize(ev, "30 minutes").select("event_id", "user_id", "session_idx")),
    ))

    from gdal_boots_spark.operators.spatial_join import pip_join_docs_any
    from gdal_boots_spark.sources.synth import interleaved_docs as _idocs

    sections.append((
        "Mixed-geometry flagship (one span pass)",
        "One scan of the span table, and on the broadcast side of the gate "
        "ONE Python node: every geo span, Points included, goes through one "
        "mapInArrow (intersecting_pairs) that decodes each Arrow batch, looks "
        "the spans up in the dim's sorted cell cover (a Broadcast variable: "
        "each span at its own level, bbox overlap, reporting-cell dedup) and "
        "refines the candidates in the same worker; only (doc_id, span_pos, "
        "poly_id) returns.  No BroadcastExchange, no JVM join, no "
        "ArrowEvalPython, no InMemoryRelation.",
        cap(pip_join_docs_any(_idocs(spark, "/root/testdata/sf0.001", poly_spans=True), rect_polygons_df(spark))),
    ))

    from gdal_boots_spark.operators import cover

    notes = {
        "broadcast": "The base side is collected once per session, sorted by cell id and "
        "broadcast (memoised): the query side is ONE MapInArrow (_knn_block) that ranks "
        "each Arrow batch's radius-1 cell blocks in NumPy and grows only the unfinished "
        "queries' blocks.  No Exchange, no join, no Window.",
        "distributed": "For a base over the broadcast gate: the radius-r0 block explode, "
        "an equi-join on cell_id and a qid Window for the capped top-k, the per-row "
        "annulus of the unfinished queries through a second join, and one more Window "
        "over the union.",
    }
    default = cover.BROADCAST_MAX_BYTES
    for side, ceiling in (("broadcast", 1 << 62), ("distributed", -1)):
        cover.BROADCAST_MAX_BYTES = ceiling
        sections.append((f"kNN join, {side} side of the gate", notes[side], cap(e.q_knn(spark, e.SF0001))))
    cover.BROADCAST_MAX_BYTES = default

    with open("PLANS.md", "w") as f:
        f.write("# PLANS — captured physical plans of the key operators\n\n")
        f.write("Regenerate with `python scripts/gen_plans.py`.\n")
        for title, note, plan in sections:
            f.write(f"\n## {title}\n\n{note}\n\n```\n{plan}\n```\n")
    print("PLANS.md written")


if __name__ == "__main__":
    main()
