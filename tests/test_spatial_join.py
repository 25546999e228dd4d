"""M1 integration: interleaved docs -> cell-bucketed PIP join, vs oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import GATE_SIDES, SF_ORACLE, SF_SMOKE, compare_to_oracle

from gdal_boots_spark.operators.cover import poly_dim
from gdal_boots_spark.operators.spans import span_signature
from gdal_boots_spark.operators.spatial_join import pip_join_points
from gdal_boots_spark.sources.synth import interleaved_docs, rect_polygons_df


def test_interleaved_docs_schema(spark):
    docs = interleaved_docs(spark, SF_SMOKE)
    assert [f.name for f in docs.schema.fields] == ["doc_id", "spans"]
    el = docs.schema["spans"].dataType.elementType
    assert [f.name for f in el.fields] == ["kind", "text", "media_ref", "offset"]
    row = docs.where(F.col("doc_id") == "0").collect()[0]
    kinds = [s["kind"] for s in row["spans"]]
    assert kinds == ["text", "geo", "text"]  # doc 0: geo (0%10=0), no media
    offs = [s["offset"] for s in row["spans"]]
    assert offs == sorted(offs)


def test_span_signature_stable_under_roundtrip(spark):
    """Span-sequence invariant (input_hint): rebuilding the table gives
    identical per-doc signatures; signatures are order-sensitive."""
    d1 = span_signature(interleaved_docs(spark, SF_SMOKE)).select("doc_id", "span_sig")
    d2 = span_signature(interleaved_docs(spark, SF_SMOKE)).select(
        "doc_id", F.col("span_sig").alias("sig2")
    )
    bad = d1.join(d2, "doc_id").where(F.col("span_sig") != F.col("sig2")).count()
    assert bad == 0
    rev = interleaved_docs(spark, SF_SMOKE).select("doc_id", F.reverse("spans").alias("spans"))
    sig_rev = span_signature(rev).select("doc_id", F.col("span_sig").alias("sigr"))
    changed = d1.join(sig_rev, "doc_id").where(F.col("span_sig") != F.col("sigr")).count()
    assert changed > 0


def test_pip_join_points_bruteforce(spark):
    """Engine PIP join == brute-force NumPy on random points."""
    rng = np.random.default_rng(7)
    xs = rng.uniform(25.5, 29.5, 2000)
    ys = rng.uniform(52.5, 55.5, 2000)
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "point_id long, x double, y double",
    )
    polys = rect_polygons_df(spark)
    got = {
        (r["point_id"], r["poly_id"])
        for r in pip_join_points(pts, polys).select("point_id", "poly_id").collect()
    }
    from gdal_boots_spark.sources.synth import RECTS

    exp = {
        (i, pid)
        for i, (x, y) in enumerate(zip(xs, ys))
        for pid, minx, miny, maxx, maxy in RECTS
        if minx <= x < maxx and miny <= y < maxy
    }
    assert got == exp


@pytest.mark.parametrize("name", ["pip_join", "cell_assign", "geo_extract", "span_counts"])
def test_queries_vs_oracle_sf001(spark, name):
    df = entrymod.all_queries()[name](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()[name], SF_ORACLE, float_cols=("x", "y"))


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_point_sampling_vs_oracle(spark):
    df = entrymod.all_queries()["point_sampling"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["point_sampling"], SF_ORACLE)


def test_rasterize_hist_vs_oracle(spark):
    df = entrymod.all_queries()["rasterize_hist"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["rasterize_hist"], SF_ORACLE)


def test_resample_avg_vs_oracle(spark):
    df = entrymod.all_queries()["resample_avg"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["resample_avg"], SF_ORACLE, float_cols=("value",))


def test_knn_vs_oracle(spark):
    df = entrymod.all_queries()["knn"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["knn"], SF_ORACLE)


@pytest.mark.parametrize(
    "name",
    ["exact_dedup", "minhash_pairs", "simhash", "ngram_jaccard", "ann_cosine",
     "text_quality", "lang_id", "fingerprint"],
)
def test_pipeline_queries_vs_oracle(spark, name):
    df = entrymod.all_queries()[name](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()[name], SF_ORACLE,
                      float_cols=("jaccard", "punct_ratio", "stopword_ratio", "quality"), atol=1e-12)


def test_polygonize_vs_oracle(spark):
    df = entrymod.all_queries()["polygonize"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["polygonize"], SF_ORACLE)


@pytest.mark.parametrize("name", ["geom_bounds", "crs_3857"])
def test_udf_pipeline_vs_oracle(spark, name):
    q = entrymod.all_queries()[name]
    osql = entrymod.all_oracle_sql()[name]
    df = q(spark, SF_ORACLE)
    compare_to_oracle(df, osql, SF_ORACLE,
                      float_cols=("mx", "my", "bminx", "bminy", "bmaxx", "bmaxy"), atol=1e-9)


@pytest.mark.parametrize("name", ["crop_hist", "mosaic", "reproject", "salted_join"])
def test_warp_family_vs_oracle(spark, name):
    df = entrymod.all_queries()[name](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()[name], SF_ORACLE)


def test_pip_join_shuffle_path_equals_broadcast(spark):
    """Big-side shuffle path (salted hot cells) == broadcast path."""
    import numpy as np

    from gdal_boots_spark.operators.spatial_join import (
        pip_join_points,
        pip_join_points_shuffle,
    )

    rng = np.random.default_rng(13)
    # hot region: 80% of points in one small square (one hot cell)
    hot = rng.uniform(27.0, 27.1, (4000, 2))
    cold = np.column_stack([rng.uniform(26, 29, 1000), rng.uniform(53, 55, 1000)])
    xs = np.concatenate([hot[:, 0], cold[:, 0]])
    ys = np.concatenate([27.05 + 0 * hot[:, 1] + (hot[:, 1] - 27.05) * 0 + rng.uniform(53.9, 54.0, 4000), cold[:, 1]])
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "point_id long, x double, y double",
    )
    polys = rect_polygons_df(spark)
    a = {(r["point_id"], r["poly_id"]) for r in pip_join_points(pts, polys).select("point_id", "poly_id").collect()}
    b = {
        (r["point_id"], r["poly_id"])
        for r in pip_join_points_shuffle(pts, polys, salt=4, hot_threshold=500)
        .select("point_id", "poly_id")
        .collect()
    }
    assert a == b and len(a) > 0


def test_bbox_join_vs_oracle(spark):
    df = entrymod.all_queries()["bbox_join"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["bbox_join"], SF_ORACLE)


def test_bbox_join_no_duplicates_multi_cell(spark):
    """A pair whose overlap spans many cells is still reported once."""
    from gdal_boots_spark.operators.bbox_join import bbox_overlap_join

    left = spark.createDataFrame([(1, 26.0, 53.0, 28.5, 54.5)], "lid long, lminx double, lminy double, lmaxx double, lmaxy double")
    right = spark.createDataFrame([(7, 26.5, 53.2, 28.0, 54.4), (8, 40.0, 10.0, 41.0, 11.0)], "rid long, rminx double, rminy double, rmaxx double, rmaxy double")
    rows = bbox_overlap_join(left, right, res=10).select("lid", "rid").collect()
    assert [(r["lid"], r["rid"]) for r in rows] == [(1, 7)]


def test_bbox_join_auto_res_identical(spark):
    """res=None (data-driven auto_res) returns the exact same pair set
    as any fixed resolution; the picked res is sane and scales with the
    rect size (smaller rects -> finer cells)."""
    from gdal_boots_spark.operators.bbox_join import auto_res, bbox_overlap_join

    import numpy as np

    rng = np.random.default_rng(11)
    def mk(n, size, prefix, ident):
        xs = rng.uniform(20, 30, n); ys = rng.uniform(50, 58, n)
        return spark.createDataFrame(
            [(int(i), float(x), float(y), float(x + size), float(y + size)) for i, (x, y) in enumerate(zip(xs, ys))],
            f"{ident} long, {prefix}minx double, {prefix}miny double, {prefix}maxx double, {prefix}maxy double",
        )

    left = mk(300, 0.04, "l", "lid")
    right = mk(200, 0.05, "r", "rid")
    fixed = {(r["lid"], r["rid"]) for r in bbox_overlap_join(left, right, res=9).select("lid", "rid").collect()}
    auto = {(r["lid"], r["rid"]) for r in bbox_overlap_join(left, right, res=None).select("lid", "rid").collect()}
    assert fixed == auto and len(auto) > 0
    r_small = auto_res(mk(100, 0.01, "l", "lid"), mk(100, 0.01, "r", "rid"))
    r_big = auto_res(mk(100, 1.0, "l", "lid"), mk(100, 1.0, "r", "rid"))
    assert 4 <= r_big < r_small <= 18
    # the bench rect shape (0.04/0.05-deg rects) pins to res 12 — the
    # measured -40% trade bottom (62.4M join rows at res 10 -> 19.0M,
    # BENCH/BASELINE.md bbox decomposition)
    assert auto_res(left, right) == 12


def test_bbox_join_adaptive_heterogeneous(spark):
    """bbox_overlap_join_adaptive == brute-force cross join == the
    single-res join, on rects spanning 3 orders of magnitude — AND its
    cover volume (the shared cell-grid explode at each rect's own level
    and every coarser one in the window) is bounded per rect
    (<= 4*(hi-lo+1)) where the single-res cover of the big rects
    explodes."""
    import numpy as np

    from gdal_boots_spark.geom import cells
    from gdal_boots_spark.operators.bbox_join import (
        auto_levels,
        bbox_overlap_join,
        bbox_overlap_join_adaptive,
    )

    rng = np.random.default_rng(23)

    def mk(n, prefix, ident, seed_sizes):
        xs = rng.uniform(20, 30, n)
        ys = rng.uniform(50, 58, n)
        sizes = seed_sizes[rng.integers(0, len(seed_sizes), n)]
        return spark.createDataFrame(
            [
                (int(i), float(x), float(y), float(x + s), float(y + s * 0.7))
                for i, (x, y, s) in enumerate(zip(xs, ys, sizes))
            ],
            f"{ident} long, {prefix}minx double, {prefix}miny double, "
            f"{prefix}maxx double, {prefix}maxy double",
        )

    # 85% small / 10% medium / 5% huge — the heterogeneous web corpus
    sizes = np.array([0.02] * 17 + [0.4] * 2 + [4.0])
    left = mk(250, "l", "lid", sizes)
    right = mk(150, "r", "rid", sizes)

    rows = left.crossJoin(right).where(
        "lminx <= rmaxx and rminx <= lmaxx and lminy <= rmaxy and rminy <= lmaxy"
    )
    brute = {(r["lid"], r["rid"]) for r in rows.select("lid", "rid").collect()}
    adaptive = {
        (r["lid"], r["rid"])
        for r in bbox_overlap_join_adaptive(left, right).select("lid", "rid").collect()
    }
    single = {
        (r["lid"], r["rid"])
        for r in bbox_overlap_join(left, right, res=None).select("lid", "rid").collect()
    }
    assert adaptive == brute == single and len(brute) > 0
    # exactly-once: collect() above would hide dupes in a set — count them
    n_adaptive = bbox_overlap_join_adaptive(left, right).count()
    assert n_adaptive == len(brute)
    # per-rect cover bound vs the single-res explode of the huge rects
    lo, hi = auto_levels(left, right)
    assert hi > lo  # heterogeneous sizes must open a window
    box = ("lminx", "lminy", "lmaxx", "lmaxy")

    def cover_rows(df, level):
        s1, s2, cid = cells.cover_explode_sql(*box, level)
        return df.selectExpr("*", *s1).selectExpr("*", *s2).selectExpr(f"{cid} AS cell_id").count()

    own = cells.bbox_level_sql(*box, lo, hi)
    multi_cover = cover_rows(left.selectExpr("*", f"explode(sequence({lo}, {own})) AS _lvl"), "_lvl")
    assert multi_cover <= left.count() * 4 * (hi - lo + 1)
    single_cover = cover_rows(left, hi)
    assert single_cover > multi_cover  # the 4-deg rects explode at `hi`


def test_zonal_stats_vs_oracle(spark):
    df = entrymod.all_queries()["zonal_stats"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["zonal_stats"], SF_ORACLE, float_cols=("mean",), atol=1e-9)


def _distributed_board_query(spark, monkeypatch, name):
    """The board query ``name`` at sf0.01 forced past the broadcast gate;
    the executed plan proves the side (the distributed cover path alone
    decodes the dim in a mapInArrow pass)."""
    from gdal_boots_spark.operators import cover

    monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", GATE_SIDES["distributed"])
    df = entrymod.all_queries()[name](spark, SF_ORACLE)
    assert "MapInArrow _decode_geojson(" in df._jdf.queryExecution().executedPlan().toString()
    return df


def test_zonal_stats_dist_vs_oracle(spark, monkeypatch):
    """Name-level oracle coverage for zonal_stats forced past the
    broadcast gate onto the distributed cover path (the default side at
    sf0.01 is the broadcast one, which test_zonal_stats_vs_oracle reads)."""
    df = _distributed_board_query(spark, monkeypatch, "zonal_stats")
    compare_to_oracle(df, entrymod.all_oracle_sql()["zonal_stats"], SF_ORACLE, float_cols=("mean",), atol=1e-9)


def test_rasterize_hist_dist_vs_oracle(spark, monkeypatch):
    """Name-level oracle coverage for rasterize_hist forced past the
    broadcast gate onto the distributed cover path."""
    df = _distributed_board_query(spark, monkeypatch, "rasterize_hist")
    compare_to_oracle(df, entrymod.all_oracle_sql()["rasterize_hist"], SF_ORACLE)


def test_intersects_join_vs_bruteforce(spark):
    """Exact polygon-intersects join == pairwise kernel brute force."""
    import json

    import numpy as np

    from gdal_boots_spark.geom.packed import from_geojson
    from gdal_boots_spark.geom.pip import polygons_intersect
    from gdal_boots_spark.operators.bbox_join import intersects_join

    rng = np.random.default_rng(31)
    def mk(pid):
        cx, cy = rng.uniform(26.3, 28.7), rng.uniform(53.3, 54.7)
        ang = np.sort(rng.uniform(0, 2 * np.pi, 7))
        rad = rng.uniform(0.05, 0.35, 7)
        ring = [[float(cx + rr * np.cos(a)), float(cy + rr * np.sin(a))] for a, rr in zip(ang, rad)]
        ring.append(ring[0])
        return (pid, json.dumps({"type": "Polygon", "coordinates": [ring]}))

    rows_l = [mk(i) for i in range(25)]
    rows_r = [mk(100 + i) for i in range(25)]
    l = spark.createDataFrame(rows_l, "poly_id long, geojson string")
    r = spark.createDataFrame(rows_r, "poly_id long, geojson string")
    got = {(x["lid"], x["rid"]) for x in intersects_join(l, r, res=9).collect()}
    exp = {
        (a, b)
        for a, gj_a in rows_l
        for b, gj_b in rows_r
        if polygons_intersect(from_geojson(gj_a), from_geojson(gj_b))
    }
    assert got == exp and len(exp) > 0


def test_event_windows_vs_oracle(spark):
    df = entrymod.all_queries()["event_windows"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["event_windows"], SF_ORACLE, float_cols=("v",), atol=1e-6)


def test_zonal_broadcast_vs_distributed(spark, monkeypatch):
    """zonal_stats on the distributed cover path == the broadcast path
    (VERDICT r1 item 2: the driver collect+loop must have a distributed
    swap-in), each side forced with cover.BROADCAST_MAX_BYTES."""
    from gdal_boots_spark.operators import cover
    from gdal_boots_spark.operators.zonal import zonal_stats
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    grid = RasterGrid(
        raster_id="zsd", epsg=4326, transform=(0.01, 0.0, 26.0, 0.0, -0.01, 55.0),
        width=300, height=200, tile_w=64, tile_h=64, bands=1, dtype="int32",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    polys = rect_polygons_df(spark)
    key = lambda r: (r["poly_id"], r["band"])
    out = {}
    for side, ceiling in GATE_SIDES.items():
        monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", ceiling)
        df = zonal_stats(spark, tiles, grid, polys)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ("MapInArrow _decode_geojson(" in plan) == (side == "distributed"), (side, plan)
        out[side] = {key(r): (r["n_pixels"], r["sum"], r["min"], r["max"], r["mean"]) for r in df.collect()}
    assert out["broadcast"] == out["distributed"] and len(out["broadcast"]) == 14


def test_resample_cubic_vs_oracle(spark):
    df = entrymod.all_queries()["resample_cubic"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["resample_cubic"], SF_ORACLE, float_cols=("value",), atol=0.0)


def test_pip_join_poly_spans_vs_oracle(spark):
    """Mixed Point + Polygon geo spans through pip_join_docs_any
    (VERDICT r1 item 4: non-Point spans must not silently drop)."""
    df = entrymod.all_queries()["pip_join_poly_spans"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["pip_join_poly_spans"], SF_ORACLE)


def test_intersects_join_vs_oracle(spark):
    df = entrymod.all_queries()["intersects_join"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["intersects_join"], SF_ORACLE)


def test_bbox_join_hetero_vs_oracle(spark):
    """The adaptive multi-level bbox join entry (extras; twin of board
    bbox_join) is oracle-exact on the mixed-magnitude rect corpus."""
    df = entrymod.all_queries()["bbox_join_hetero"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["bbox_join_hetero"], SF_ORACLE)


@pytest.mark.parametrize("name", ["fast_warp", "write_window", "make_valid", "to_epsg", "tile_checksum"])
def test_r2_surface_queries_vs_oracle(spark, name):
    """Driver-oracle coverage for the formerly pytest-only surface
    (VERDICT r1 item 7)."""
    df = entrymod.all_queries()[name](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()[name], SF_ORACLE)


def test_pip_join_shuffle_vs_oracle(spark):
    """The salted no-collect flagship variant is oracle-exact (held in
    extra_queries() since the driver board caps at 50)."""
    df = entrymod.all_queries()["pip_join_shuffle"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["pip_join_shuffle"], SF_ORACLE)


def test_warp_pipeline_vs_oracle(spark):
    """Composed warp facade (mosaic -> window -> average resample)."""
    df = entrymod.all_queries()["warp_pipeline"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["warp_pipeline"], SF_ORACLE, float_cols=("value",), atol=0.0)


def test_event_rollup_vs_oracle(spark):
    """Cascading minute->hour->day rollup is lossless vs direct day agg."""
    df = entrymod.all_queries()["event_rollup"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["event_rollup"], SF_ORACLE,
                      float_cols=("v", "vmin", "vmax"), atol=1e-6)


def test_rect_bypass_classification(spark):
    """RectangleIntersects bypass correctness: exact-rect spans against
    exact-rect polys bypass Python; non-rect spans (triangle, L-ish
    5-point non-rect ring, bowtie tour of a box's corners) still take
    the geometry path — outputs match the definitional
    geometry_intersects_polygon on every pair.  A doc whose other span
    is malformed JSON keeps its valid span's pairs."""
    import json as _json

    from gdal_boots_spark.geom.packed import from_geojson
    from gdal_boots_spark.geom.pip import geometry_intersects_polygon
    from gdal_boots_spark.operators.spatial_join import pip_join_docs_any

    def poly_ring(pts):
        return {"type": "Polygon", "coordinates": [pts + [pts[0]]]}

    spans = {
        # exact rect (bypass candidate)
        "1": poly_ring([[26.01, 53.01], [26.09, 53.01], [26.09, 53.09], [26.01, 53.09]]),
        # triangle (never rect)
        "2": poly_ring([[26.01, 53.01], [26.09, 53.01], [26.05, 53.09]]),
        # 5 distinct points, bbox-like but with a midpoint -> NOT rect
        "3": {"type": "Polygon", "coordinates": [[[26.01, 53.01], [26.05, 53.01], [26.09, 53.01],
                                                  [26.09, 53.09], [26.01, 53.09], [26.01, 53.01]]]},
        # cross-overlap rect (no vertex of either inside the other)
        "4": poly_ring([[26.0, 53.04], [26.2, 53.04], [26.2, 53.06], [26.0, 53.06]]),
        # bowtie tour of the unit box's corners: its bbox meets dim 102,
        # the bowtie itself does not
        "5": poly_ring([[0.0, 0.0], [1.0, 1.0], [1.0, 0.0], [0.0, 1.0]]),
    }

    def span(text):
        return {"kind": "geo", "text": text, "media_ref": None, "offset": 1}

    truncated = _json.dumps(spans["4"])[:-9]
    docs = spark.createDataFrame(
        [(k, [span(_json.dumps(v))]) for k, v in spans.items()]
        + [("6", [span(truncated), span(_json.dumps(spans["1"]))])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    polys = spark.createDataFrame(
        [
            (100, _json.dumps(poly_ring([[26.0, 53.0], [26.1, 53.0], [26.1, 53.1], [26.0, 53.1]]))),  # rect
            (101, _json.dumps(poly_ring([[26.05, 53.0], [26.15, 53.05], [26.05, 53.1]]))),  # triangle dim
            (102, _json.dumps(poly_ring([[0.45, 0.9], [0.55, 0.9], [0.5, 0.95]]))),  # in the bowtie's notch
        ],
        "poly_id long, geojson string",
    )
    got = {(r["doc_id"], r["poly_id"]) for r in pip_join_docs_any(docs, polys).collect()}
    pr = {r["poly_id"]: from_geojson(r["geojson"]) for r in polys.collect()}
    exp = set()
    for k, gj in spans.items():
        pg = from_geojson(_json.dumps(gj))
        for pid, pp in pr.items():
            if geometry_intersects_polygon(pg, pp):
                exp.add((k, pid))
    assert ("5", 102) not in exp
    exp |= {("6", pid) for k, pid in exp if k == "1"}
    assert got == exp and len(exp) >= 7


def test_point_rect_bypass_equals_raycast(spark, monkeypatch):
    """r8 Point-path rectangle bypass: for an all-rect dim the refine is
    a pure codegen half-open filter (no ArrowEvalPython).  It must equal
    the pandas ray-cast path EXACTLY, including points ON edges/corners
    (half-open: bottom/left edges inside, top/right outside)."""
    import gdal_boots_spark.operators.spatial_join as sj
    from gdal_boots_spark import memo
    from gdal_boots_spark.sources.synth import RECTS

    pid0, minx, miny, maxx, maxy = RECTS[0]
    # interior, exterior, all 4 corners, all 4 edge midpoints
    pts_xy = [
        ((minx + maxx) / 2, (miny + maxy) / 2), (minx - 1.0, miny - 1.0),
        (minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy),
        ((minx + maxx) / 2, miny), ((minx + maxx) / 2, maxy),
        (minx, (miny + maxy) / 2), (maxx, (miny + maxy) / 2),
    ]
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts_xy)],
        "point_id long, x double, y double",
    )
    polys = rect_polygons_df(spark)
    fast = {
        (r["point_id"], r["poly_id"])
        for r in pip_join_points(pts, polys).select("point_id", "poly_id").collect()
    }
    # plan shape: all-rect dim => no Python eval node anywhere
    plan = pip_join_points(pts, polys)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "EvalPython" not in plan
    # force the ray-cast path (a dim with no rectangle) and compare pair sets
    real_dim = sj.poly_dim
    monkeypatch.setattr(sj, "poly_dim", lambda p: real_dim(p)._replace(rect_pids=frozenset()))
    memo.clear()
    forced = pip_join_points(pts, polys)
    assert "ArrowEvalPython" in forced._jdf.queryExecution().executedPlan().toString()
    slow = {(r["point_id"], r["poly_id"]) for r in forced.select("point_id", "poly_id").collect()}
    monkeypatch.undo()
    memo.clear()
    assert fast == slow
    # boundary membership follows the half-open rule on the probe rect
    probe = {(i, p) for i, p in fast if p == pid0}
    exp = {
        (i, pid0)
        for i, (x, y) in enumerate(pts_xy)
        if minx <= x < maxx and miny <= y < maxy
    }
    assert probe == exp


def test_mixed_dim_points_equal_bruteforce(spark):
    """A dim mixing rectangles with a triangle and an L-shape takes the
    ray-cast refine over the shared cover relation: pip_join_points
    equals brute-force points_in_polygon on random points and on every
    polygon's vertices and edge midpoints (shared edges included)."""
    import json

    from gdal_boots_spark.geom.packed import from_geojson
    from gdal_boots_spark.geom.pip import points_in_polygon

    rings = {
        1: [[26.0, 53.0], [26.5, 53.0], [26.5, 53.4], [26.0, 53.4]],  # rect
        2: [[26.5, 53.0], [27.0, 53.0], [27.0, 53.4], [26.5, 53.4]],  # rect sharing an edge
        3: [[26.2, 53.2], [26.9, 53.3], [26.4, 53.8]],  # triangle
        4: [[27.0, 53.4], [27.6, 53.4], [27.6, 53.6], [27.2, 53.6], [27.2, 54.0], [27.0, 54.0]],  # L
    }
    polys = spark.createDataFrame(
        [(pid, json.dumps({"type": "Polygon", "coordinates": [r + [r[0]]]})) for pid, r in rings.items()],
        "poly_id long, geojson string",
    )
    rng = np.random.default_rng(17)
    xy = [tuple(p) for r in rings.values() for p in r]
    xy += [((a[0] + b[0]) / 2, (a[1] + b[1]) / 2) for r in rings.values() for a, b in zip(r, r[1:] + r[:1])]
    xy += list(zip(rng.uniform(25.9, 27.7, 600), rng.uniform(52.9, 54.1, 600)))
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)], "point_id long, x double, y double"
    )
    joined = pip_join_points(pts, polys)
    assert "ArrowEvalPython" in joined._jdf.queryExecution().executedPlan().toString()
    got = {(r["point_id"], r["poly_id"]) for r in joined.select("point_id", "poly_id").collect()}
    px, py = np.asarray(xy).T
    exp = set()
    for pid, r in rings.items():
        pg = from_geojson({"type": "Polygon", "coordinates": [r + [r[0]]]})
        exp |= {(int(i), pid) for i in np.flatnonzero(points_in_polygon(px, py, pg.coords, pg.ring_offsets))}
    assert got == exp and len(exp) > 100


def test_shuffle_res_matches_auto_res(spark, monkeypatch):
    """pip_join_points_shuffle picks its cell level from per-axis bbox
    extents, within one level of the broadcast path's _auto_res for the
    same dim (a span taken over the interleaved x and y values once read
    ~27 degrees on the rect dim, level 3 against 9).  The spy reads the
    level the point side's cells are built at, the finest level of the
    polygon side's cover."""
    from gdal_boots_spark.geom import cells
    from gdal_boots_spark.operators import spatial_join as sj

    levels = []
    real = cells.cell_id_sql

    def spy(lon, lat, res):
        levels.append(res)
        return real(lon, lat, res)

    monkeypatch.setattr(cells, "cell_id_sql", spy)
    polys = rect_polygons_df(spark)
    pts = spark.createDataFrame([(0, 26.5, 53.5)], "point_id long, x double, y double")
    sj.pip_join_points_shuffle(pts, polys)
    bboxes = poly_dim(polys).bboxes
    assert len(levels) == 1 and abs(levels[0] - sj._auto_res(bboxes)) <= 1


def test_cell_level_out_of_range_raises(spark, monkeypatch):
    """Cell ids give ix and iy 29 bits each, so above MAX_RES (28) iy
    overflows into ix (and ix into the level) and points far apart can
    share an id.  Both join entries, on both sides of the broadcast
    gate, reject such a level."""
    from gdal_boots_spark.operators import cover
    from gdal_boots_spark.operators.bbox_join import bbox_overlap_join

    polys = rect_polygons_df(spark)
    pts = spark.createDataFrame([(0, 26.5, 53.5)], "point_id long, x double, y double")
    for ceiling in GATE_SIDES.values():
        monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", ceiling)
        with pytest.raises(ValueError, match="res must be in"):
            pip_join_points(pts, polys, res=30)
    rect = "{p}id long, {p}minx double, {p}miny double, {p}maxx double, {p}maxy double"
    # level-28 cells are ~1.3e-6 degrees wide: keep the boxes that small
    left = spark.createDataFrame([(1, 0.0, 0.0, 1e-6, 1e-6)], rect.format(p="l"))
    right = spark.createDataFrame([(2, 5e-7, 5e-7, 2e-6, 2e-6)], rect.format(p="r"))
    with pytest.raises(ValueError, match="res must be in"):
        bbox_overlap_join(left, right, res=30)
    assert bbox_overlap_join(left, right, res=28).count() == 1


def test_rect_rings_predicate():
    """geom.pip.rect_rings accepts exactly the closed 5-point rings that
    tour their bbox's 4 distinct corners along alternating axis-parallel
    edges, in either direction and from any corner.  A bowtie-ordered
    tour of the same corners (whose even-odd interior is NOT the bbox),
    a triangle, a ring with an edge midpoint, a degenerate box, an open
    ring and a multi-ring row are not rectangles."""
    from gdal_boots_spark.geom.pip import rect_rings

    rings = {
        "ccw": ([0, 0, 1, 0, 1, 1, 0, 1, 0, 0], True, True),
        "cw_from_top": ([0, 2, 3, 2, 3, 0, 0, 0, 0, 2], True, True),
        "bowtie": ([0, 0, 1, 1, 1, 0, 0, 1, 0, 0], True, False),
        "triangle": ([0, 0, 1, 0, 0.5, 1, 0, 0], True, False),
        "midpoint": ([0, 0, 0.5, 0, 1, 0, 1, 1, 0, 1, 0, 0], True, False),
        "degenerate": ([0, 0, 1, 0, 1, 0, 0, 0, 0, 0], True, False),
        "open": ([0, 0, 1, 0, 1, 1, 0, 1, 0, 0.5], True, False),
        "two_rings": ([0, 0, 1, 0, 1, 1, 0, 1, 0, 0], False, False),
    }
    flat = [c for c, _, _ in rings.values()]
    got = rect_rings(
        np.concatenate([np.asarray(c, np.float64) for c in flat]),
        np.cumsum([0] + [len(c) for c in flat]),
        np.asarray([one for _, one, _ in rings.values()]),
    )
    assert dict(zip(rings, got.tolist())) == {k: exp for k, (_, _, exp) in rings.items()}


def _loop_segment_intersection(edges_a, edges_b) -> bool:
    """The per-pair segment test as it stood before the contact matrix
    (proper crossing, then collinear endpoint-on-segment contact)."""
    x1a, y1a, x2a, y2a = edges_a
    x1b, y1b, x2b, y2b = edges_b
    if x1a.size == 0 or x1b.size == 0:
        return False

    def orient(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    ax1, ay1, ax2, ay2 = x1a[:, None], y1a[:, None], x2a[:, None], y2a[:, None]
    bx1, by1, bx2, by2 = x1b[None, :], y1b[None, :], x2b[None, :], y2b[None, :]
    d1 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = orient(bx1, by1, bx2, by2, ax1, ay1)
    d4 = orient(bx1, by1, bx2, by2, ax2, ay2)
    if ((d1 * d2 < 0) & (d3 * d4 < 0)).any():
        return True

    def on_seg(sx1, sy1, sx2, sy2, px, py):
        return (
            (np.minimum(sx1, sx2) <= px) & (px <= np.maximum(sx1, sx2))
            & (np.minimum(sy1, sy2) <= py) & (py <= np.maximum(sy1, sy2))
        )

    return bool((
        ((d1 == 0) & on_seg(ax1, ay1, ax2, ay2, bx1, by1))
        | ((d2 == 0) & on_seg(ax1, ay1, ax2, ay2, bx2, by2))
        | ((d3 == 0) & on_seg(bx1, by1, bx2, by2, ax1, ay1))
        | ((d4 == 0) & on_seg(bx1, by1, bx2, by2, ax2, ay2))
    ).any())


def _loop_rect_intersects(x0, y0, x1, y1, coords, ro):
    """Per-rectangle reference of rects_intersect_polygon -> (hit,
    decided by the residual edge test)."""
    from gdal_boots_spark.geom.pip import _ring_edges, points_in_polygon

    c = coords.reshape(-1, 2)
    if ((c[:, 0] >= x0) & (c[:, 0] <= x1) & (c[:, 1] >= y0) & (c[:, 1] <= y1)).any():
        return True, False
    if points_in_polygon(np.asarray([x0, x1, x1, x0]), np.asarray([y0, y0, y1, y1]), coords, ro).any():
        return True, False
    redges = (
        np.asarray([x0, x1, x1, x0]),
        np.asarray([y0, y0, y1, y1]),
        np.asarray([x1, x1, x0, x0]),
        np.asarray([y0, y1, y1, y0]),
    )
    return _loop_segment_intersection(redges, _ring_edges(coords, ro)), True


def test_rects_intersect_polygon_matches_loop():
    """geom.pip.rects_intersect_polygon equals a per-rectangle loop
    bit for bit over 2,400 seeded rectangles per polygon: a 64-gon
    (many edges, so the residual test runs in several chunks), an
    L-shape and a square with a square and a diamond hole.  The
    rectangles include corners snapped to polygon vertices, edges
    collinear with polygon edges, zero-width and zero-height boxes,
    boxes inside the polygon or a hole, boxes containing the polygon and
    long thin boxes that cross it with no vertex inside either way."""
    from gdal_boots_spark.geom.pip import rects_intersect_polygon

    t = np.linspace(0.0, 2 * np.pi, 65)[:-1]
    gon = np.column_stack([5 + 3 * np.cos(t), 5 + 3 * np.sin(t)])
    polys = {
        "convex64": [np.vstack([gon, gon[:1]])],
        "l_shape": [np.asarray([[0, 0], [4, 0], [4, 1], [1, 1], [1, 3], [0, 3], [0, 0]], np.float64)],
        "holed": [
            np.asarray([[0, 0], [6, 0], [6, 6], [0, 6], [0, 0]], np.float64),
            np.asarray([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], np.float64),
            np.asarray([[4, 2.5], [5, 4], [4, 5.5], [3, 4], [4, 2.5]], np.float64),
        ],
    }
    rng = np.random.default_rng(9)
    for name, rings in polys.items():
        coords = np.concatenate(rings).ravel()
        ro = np.cumsum([0] + [len(r) for r in rings]).astype(np.int32)
        v = np.concatenate(rings)
        lo, hi = v.min(axis=0) - 1.0, v.max(axis=0) + 1.0
        snap_x = np.concatenate([v[:, 0], rng.uniform(lo[0], hi[0], 8)])
        snap_y = np.concatenate([v[:, 1], rng.uniform(lo[1], hi[1], 8)])
        # snapped (vertex corners, collinear edges, zero extents)
        sx = np.sort(rng.choice(snap_x, (800, 2)), axis=1)
        sy = np.sort(rng.choice(snap_y, (800, 2)), axis=1)
        # uniform boxes of any size
        ux = np.sort(rng.uniform(lo[0], hi[0], (600, 2)), axis=1)
        uy = np.sort(rng.uniform(lo[1], hi[1], (600, 2)), axis=1)
        # long thin boxes (half of them zero-width or zero-height)
        n = 600
        cx, cy = rng.uniform(lo[0], hi[0], n), rng.uniform(lo[1], hi[1], n)
        w = np.where(np.arange(n) % 4 == 0, 0.0, rng.uniform(0, 0.05, n))
        horiz = np.arange(n) % 2 == 0
        tx = np.where(horiz[:, None], [[lo[0], hi[0]]], np.column_stack([cx, cx + w]))
        ty = np.where(horiz[:, None], np.column_stack([cy, cy + w]), [[lo[1], hi[1]]])
        # small boxes inside (or in a hole), and boxes containing it all
        m = 400
        px_, py_ = rng.uniform(lo[0] + 1, hi[0] - 1, m), rng.uniform(lo[1] + 1, hi[1] - 1, m)
        e = rng.uniform(0, 0.1, m)
        big = rng.uniform(0, 2, (m, 2))
        inside = np.arange(m) % 2 == 0
        ix = np.where(inside[:, None], np.column_stack([px_, px_ + e]), np.column_stack([lo[0] - big[:, 0], hi[0] + big[:, 1]]))
        iy = np.where(inside[:, None], np.column_stack([py_, py_ + e]), np.column_stack([lo[1] - big[:, 1], hi[1] + big[:, 0]]))
        bx = np.vstack([sx, ux, tx, ix])
        by = np.vstack([sy, uy, ty, iy])
        assert len(bx) >= 2000

        got = rects_intersect_polygon(bx[:, 0], by[:, 0], bx[:, 1], by[:, 1], coords, ro)
        ref = [_loop_rect_intersects(bx[i, 0], by[i, 0], bx[i, 1], by[i, 1], coords, ro) for i in range(len(bx))]
        exp = np.asarray([h for h, _ in ref])
        assert np.array_equal(got, exp), (name, np.flatnonzero(got != exp)[:10])
        residual = np.asarray([r for _, r in ref])
        # the residual edge test decided many boxes, both ways
        assert (residual & exp).sum() >= 20 and (residual & ~exp).sum() >= 20, name
        assert ((bx[:, 0] == bx[:, 1]) | (by[:, 0] == by[:, 1])).sum() >= 100, name


def _loop_edge_contact(pg, poly, poly_edges) -> bool:
    """The per-row edge test intersects_polygons ran before
    _edge_contacts: polygons through polygons_intersect, lines through
    the segment-contact test, collections through any child."""
    from gdal_boots_spark.geom.packed import collection_children
    from gdal_boots_spark.geom.pip import _ring_edges, _segment_contacts, polygons_intersect

    if pg.gtype == 7:
        return any(
            _loop_edge_contact(ch, poly, poly_edges)
            for ch in collection_children(pg)
            if ch.gtype not in (1, 4) and ch.coords.size
        )
    if pg.gtype in (3, 6):
        return polygons_intersect(pg, poly)
    return bool(_segment_contacts(_ring_edges(pg.coords, pg.ring_offsets, close=False), poly_edges).any())


def test_edge_contacts_match_loop():
    """intersects_polygons' vectorized edge and containment step
    (geom.pip._edge_contacts) equals the per-row loop it replaced, bit
    for bit, over seeded lines, multi-lines, holed polygons and
    multipolygons and GeometryCollections of them (with Point children)
    against a 64-gon, an L-shape, a holed square and a two-part
    multipolygon; some probe rings are left open.  Vertices snap to the
    polygon's vertices and edges, so touching and collinear contacts
    occur; probes that wholly contain the polygon, or that sit in its
    hole, take the containment test."""
    from gdal_boots_spark.geom.packed import GTYPE_IDS, PackedGeometry, from_geojson
    from gdal_boots_spark.geom.pip import Probes, _ring_edges, intersects_polygons, points_in_polygon

    t = np.linspace(0.0, 2 * np.pi, 65)[:-1]
    gon = np.column_stack([5 + 3 * np.cos(t), 5 + 3 * np.sin(t)])

    def poly(*rings):
        return {"type": "Polygon", "coordinates": [np.vstack([r, r[:1]]).tolist() for r in map(np.asarray, rings)]}

    square = [[0, 0], [6, 0], [6, 6], [0, 6]]
    dims = {
        "convex64": poly(gon),
        "l_shape": poly([[0, 0], [4, 0], [4, 1], [1, 1], [1, 3], [0, 3]]),
        "holed": poly(square, [[1, 1], [2, 1], [2, 2], [1, 2]], [[4, 2.5], [5, 4], [4, 5.5], [3, 4]]),
        "multi": {"type": "MultiPolygon", "coordinates": [
            poly([[0, 0], [2, 0], [2, 2], [0, 2]])["coordinates"],
            poly([[4, 4], [7, 4], [7, 7], [4, 7]])["coordinates"],
        ]},
    }
    rng = np.random.default_rng(23)
    for name, dim_gj in dims.items():
        dim = from_geojson(dim_gj)
        v = dim.coords.reshape(-1, 2)
        lo, hi = v.min(axis=0) - 2.0, v.max(axis=0) + 2.0
        mids = (v[:-1] + v[1:]) / 2

        def pt():
            pick = rng.integers(3)
            if pick == 0:
                return v[rng.integers(len(v))].tolist()  # a polygon vertex
            if pick == 1:
                return mids[rng.integers(len(mids))].tolist()  # on a polygon edge
            return rng.uniform(lo, hi).tolist()

        def line():
            return {"type": "LineString", "coordinates": [pt() for _ in range(rng.integers(2, 5))]}

        def ring_poly():
            if rng.integers(4) == 0:  # a box around the whole polygon, holed or not
                e = rng.uniform(0.1, 1.0)
                outer = [[lo[0] - e, lo[1] - e], [hi[0] + e, lo[1] - e], [hi[0] + e, hi[1] + e], [lo[0] - e, hi[1] + e]]
                hole = [[lo[0] - e / 2, lo[1] - e / 2], [lo[0], lo[1] - e / 2], [lo[0], lo[1]]]
                return poly(outer, hole) if rng.integers(2) else poly(outer)
            c, r = rng.uniform(lo, hi), rng.uniform(0.05, 1.5)
            k = rng.integers(3, 7)
            a = np.sort(rng.uniform(0, 2 * np.pi, k))
            shell = np.column_stack([c[0] + r * np.cos(a), c[1] + r * np.sin(a)])
            if rng.integers(3) == 0:
                shell[0] = pt()  # snapped: touching / collinear cases
            if rng.integers(5) == 0:  # a ring left open: its closing edge is implied
                return {"type": "Polygon", "coordinates": [shell.tolist()]}
            hole = c + 0.2 * r * np.asarray([[-1, -1], [1, -1], [0, 1]])
            return poly(shell, hole) if rng.integers(2) else poly(shell)

        def geom():
            kind = rng.integers(5)
            if kind == 0:
                return line()
            if kind == 1:
                return {"type": "MultiLineString", "coordinates": [line()["coordinates"] for _ in range(2)]}
            if kind == 2:
                return ring_poly()
            if kind == 3:
                return {"type": "MultiPolygon", "coordinates": [ring_poly()["coordinates"] for _ in range(2)]}
            children = [line(), ring_poly(), {"type": "Point", "coordinates": pt()}]
            pick = rng.permutation(3)[: rng.integers(2, 4)]
            return {"type": "GeometryCollection", "geometries": [children[i] for i in pick]}

        geoms = [from_geojson(geom()) for _ in range(600)]
        assert {g.gtype for g in geoms} == {2, 3, 5, 6, 7}

        def flat(field, dtype):
            arrs = [np.asarray(getattr(g, field) if getattr(g, field) is not None else (), dtype) for g in geoms]
            return np.concatenate(arrs), np.cumsum([0] + [a.size for a in arrs])

        probes = Probes(
            np.asarray([g.gtype for g in geoms], np.int8), flat("coords", np.float64),
            flat("ring_offsets", np.int32), flat("part_offsets", np.int32),
            flat("part_types", np.int8), flat("child_offsets", np.int32),
        )
        got = intersects_polygons(np.zeros(len(geoms), np.int64), probes, lambda p, i: (dim.coords, dim.ring_offsets))
        as_poly = PackedGeometry(gtype=GTYPE_IDS["Polygon"], coords=dim.coords, ring_offsets=dim.ring_offsets,
                                 part_offsets=np.zeros(1, np.int32))
        edges = _ring_edges(dim.coords, dim.ring_offsets)
        vertex_in = np.asarray([points_in_polygon(*g.xy(), dim.coords, dim.ring_offsets).any() for g in geoms])
        exp = np.asarray([
            bool(vin) or _loop_edge_contact(g, as_poly, edges) for g, vin in zip(geoms, vertex_in)
        ])
        assert np.array_equal(got, exp), (name, np.flatnonzero(got != exp)[:10])
        # the edge step decided many probes, both ways
        assert (exp & ~vertex_in).sum() >= 30 and (~exp).sum() >= 30, name


def test_hole_polygon_with_whitespace_separators(spark):
    """ADVICE r3: a hole polygon serialized with json.dumps DEFAULT
    separators ("]], [[") slipped past the old single-ring fast-path
    guard and had its rings merged.  A dim rect inside the hole must
    NOT intersect; one on the solid band must."""
    import json as _json

    from gdal_boots_spark.operators.spatial_join import pip_join_docs_any

    donut = {
        "type": "Polygon",
        "coordinates": [
            [[26.00, 53.00], [26.10, 53.00], [26.10, 53.10], [26.00, 53.10], [26.00, 53.00]],
            [[26.03, 53.03], [26.07, 53.03], [26.07, 53.07], [26.03, 53.07], [26.03, 53.03]],
        ],
    }
    txt = _json.dumps(donut)  # default separators -> "]], [["
    assert "]], [[" in txt and "]],[[" not in txt
    docs = spark.createDataFrame(
        [("d1", [{"kind": "geo", "text": txt, "media_ref": None, "offset": 1}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )

    def rect(x0, y0, x1, y1):
        return _json.dumps({"type": "Polygon", "coordinates": [
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]})

    polys = spark.createDataFrame(
        [
            (200, rect(26.04, 53.04, 26.06, 53.06)),  # fully inside the hole
            (201, rect(26.01, 53.01, 26.02, 53.02)),  # on the solid band
        ],
        "poly_id long, geojson string",
    )
    got = {(r["doc_id"], r["poly_id"]) for r in pip_join_docs_any(docs, polys).collect()}
    assert got == {("d1", 201)}, got


def test_auto_switch_broadcast_distributed(spark, monkeypatch, tmp_path):
    """The gate reads a dim's size from plan statistics with ZERO jobs
    (round-4 verdict item 6): a driver-created dim (unknown statistics)
    reads 0 bytes and fits; a file-backed dim reports its real bytes, and
    a ceiling just below them switches pip_join_points to the no-collect
    shuffle sibling.  Both sides' results are checked by
    test_broadcast_gate_both_ways."""
    from gdal_boots_spark.operators import cover, spatial_join
    from gdal_boots_spark.partitioning import plan_bytes

    assert plan_bytes(rect_polygons_df(spark)) == 0
    ppath = str(tmp_path / "polys.parquet")
    rect_polygons_df(spark).write.parquet(ppath)
    polys = spark.read.parquet(ppath)
    size = plan_bytes(polys)
    assert 0 < size <= cover.BROADCAST_MAX_BYTES and cover.fits_broadcast(size)

    used = []
    real_shuffle = spatial_join.pip_join_points_shuffle

    def spy(*a, **k):
        used.append(True)
        return real_shuffle(*a, **k)

    monkeypatch.setattr(spatial_join, "pip_join_points_shuffle", spy)
    pts = spark.createDataFrame([(0, 26.5, 53.5)], "point_id long, x double, y double")
    pip_join_points(pts, polys)
    assert not used, "a dim under the ceiling took the distributed path"
    monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", size - 1)
    pip_join_points(pts, polys)
    assert used, "a dim over the ceiling did not take the distributed path"


def test_pip_join_docs_any_geometry_collection_spans(spark):
    """Heterogeneous GeometryCollection geo spans refine per child:
    polygon-child containment (no span vertex inside the dim polygon)
    and line-child edge crossing must both keep the pair; a disjoint
    collection must not."""
    import json

    from gdal_boots_spark.operators.spatial_join import pip_join_docs_any

    def gc_doc(doc_id, geoms):
        span = {"kind": "geo", "text": json.dumps({"type": "GeometryCollection", "geometries": geoms}), "media_ref": None, "offset": 0}
        return (doc_id, [span])

    rect = lambda x0, y0, x1, y1: {
        "type": "Polygon",
        "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]],
    }
    docs = spark.createDataFrame(
        [
            # polygon child CONTAINS the dim polygon (no vertex of the
            # span inside it) + a far-away point child
            gc_doc("c1", [rect(0.0, 0.0, 10.0, 10.0), {"type": "Point", "coordinates": [50.0, 50.0]}]),
            # line child crosses the dim polygon; tiny far polygon child
            gc_doc("c2", [rect(30.0, 30.0, 31.0, 31.0), {"type": "LineString", "coordinates": [[-5.0, 5.0], [15.0, 5.0]]}]),
            # disjoint collection
            gc_doc("c3", [rect(40.0, 40.0, 41.0, 41.0), {"type": "LineString", "coordinates": [[60.0, 60.0], [61.0, 61.0]]}]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    polys = spark.createDataFrame(
        [(1, json.dumps(rect(4.0, 4.0, 6.0, 6.0)))], "poly_id long, geojson string"
    )
    got = {(r["doc_id"], r["poly_id"]) for r in pip_join_docs_any(docs, polys).collect()}
    assert got == {("c1", 1), ("c2", 1)}


def test_poly_refine_vs_oracle_sf0001(spark):
    """The one poly-span refine path at sf0.001 (mixed Point /
    rect-Polygon / GeometryCollection spans) equals the analytic DuckDB
    oracle, and only the non-rect-x-rect branch enters Python."""
    df = entrymod.all_queries()["pip_join_poly_spans"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    compare_to_oracle(df, entrymod.all_oracle_sql()["pip_join_poly_spans"], SF_SMOKE)


def test_adaptive_levels_heterogeneous_spans(spark, monkeypatch):
    """Adaptive cover resolution (VERDICT r5 item 4): spans whose sizes
    range over 3+ orders of magnitude (0.01 deg .. 30 deg, i.e. far
    larger than the poly-derived global res cell) each explode at their
    own level; the output must still be EXACTLY the intersecting pair
    set (brute force), with zero duplicate pairs — the reporting-cell
    dedup must hold across mixed levels.  GeometryCollection spans
    (a polygon child holding a dim polygon, a line child crossing one,
    a point child inside one, a disjoint collection) ride along, and
    both sides of the broadcast gate are checked."""
    import json as _json

    from gdal_boots_spark.geom.packed import from_geojson
    from gdal_boots_spark.geom.pip import geometry_intersects_polygon
    from gdal_boots_spark.operators import cover
    from gdal_boots_spark.operators.spatial_join import pip_join_docs_any

    def rect(minx, miny, maxx, maxy):
        return {"type": "Polygon", "coordinates": [[[minx, miny], [maxx, miny],
                [maxx, maxy], [minx, maxy], [minx, miny]]]}

    def tri(minx, miny, maxx, maxy):
        return {"type": "Polygon", "coordinates": [[[minx, miny], [maxx, miny],
                [(minx + maxx) / 2.0, maxy], [minx, miny]]]}

    spans = {}
    sizes = [0.01, 0.08, 0.5, 3.0, 12.0, 30.0]
    k = 0
    for i, w in enumerate(sizes):
        for j in range(3):
            x0 = -60.0 + 17.0 * i + 3.1 * j
            y0 = -40.0 + 9.0 * j + 1.3 * i
            shape = rect if (k % 2 == 0) else tri
            spans[str(k)] = shape(x0, y0, x0 + w, y0 + w * 0.75)
            k += 1

    def gc(*geoms):
        return {"type": "GeometryCollection", "geometries": list(geoms)}

    def line(*pts):
        return {"type": "LineString", "coordinates": [list(p) for p in pts]}

    far = {"type": "Point", "coordinates": [80.0, 50.0]}
    spans["gc_holds"] = gc(rect(-59.0, -39.0, -57.5, -37.5), far)  # holds dim 0
    spans["gc_line"] = gc(line((-40.0, -20.0), (-15.0, -20.0)), rect(70.0, 40.0, 70.5, 40.5))  # crosses dim 3
    spans["gc_point"] = gc({"type": "Point", "coordinates": [-50.2, -33.9]}, line((-49.0, -30.0), (-48.5, -29.5)))
    spans["gc_far"] = gc(far, line((86.0, 81.0), (87.0, 82.0)))
    docs = spark.createDataFrame(
        [(d, [{"kind": "geo", "text": _json.dumps(g), "media_ref": None, "offset": 1}])
         for d, g in spans.items()],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    polys_rows = []
    for pid in range(40):
        w = [0.3, 1.0, 4.0, 15.0][pid % 4]
        x0 = -58.0 + (pid * 7.3) % 95.0
        y0 = -38.0 + (pid * 3.7) % 60.0
        polys_rows.append((pid, _json.dumps(rect(x0, y0, x0 + w, y0 + w * 0.8))))
    polys = spark.createDataFrame(polys_rows, "poly_id long, geojson string")

    pr = {pid: from_geojson(gj) for pid, gj in polys_rows}
    exp = set()
    for d, gj in spans.items():
        pg = from_geojson(_json.dumps(gj))
        for pid, pp in pr.items():
            if geometry_intersects_polygon(pg, pp):
                exp.add((d, pid))
    assert len(exp) >= 15 and {("gc_holds", 0), ("gc_line", 3), ("gc_point", 1)} <= exp
    assert not any(d == "gc_far" for d, _ in exp)
    for side, ceiling in GATE_SIDES.items():
        monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", ceiling)
        pairs = [(r["doc_id"], r["poly_id"]) for r in pip_join_docs_any(docs, polys).collect()]
        assert len(pairs) == len(set(pairs)), (side, "duplicate pairs across mixed levels")
        assert set(pairs) == exp, side


def test_board_oracle_contract(spark):
    """Every driver-board query carries a DuckDB oracle (the driver's
    correctness gate hashes both sides), extras included, and no
    orphan oracles exist.  Every query, built and collected at sf0.001,
    leaves no persisted RDD once ``memo.clear()`` has run: the memo owns
    every relation the engine caches."""
    from gdal_boots_spark import memo
    from tests.conftest import persisted_rdds

    q, o = set(entrymod.queries()), set(entrymod.oracle_sql())
    assert q == o, (sorted(q - o), sorted(o - q))
    aq, ao = set(entrymod.all_queries()), set(entrymod.all_oracle_sql())
    assert aq == ao, (sorted(aq - ao), sorted(ao - aq))
    for build in entrymod.all_queries().values():
        build(spark, SF_SMOKE).collect()
    memo.clear()
    assert not persisted_rdds(spark)


def test_multiring_fast_decode_parity(spark):
    """decode_geojson (joined-blob fast path for trailing-coordinates
    Polygons of any ring count, per-row from_geojson for the rest) must
    be BIT-IDENTICAL to a reference built row by row from from_geojson:
    bbox, rect flag and payload (blanked for rectangles only under
    blank_rect), across hole polygons in both compact and whitespace
    serializations, MultiPolygon, GeometryCollection, LineString,
    MultiLineString, Point and 3-D rows.  The string/int/long keep
    columns pass through.  None rows, a truncated-JSON row and an empty
    GeometryCollection are dropped, not raised."""
    import json

    from gdal_boots_spark.functions.geometry_fns import decode_geojson
    from gdal_boots_spark.geom.packed import from_geojson

    rng = np.random.default_rng(3)
    texts, is_rect = [], []

    def poly(rings, sep=(",", ":")):
        return json.dumps({"type": "Polygon", "coordinates": rings}, separators=sep)

    for i in range(480):
        cx, cy = float(rng.uniform(-170, 170)), float(rng.uniform(-80, 80))
        outer = [[cx, cy], [cx + 1, cy], [cx + 1, cy + 1], [cx, cy + 1], [cx, cy]]
        hole = [[cx + 0.2, cy + 0.2], [cx + 0.4, cy + 0.2], [cx + 0.3, cy + 0.4], [cx + 0.2, cy + 0.2]]
        hole2 = [[cx + 0.6, cy + 0.6], [cx + 0.8, cy + 0.6], [cx + 0.7, cy + 0.8], [cx + 0.6, cy + 0.6]]
        k = i % 12
        is_rect.append(k in (0, 3, 10))
        if k == 0:
            texts.append(poly([outer]))
        elif k == 1:
            texts.append(poly([outer, hole]))
        elif k == 2:
            texts.append(poly([outer, hole, hole2], sep=(", ", ": ")))
        elif k == 3:
            texts.append(poly([[[cx, cy], [cx + 2, cy], [cx + 2, cy + 2], [cx, cy + 2], [cx, cy]]]))
        elif k == 4:
            texts.append(json.dumps({"type": "MultiPolygon", "coordinates": [
                [outer], [[[cx + 3, cy], [cx + 4, cy], [cx + 4, cy + 1], [cx + 3, cy]]]]}))
        elif k == 5:
            texts.append(json.dumps({"type": "GeometryCollection", "geometries": [
                {"type": "Polygon", "coordinates": [outer]},
                {"type": "Point", "coordinates": [cx, cy]}]}))
        elif k == 6:
            texts.append(None)
        elif k == 7:
            texts.append(poly([outer, hole]).replace(",", ", "))
        elif k == 8:
            texts.append(json.dumps({"type": "LineString", "coordinates": hole}))
        elif k == 9:
            texts.append(json.dumps({"type": "MultiLineString", "coordinates": [hole, hole2]}))
        elif k == 10:  # 3-D rectangle
            texts.append(poly([[p + [5.0] for p in outer]]))
        else:  # Points, compact (the decode's fast path) or spaced
            sep = (",", ":") if i // 12 % 2 else (", ", ": ")
            texts.append(json.dumps({"type": "Point", "coordinates": [cx, cy]}, separators=sep))
    for extra in (
        poly([[p + [1.0] for p in outer], [p + [2.0] for p in hole]]),
        poly([[[0.0, 0.0, 5.0], [4.0, 0.0, 5.0], [0.0, 4.0, 5.0], [0.0, 0.0, 5.0]]]),
        json.dumps({"type": "LineString", "coordinates": [[0.0, 0.0, 1.0], [1.0, 1.0, 1.0]]}),
        poly([outer, hole]).replace("]],[[", "]], [ ["),  # "[[" misses the hole's start
        json.dumps({"type": "GeometryCollection", "geometries": []}),
        poly([outer, hole])[:-7],  # truncated JSON
    ):
        texts.append(extra)
        is_rect.append(False)

    df = spark.createDataFrame(
        [(str(i), i, i * 1_000_000_007, t) for i, t in enumerate(texts)],
        "doc_id string, span_pos int, k long, text string",
    )
    for blank in (False, True):
        out = decode_geojson(df, "text", ["doc_id", "span_pos", "k"], blank_rect=blank)
        assert out.columns == ["doc_id", "span_pos", "k", "geom", "minx", "miny", "maxx", "maxy", "rect"]
        got = {r["doc_id"]: tuple(r.asDict(recursive=True).values())[1:] for r in out.collect()}

        exp = {}
        for i, (text, rect) in enumerate(zip(texts, is_rect)):
            try:
                pg = from_geojson(text) if text is not None else None
            except ValueError:
                continue
            if pg is None or pg.coords.size == 0:
                continue
            xy = pg.coords.reshape(-1, 2)
            gc = pg.gtype == 7
            empty = rect and blank
            geom = {
                "gtype": pg.gtype,
                "coords": [] if empty else pg.coords.tolist(),
                "ring_offsets": [] if empty else pg.ring_offsets.tolist(),
                "part_offsets": [] if empty else pg.part_offsets.tolist(),
                "part_types": pg.part_types.tolist() if gc else [],
                "child_offsets": pg.child_offsets.tolist() if gc else [],
            }
            exp[str(i)] = (
                i, i * 1_000_000_007, geom, xy[:, 0].min(), xy[:, 1].min(), xy[:, 0].max(), xy[:, 1].max(), rect,
            )
        # 40 None rows, the empty collection and the truncated row dropped
        assert got == exp and len(got) == 444


def test_point_fast_decode_spellings():
    """The decode pass's Point fast path (one joined float parse for
    the compact ``{"type":"Point","coordinates":[x,y]}`` spelling)
    takes the compact, exponent, negative and integer spellings and
    leaves the spaced, 3-D and coordinates-first ones to from_geojson;
    every row decodes to what from_geojson gives.  A batch holding a
    malformed compact Point sends all its Points to from_geojson, which
    drops only the malformed row."""
    import pyarrow as pa

    from gdal_boots_spark.functions.geometry_fns import _decode_batch, _point_fast_path
    from gdal_boots_spark.geom.packed import from_geojson

    spellings = {
        "compact": '{"type":"Point","coordinates":[27.123456,53.5]}',
        "exponent": '{"type":"Point","coordinates":[2.7123456e1,5.35E+01]}',
        "negative": '{"type":"Point","coordinates":[-73.985428,-0.000001]}',
        "integer": '{"type":"Point","coordinates":[27,-53]}',
        "spaced": '{"type": "Point", "coordinates": [27.123456, 53.5]}',
        "3d": '{"type":"Point","coordinates":[27.123456,53.5,120.0]}',
        "coordinates_first": '{"coordinates":[27.123456,53.5],"type":"Point"}',
    }
    fast = {"compact", "exponent", "negative", "integer"}

    def decoded(texts):
        batch = pa.RecordBatch.from_arrays([pa.array(list(range(len(texts)))), pa.array(texts)], ["i", "text"])
        out = {}
        for b in _decode_batch(batch, "text", ["i"], False):
            for r in b.to_pylist():
                out[r["i"]] = (r["geom"], r["minx"], r["miny"], r["maxx"], r["maxy"], r["rect"])
        return out

    def reference(text):
        pg = from_geojson(text)
        x, y = pg.coords.tolist()
        geom = {"gtype": 1, "coords": [x, y], "ring_offsets": [0, 1], "part_offsets": [0, 1],
                "part_types": [], "child_offsets": []}
        return geom, x, y, x, y, False

    texts = list(spellings.values())
    rows, _ = _point_fast_path(texts)
    assert {list(spellings)[j] for j in rows} == fast
    assert decoded(texts) == {j: reference(t) for j, t in enumerate(texts)}

    bad = texts + ['{"type":"Point","coordinates":[27.1,53.5x]}']
    assert _point_fast_path(bad)[0].size == 0
    # two malformed rows whose value counts cancel (0 + 4 == 2 * 2)
    cancelling = texts + ['{"type":"Point","coordinates":[,]}', '{"type":"Point","coordinates":[1 2,3 4]}']
    assert _point_fast_path(cancelling)[0].size == 0
    assert decoded(cancelling) == {j: reference(t) for j, t in enumerate(texts)}
    assert decoded(bad) == {j: reference(t) for j, t in enumerate(texts)}


def test_3d_span_coordinates_join(spark):
    """GeoJSON positions may carry an altitude.  A 3-D span joins like
    its 2-D twin: the triangle (0,0),(4,0),(0,4) misses both dims near
    (4.5, 0.5) whatever its z, and a 3-D square around them hits both."""
    import json

    from gdal_boots_spark.operators.spatial_join import pip_join_docs_any

    def doc(doc_id, coords):
        span = {"kind": "geo", "text": json.dumps({"type": "Polygon", "coordinates": [coords]}),
                "media_ref": None, "offset": 0}
        return (doc_id, [span])

    tri = [[0.0, 0.0], [4.0, 0.0], [0.0, 4.0], [0.0, 0.0]]
    square = [[4.0, 0.0], [5.0, 0.0], [5.0, 1.0], [4.0, 1.0], [4.0, 0.0]]
    docs = spark.createDataFrame(
        [doc("d2", tri), doc("d3", [p + [5.0] for p in tri]), doc("s3", [p + [5.0] for p in square])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    rect = [[4.2, 0.2], [4.8, 0.2], [4.8, 0.8], [4.2, 0.8], [4.2, 0.2]]
    inner = [[4.3, 0.3], [4.7, 0.3], [4.3, 0.7], [4.3, 0.3]]
    polys = spark.createDataFrame(
        [(pid, json.dumps({"type": "Polygon", "coordinates": [r]})) for pid, r in ((1, rect), (2, inner))],
        "poly_id long, geojson string",
    )
    got = sorted(tuple(r) for r in pip_join_docs_any(docs, polys).collect())
    assert got == [("s3", 0, 1), ("s3", 0, 2)]


def test_decode_once_plan_shape(spark, monkeypatch):
    """The distributed raster x vector paths (rasterize_hist and
    zonal_stats forced past the broadcast gate), the shuffle PIP join and
    the intersects join decode each GeoJSON input in exactly one
    decode_geojson mapInArrow, with no scalar decode or bounds UDF left
    in their executed plans: the raster paths hold no ArrowEvalPython
    node, and the two joins exactly one, the exact-refine predicate
    (where_intersects).  Their only mapInArrow nodes are the decode
    passes."""
    from gdal_boots_spark.operators import cover

    monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", GATE_SIDES["distributed"])
    qs = entrymod.all_queries()
    for name, inputs, refines in (
        ("rasterize_hist", 1, 0), ("zonal_stats", 1, 0), ("pip_join_shuffle", 1, 1), ("intersects_join", 2, 1),
    ):
        plan = qs[name](spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == plan.count("ArrowEvalPython [_intersects(") == refines, (name, plan)
        assert plan.count("MapInArrow ") == plan.count("MapInArrow _decode_geojson(") == inputs, (name, plan)


def _executed_nodes(df):
    """(node, under a broadcast exchange, is a leaf) for every node of
    ``df``'s executed plan, walking into AQE query stages and cached
    relations the way perfbench/tracer.py does."""
    out, seen = [], set()
    stack = [(df._jdf.queryExecution().executedPlan(), False)]
    while stack:
        node, bcast = stack.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        cls = node.getClass().getSimpleName()
        bcast = bcast or cls == "BroadcastExchangeExec"
        if cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls == "InMemoryTableScanExec":
            kids = [node.relation().cachedPlan()]
        elif cls == "ReusedExchangeExec":
            kids = [node.child()]
        else:
            ch = node.children()
            kids = [ch.apply(i) for i in range(ch.size())]
        out.append((node, bcast, not kids))
        stack.extend((k, bcast) for k in kids)
    return out


def _executed_leaves(df):
    """(node name, output column names, under a broadcast exchange) of
    every leaf of ``df``'s executed plan (_executed_nodes)."""
    out = []
    for node, bcast, leaf in _executed_nodes(df):
        if leaf:
            cols = node.output()
            out.append((node.nodeName(), {cols.apply(i).name() for i in range(cols.size())}, bcast))
    return out


def test_driver_relations_plan_no_python_rdd(spark, monkeypatch, tmp_path):
    """Relations an operator builds on the driver are Arrow local
    relations, so executing the query runs no Python worker just to scan
    them: after collecting pip_join_docs_any (sf0.001) and zonal_stats
    on both sides of the broadcast gate, and the board pip_join at its
    own gate, no executed plan (AQE stages and cached plans included)
    has a ``Scan ExistingRDD`` leaf, and the broadcast cover or
    contribution side is a LocalTableScan on the broadcast side; the
    distributed side broadcasts no local relation at all.  The dim is
    the board's rectangle dim written to parquet, so the caller's own
    source is not a driver list either."""
    from gdal_boots_spark.operators import cover
    from gdal_boots_spark.operators.spatial_join import pip_join_docs_any
    from gdal_boots_spark.operators.zonal import zonal_stats
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    ppath = str(tmp_path / "dim.parquet")
    rect_polygons_df(spark).select("poly_id", "geojson").write.parquet(ppath)
    dim = spark.read.parquet(ppath)
    grid = RasterGrid(  # the board zonal_stats raster
        raster_id="zs", epsg=4326, transform=(0.01, 0.0, 26.0, 0.0, -0.01, 55.0),
        width=300, height=200, tile_w=64, tile_h=64, bands=1, dtype="int32",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    docs = interleaved_docs(spark, SF_SMOKE, poly_spans=True)
    cover_cols, contrib_cols = {"cell_id", "poly_id"}, {"tile_x", "tile_y", "poly_id"}

    def check(name, df, local_cols):
        assert df.count() > 0, name
        leaves = _executed_leaves(df)
        assert not [n for n, _, _ in leaves if n.startswith("Scan ExistingRDD")], (name, leaves)
        local = [cols for n, cols, bcast in leaves if n == "LocalTableScan" and bcast]
        assert any(local_cols <= cols for cols in local) if local_cols else not local, (name, leaves)

    check("pip_join", entrymod.queries()["pip_join"](spark, SF_SMOKE), cover_cols)
    for side, ceiling in GATE_SIDES.items():
        monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", ceiling)
        check(f"pip_join_docs_any/{side}", pip_join_docs_any(docs, dim), cover_cols if side == "broadcast" else None)
        check(f"zonal_stats/{side}", zonal_stats(spark, tiles, grid, dim), contrib_cols if side == "broadcast" else None)



def _mixed_dim(spark):
    """Convex polygons, rectangles and a holed polygon over the
    interleaved docs' lon/lat box (overlaps included)."""
    import json

    def ring(*pts):
        return [list(p) for p in pts + pts[:1]]

    def hexagon(cx, cy, r):
        t = np.linspace(0.0, 2 * np.pi, 7)[:-1] + 0.3
        return ring(*zip(cx + r * np.cos(t), cy + r * 0.6 * np.sin(t)))

    def box(x0, y0, x1, y1):
        return ring((x0, y0), (x1, y0), (x1, y1), (x0, y1))

    rings = {
        1: [hexagon(26.5, 53.5, 0.4)],
        2: [hexagon(27.6, 54.3, 0.5)],
        3: [ring((28.1, 53.1), (28.9, 53.3), (28.4, 54.0))],
        4: [box(26.0, 54.0, 26.8, 54.8)],
        5: [box(27.8, 54.4, 28.9, 54.95)],
        6: [box(27.0, 53.0, 28.0, 53.9), box(27.3, 53.3, 27.7, 53.6)],
    }
    return spark.createDataFrame(
        [(pid, json.dumps({"type": "Polygon", "coordinates": r})) for pid, r in rings.items()],
        "poly_id long, geojson string",
    )


def test_span_join_one_pass(spark, monkeypatch):
    """pip_join_docs_any runs ONE span pass on both sides of the
    broadcast gate: over a mixed dim (convex polygons, rectangles, a
    holed polygon), its executed plan, walked through the AQE stages,
    holds exactly one exact refine, one decode of the docs, on the
    distributed side one decode of the dim, and no cached relation.
    Its Point pairs equal pip_join_docs's on the same docs and dim."""
    from gdal_boots_spark import memo
    from gdal_boots_spark.functions.geometry_fns import point_xy_sql
    from gdal_boots_spark.operators import cover
    from gdal_boots_spark.operators.spans import extract_geo_spans
    from gdal_boots_spark.operators.spatial_join import pip_join_docs, pip_join_docs_any

    docs = interleaved_docs(spark, SF_SMOKE, poly_spans=True)
    dim = _mixed_dim(spark)
    points = extract_geo_spans(docs).where(point_xy_sql("text")[2]).select("doc_id", "span_pos")
    points = {tuple(r) for r in points.collect()}
    out = {}
    for side, ceiling in GATE_SIDES.items():
        monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", ceiling)
        memo.clear()
        df = pip_join_docs_any(docs, dim)
        out[side] = {tuple(r) for r in df.collect()}
        nodes = [node.simpleString(100) for node, _, _ in _executed_nodes(df)]

        def count(marker):
            return sum(marker in n for n in nodes)

        assert count("ArrowEvalPython [_intersects(") == 1, (side, nodes)
        assert count("MapInArrow _decode_geojson(doc_id") == 1, (side, nodes)
        assert count("_decode_geojson(poly_id") == (side == "distributed"), (side, nodes)
        assert count("InMemoryTableScan") == 0, (side, nodes)
        want = {tuple(r) for r in pip_join_docs(docs, dim).select("doc_id", "span_pos", "poly_id").collect()}
        assert {p for p in out[side] if p[:2] in points} == want and len(want) > 50, side
    assert out["broadcast"] == out["distributed"]
    assert len({p[2] for p in out["broadcast"]}) == 6


@pytest.mark.parametrize("name", ["order", "my id"])
def test_reserved_and_spaced_column_names(spark, monkeypatch, name):
    """Operators that build SQL strings quote the caller's column names:
    a reserved word or a name with a space gives the same rows as the
    plain name."""
    from gdal_boots_spark.operators import cover
    from gdal_boots_spark.operators.knn import knn_join, radius_join
    from gdal_boots_spark.operators.sampling import values_by_points
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    xy = [(i, 26.0 + (i * 37 % 50) / 20.0, 53.0 + (i * 11 % 40) / 20.0) for i in range(40)]
    plain = spark.createDataFrame(xy, "id long, x double, y double")
    odd = plain.withColumnRenamed("id", name)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def knn(q, b, col):
        return knn_join(q, b, k=3, q_id=col, b_id=col)

    assert rows(knn(odd, odd, name)) == rows(knn(plain, plain, "id"))

    def near(q, b, col):
        return radius_join(q, b, 0.3, q_id=col, b_id=col)

    assert rows(near(odd, odd, name)) == rows(near(plain, plain, "id"))

    grid = RasterGrid(
        raster_id="q", epsg=4326, transform=(1.0, 0.0, 0.0, 0.0, -1.0, 3.0),
        width=5, height=3, tile_w=2, tile_h=2, bands=1, dtype="int32",
    )
    tiles = generate_tiles(spark, grid, ramp_fill)
    pts = spark.createDataFrame([(0, 0.2, 2.5), (1, 4.5, 0.5), (2, 9.0, 9.0)], "id long, x double, y double")
    for ceiling in GATE_SIDES.values():
        monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", ceiling)
        got = values_by_points(
            pts.toDF(name, f"{name} x", f"{name} y"), tiles, grid,
            id_col=name, x_col=f"{name} x", y_col=f"{name} y",
        )
        assert rows(got) == rows(values_by_points(pts, tiles, grid, id_col="id"))
    monkeypatch.undo()

    polys = rect_polygons_df(spark)
    tri = spark.createDataFrame(
        [(7, '{"type":"Polygon","coordinates":[[[26.0,53.0],[28.0,53.0],[26.0,55.0],[26.0,53.0]]]}')],
        "poly_id long, geojson string",
    )
    for dim in (polys, tri):  # the rect bypass and the ray-cast refine
        got = pip_join_points(odd.toDF(name, name + "x", "select"), dim, x_col=name + "x", y_col="select")
        exp = pip_join_points(plain, dim)
        assert rows(got.select(name, "poly_id")) == rows(exp.select("id", "poly_id"))



def _board_case(name, **kw):
    """A gate-matrix case: the board query ``name`` against its oracle."""

    def run(spark, side):
        df = entrymod.all_queries()[name](spark, SF_ORACLE)
        compare_to_oracle(df, entrymod.all_oracle_sql()[name], SF_ORACLE, **kw)
        return df, None

    return run


def _sampling_case(spark, side):
    """point_sampling, plus a sparse tile table: an in-bounds point whose
    tile row is absent reads NULL, and the broadcast gather shuffles
    nothing."""
    from gdal_boots_spark.operators.sampling import values_by_points
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    df, _ = _board_case("point_sampling")(spark, side)
    grid = RasterGrid("r", 4326, (1.0, 0.0, 0.0, 0.0, -1.0, 3.0), 5, 3, tile_w=2, tile_h=2, bands=2, dtype="int32")
    tiles = generate_tiles(spark, grid, ramp_fill).where(F.col("tile_key") != "r/0/0/1")
    pts = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(
            [(0.2, 2.5), (2.5, 2.5), (4.5, 0.5), (-1.0, 1.0), (10.0, 10.0), (0.0, 3.0), (5.0, 0.0)]
        )],
        "point_id long, x double, y double",
    )
    sparse = values_by_points(pts, tiles, grid)
    got = {(r["point_id"], r["band"]): r["value"] for r in sparse.collect()}
    # the dropped tile covers px in [2,4), py in [0,2): point (2.5, 2.5)
    # -> px 2, py 0 -> NULL on band 0, real value on band 1
    assert len(got) == 14 and got[(1, 0)] is None and got[(1, 1)] is not None
    if side == "broadcast":
        plan = sparse._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning" not in plan and "CoGroup" not in plan, plan
    return df, got


def _embedding_case(spark, side):
    """embedding_neardup on the sf0.01 fixture; the bucketed side must
    return the exact side's pairs.  Low-threshold regime: 2-bit hashes x
    24 tables drive the per-pair miss probability below 1e-5, and the
    deterministic planes make that outcome fixed, not flaky; the
    integer-seeded embeddings make cos values bit-identical."""
    from gdal_boots_spark.operators.dedup import embedding_neardup

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    df = embedding_neardup(emb, threshold=0.4, bits=2, n_tables=24)
    pairs = {(r["a"], r["b"], round(r["cos"], 9)) for r in df.collect()}
    assert len(pairs) > 10
    return df, pairs


# gate-switched operator -> (case, a node only its distributed side's
# executed plan holds)
GATE_CASES = {
    "pip_join": (_board_case("pip_join", float_cols=("x", "y")), "MapInArrow _decode_geojson("),
    # the span join's own decode runs on both sides; only the
    # distributed side decodes the polygon dim
    "pip_join_poly_spans": (_board_case("pip_join_poly_spans"), "MapInArrow _decode_geojson(poly_id"),
    "point_sampling": (_sampling_case, "FlatMapCoGroupsInPandas"),
    "embedding_neardup": (_embedding_case, "MapInArrow lsh_bucketize("),
}


@pytest.mark.parametrize("name", list(GATE_CASES))
def test_broadcast_gate_both_ways(spark, monkeypatch, name):
    """One constant, cover.BROADCAST_MAX_BYTES, forces each gate-switched
    operator to each physical side.  The executed plan proves which side
    ran, each side matches the DuckDB oracle, and the two sides return the
    same rows (embedding_neardup: its bucketed side equals its exact
    side)."""
    from gdal_boots_spark.operators import cover

    run, marker = GATE_CASES[name]
    out = {}
    for side, ceiling in GATE_SIDES.items():
        monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", ceiling)
        df, out[side] = run(spark, side)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert (marker in plan) == (side == "distributed"), (side, plan)
    assert out["broadcast"] == out["distributed"]


def test_span_join_distributed_never_collects(spark, monkeypatch, tmp_path):
    """Forced distributed, cold pip_join_docs_any and
    poly_span_candidates builds over a parquet dim never collect it:
    poly_dim is never called and no SparkContext.broadcast is made."""
    from pyspark import SparkContext

    from gdal_boots_spark import memo
    from gdal_boots_spark.operators import cover
    from gdal_boots_spark.operators import spatial_join as sj

    path = str(tmp_path / "polys.parquet")
    rect_polygons_df(spark).write.parquet(path)
    polys = spark.read.parquet(path)
    docs = interleaved_docs(spark, SF_SMOKE, poly_spans=True)
    calls = []
    real_broadcast = SparkContext.broadcast

    def broadcast(self, value):
        calls.append("broadcast")
        return real_broadcast(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", broadcast)
    monkeypatch.setattr(sj, "poly_dim", lambda p: calls.append("poly_dim"))
    monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", GATE_SIDES["distributed"])
    for build in (sj.pip_join_docs_any, sj.poly_span_candidates):
        memo.clear()
        assert build(docs, polys).count() > 0
    memo.clear()
    assert calls == []


def test_dim_null_and_empty_geometry_rows(spark, monkeypatch):
    """A polygon dim with a null geojson row and an empty Polygon gives,
    on both sides of the broadcast gate, exactly what the dim of its one
    good rectangle gives: pip_join_points, dense and sparse rasterize and
    zonal_stats all skip the two rows (both sides drop them in the one
    decode pass) and the two sides agree."""
    from gdal_boots_spark.operators import cover
    from gdal_boots_spark.operators.rasterize import rasterize
    from gdal_boots_spark.operators.zonal import zonal_stats
    from gdal_boots_spark.sources.synth import rect_ring_geojson
    from gdal_boots_spark.sources.tiles import RasterGrid, generate_tiles, ramp_fill

    schema = "poly_id long, geojson string"
    good = (1, rect_ring_geojson(0.5505, 0.5505, 2.0505, 2.0505))
    bad = [(2, None), (3, '{"type":"Polygon","coordinates":[]}')]
    pts = spark.createDataFrame(
        [(0, 1.0, 1.0), (1, 3.0, 3.0), (2, 0.2, 0.2), (3, 2.0, 0.6)], "point_id long, x double, y double"
    )
    grid = RasterGrid("nul", 4326, (0.1, 0.0, 0.0, 0.0, -0.1, 4.0), 40, 40, tile_w=16, tile_h=16, dtype="int32")
    tiles = generate_tiles(spark, grid, ramp_fill)

    def results(rows):
        polys = spark.createDataFrame(rows, schema)
        return {
            "pip": sorted(tuple(r) for r in pip_join_points(pts, polys).select("point_id", "poly_id").collect()),
            **{
                f"rasterize_dense={dense}": sorted(
                    (r["tile_key"], bytes(r["data"])) for r in rasterize(spark, polys, grid, dense=dense).collect()
                )
                for dense in (False, True)
            },
            "zonal": sorted(tuple(r) for r in zonal_stats(spark, tiles, grid, polys).collect()),
        }

    out = {}
    for side, ceiling in GATE_SIDES.items():
        monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", ceiling)
        out[side] = results([good])
        assert results([good, *bad]) == out[side], side
    assert out["broadcast"] == out["distributed"]
    assert out["broadcast"]["pip"] == [(0, 1), (3, 1)] and len(out["broadcast"]["rasterize_dense=False"]) == 4


def test_no_operator_takes_a_path_flag():
    """The broadcast gate alone picks each operator's physical side: no
    gate-switched operator takes a path selector."""
    import inspect

    from gdal_boots_spark.operators.dedup import embedding_neardup
    from gdal_boots_spark.operators.rasterize import rasterize
    from gdal_boots_spark.operators.sampling import values_by_points
    from gdal_boots_spark.operators.zonal import zonal_stats

    for fn in (pip_join_points, rasterize, zonal_stats, values_by_points, embedding_neardup):
        assert "distributed" not in inspect.signature(fn).parameters, fn.__name__
