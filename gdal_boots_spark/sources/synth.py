"""Deterministic synthetic sources shared by engine and oracle.

The driver's testdata ships a *flat* documents table (doc_id, text,
lang, source, n_chars).  The north rule's input is an *interleaved*
spans table (FIXTURES.md §1).  We derive the interleaved table from the
flat one with **pure integer arithmetic on doc_id** — no RNG — so the
DuckDB oracle can reproduce every derived value in ANSI SQL and the
whole pipeline stays deterministic at any scale factor.

Derivations (doc_id = d):
    has_geo    : d % 10 IN (0,1,2)          (~30% of docs)
    has_media  : d % 10 IN (8,9)            (~20%)
    lon        : 26.0 + ((d * 7919)   % 3000) / 1000.0   in [26, 29)
    lat        : 53.0 + ((d * 104729) % 2000) / 1000.0   in [53, 55)
    media_ref  : 'r0/0/<(d/8)%8>/<d%8>'      (a tiles.tile_key)

The lon/lat constants are the reference's Minsk region
(conftest.py:36-60).  Points have exactly 3 decimals; every polygon
corner below has 4 decimals ending in 5, so no point ever sits exactly
on a polygon edge and engine/oracle boundary semantics can never
disagree by a ULP.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from .. import memo
from ..functions.geometry_fns import double_lit_sql

GEO_MOD = (0, 1, 2)
MEDIA_MOD = (8, 9)

# poly_id, minx, miny, maxx, maxy — a 4x3 grid of rectangles over the
# point region plus two larger overlapping rectangles (multi-match +
# a deliberately hot polygon for skew handling tests).
RECTS: list[tuple[int, float, float, float, float]] = [
    # 4 x 3 grid, 0.75 x 0.65 pitch, corners at 4 decimals ending in 5
    *[
        (
            i * 3 + j,
            round(26.0 + i * 0.75 + 0.0505, 4),
            round(53.0 + j * 0.65 + 0.0505, 4),
            round(26.0 + i * 0.75 + 0.6495, 4),
            round(53.0 + j * 0.65 + 0.5995, 4),
        )
        for i in range(4)
        for j in range(3)
    ],
    (100, 26.5005, 53.2505, 28.4995, 54.7495),  # big overlap rect
    (101, 27.0005, 53.0005, 27.9995, 54.9995),  # tall hot rect
]


def rect_ring_geojson(minx: float, miny: float, maxx: float, maxy: float) -> str:
    ring = [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]]
    return json.dumps({"type": "Polygon", "coordinates": [ring]}, separators=(",", ":"))


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, remembered per session and file
    listing: a repeated read re-derives the relation (file listing +
    footer schema, ~80 ms) on every cold plan build, which bench
    best-of-N reps pay per rep.  This is the caching a catalog table
    gives for free; every execution still scans the parquet files, and
    a rewritten path (new listing) reads afresh."""
    return memo.get("parquet", memo.path_key(path), lambda: spark.read.parquet(path))


def rect_polygons_df(spark: SparkSession) -> DataFrame:
    """The polygon dimension table: (poly_id, minx..maxy, geojson).
    Memoised per session: createDataFrame ships the rows through py4j on
    every call, and the rows derive from the RECTS constant only."""

    def build():
        rows = [(*r, rect_ring_geojson(*r[1:])) for r in RECTS]
        return spark.createDataFrame(
            rows, "poly_id long, minx double, miny double, maxx double, maxy double, geojson string"
        )

    return memo.get("rect_dim", (), build, limit=4)


def rects_sql_values(table_alias: str = "p") -> str:
    """The same polygon set as a SQL VALUES clause for the DuckDB oracle."""
    vals = ", ".join(f"({pid}, {minx}, {miny}, {maxx}, {maxy})" for pid, minx, miny, maxx, maxy in RECTS)
    return f"(VALUES {vals}) AS {table_alias}(poly_id, minx, miny, maxx, maxy)"


def _in_list(values) -> str:
    return ", ".join(str(v) for v in values)


# The doc_id -> geometry derivations, once as DuckDB SQL for the oracle
# (SQL_*) and once as the engine's Spark SQL (SPARK_*).  The two spell
# the same arithmetic; the Spark forms carry the D suffix on every
# float literal (bare decimals parse as DECIMAL in Spark SQL) and the
# L suffix on integer ones.
SQL_LON = "26.0 + ((doc_id * 7919) % 3000) / 1000.0"
SQL_LAT = "53.0 + ((doc_id * 104729) % 2000) / 1000.0"
SPARK_LON = "26.0D + CAST((doc_id * 7919L) % 3000L AS DOUBLE) / 1000.0D"
SPARK_LAT = "53.0D + CAST((doc_id * 104729L) % 2000L AS DOUBLE) / 1000.0D"
SQL_HAS_GEO = f"doc_id % 10 IN ({_in_list(GEO_MOD)})"
SQL_HAS_MEDIA = f"doc_id % 10 IN ({_in_list(MEDIA_MOD)})"

# polygon-span derivation (interleaved_docs(poly_spans=True), d % 10 == 3):
# corners have a 5th decimal of 3, so they can never coincide with the
# RECTS corners (4 decimals ending in 5) or the point lattice
# (3 decimals) — predicate comparisons always have >= 1e-5 margin,
# which 1-ULP string-round-trip noise cannot flip.
SQL_HAS_POLY = "doc_id % 10 = 3"
SQL_PMINX = "26.00003 + ((doc_id * 3571) % 2700) / 1000.0"
SQL_PMINY = "53.00003 + ((doc_id * 6763) % 1700) / 1000.0"
SPARK_PMINX = "26.00003D + CAST((doc_id * 3571L) % 2700L AS DOUBLE) / 1000.0D"
SPARK_PMINY = "53.00003D + CAST((doc_id * 6763L) % 1700L AS DOUBLE) / 1000.0D"
POLY_SPAN_W, POLY_SPAN_H = 0.2, 0.15


def interleaved_docs(
    spark: SparkSession, sf_dir: str, replicate: int = 1, poly_spans: bool = False
) -> DataFrame:
    """Flat documents parquet -> interleaved spans table
    (doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)
    — the exact input_hint schema.  Built entirely with native Column
    expressions (codegen; zero Python at runtime).

    ``replicate=k`` deterministically amplifies the table k-fold
    (doc_id' = doc_id*k + i, so every replica gets distinct
    geometry/media derivations) — used by bench/scaling runs to reach
    parallelism-relevant volume; correctness runs use replicate=1.

    ``poly_spans=True`` additionally gives docs with d % 10 == 3 a geo
    span carrying a rectangular *Polygon* (SQL_PMINX/SQL_PMINY
    derivation) — the non-Point-geometry face of the flagship join.
    """
    docs = read_parquet_memo(spark, f"{sf_dir}/documents.parquet")
    if replicate > 1:
        # repartition the SEED before the crossJoin: the sf parquet is a
        # single file/partition, and a broadcast nested-loop crossJoin
        # inherits the left side's partitioning — without this the whole
        # replicated table is generated by ONE task
        n_parts = max(spark.sparkContext.defaultParallelism * 2, 8)
        reps = spark.range(replicate).selectExpr("id AS _rep")
        docs = docs.repartition(n_parts).crossJoin(reps).selectExpr(
            f"doc_id * {replicate}L + _rep AS doc_id", "text"
        )
    else:
        # same seed gotcha WITHOUT replication (r8): the un-replicated
        # board queries derived spans + parsed geometry for the whole
        # sf table on ONE task.  Zero-job gated spread: no-op at
        # correctness SFs (tiny seeds) and for well-partitioned inputs.
        from ..partitioning import spread_small_scan

        docs = spread_small_scan(docs)
    # The whole derivation is ONE server-side-parsed selectExpr (r8: the
    # Column-tree form cost ~350 py4j round trips per cold plan build)
    # over the SPARK_* fragments above.
    geo_text = (
        "format_string('{\"type\":\"Point\",\"coordinates\":[%.6f,%.6f]}', "
        f"{SPARK_LON}, {SPARK_LAT})"
    )
    media_ref = "format_string('r0/0/%d/%d', CAST(doc_id / 8 AS BIGINT) % 8L, doc_id % 8L)"
    has_geo, has_media = SQL_HAS_GEO, SQL_HAS_MEDIA
    if poly_spans:
        pminx, pminy = SPARK_PMINX, SPARK_PMINY
        pmaxx = f"({pminx}) + {double_lit_sql(POLY_SPAN_W)}"
        pmaxy = f"({pminy}) + {double_lit_sql(POLY_SPAN_H)}"
        ring = f"{pminx}, {pminy}, {pmaxx}, {pminy}, {pmaxx}, {pmaxy}, {pminx}, {pmaxy}, {pminx}, {pminy}"
        poly_text = (
            "format_string('{\"type\":\"Polygon\",\"coordinates\":"
            f"[[[%.5f,%.5f],[%.5f,%.5f],[%.5f,%.5f],[%.5f,%.5f],[%.5f,%.5f]]]}}', {ring})"
        )
        # 1 in 20 poly-span docs (d % 200 == 43; present from sf0.001
        # up) wraps the SAME rect in a heterogeneous GeometryCollection
        # with its own diagonal LineString.  The line is contained in
        # the rect child, so collection-intersects <=> rect-intersects
        # and the analytic rect oracle stays exact — while the span
        # exercises the packed gtype-7 decode + per-child refinement
        # dispatch end-to-end.  Kept rare: GC rows take the per-row
        # from_geojson decode, not the batched fromstring fast path.
        gc_text = (
            "format_string('{\"type\":\"GeometryCollection\",\"geometries\":["
            '{"type":"Polygon","coordinates":[[[%.5f,%.5f],[%.5f,%.5f],[%.5f,%.5f],[%.5f,%.5f],[%.5f,%.5f]]]},'
            '{"type":"LineString","coordinates":[[%.5f,%.5f],[%.5f,%.5f]]}]}\', '
            f"{ring}, {pminx}, {pminy}, {pmaxx}, {pmaxy})"
        )
        poly_text = f"CASE WHEN doc_id % 200 = 43 THEN {gc_text} ELSE {poly_text} END"
        has_poly = SQL_HAS_POLY
        geo_text = f"CASE WHEN {has_geo} THEN {geo_text} WHEN {has_poly} THEN {poly_text} END"
        has_geo = f"(({has_geo}) OR ({has_poly}))"

    def span(kind, text, mref, off):
        return f"named_struct('kind', {kind}, 'text', {text}, 'media_ref', {mref}, 'offset', {off})"

    nul = "CAST(NULL AS STRING)"
    spans = ", ".join(
        (
            span("'text'", "substring(text, 1, 40)", nul, 0),
            span(f"CASE WHEN {has_geo} THEN 'geo' END", f"CASE WHEN {has_geo} THEN {geo_text} END", nul, 1),
            span(f"CASE WHEN {has_media} THEN 'media' END", nul, f"CASE WHEN {has_media} THEN {media_ref} END", 2),
            span("'text'", "substring(text, 41, 40)", nul, 3),
        )
    )
    return docs.selectExpr(
        "CAST(doc_id AS STRING) AS doc_id",
        f"filter(array({spans}), s -> s.kind IS NOT NULL) AS spans",
    )


# --- features table (FIXTURES.md §3) ---------------------------------------

# fixture geometries traced from the reference test suite (data, not code):
# the 17-vertex Minsk polygon (conftest.py:36-60), the 5-vertex Paris
# polygon with exact 3857 goldens (test_geometry.py:52-95), the bowtie
# and self-touching make_valid inputs (test_geometry.py:184-247), empty
# geometries (test_geometry.py:121-128)
MINSK_POLYGON = {
    "type": "Polygon",
    "coordinates": [[
        [27.40966796875, 53.99202955302058], [27.421035766601562, 53.88803004514291],
        [27.437515258789062, 53.82557246196687], [27.50925064086914, 53.802742944590686],
        [27.619285583496094, 53.81699954098488], [27.680397033691406, 53.876979229976655],
        [27.693443298339844, 53.94566726301008], [27.668724060058594, 54.00384682717626],
        [27.563495635986328, 54.03550369540078], [27.481040954589844, 54.03429889418305],
        [27.42652893066406, 54.020805048030325], [27.40966796875, 53.99202955302058],
        [27.410011291503906, 53.99202955302058], [27.40966796875, 53.99192875509375],
        [27.409324645996094, 53.99202955302058], [27.40966796875, 53.99213035038003],
        [27.40966796875, 53.99202955302058],
    ]],
}
PARIS_POLYGON = {
    "type": "Polygon",
    "coordinates": [[
        [2.295279, 48.860081], [2.291867, 48.857713], [2.293404, 48.856723],
        [2.296872, 48.859022], [2.295279, 48.860081],
    ]],
}
BOWTIE_POLYGON = {
    "type": "Polygon",
    "coordinates": [[
        [28.377685, 53.533778], [28.388671, 54.278054], [26.768188, 53.504384],
        [26.845092, 54.226707], [28.377685, 53.533778],
    ]],
}


def features_df(spark: SparkSession) -> DataFrame:
    """The FIXTURES.md §3 features table: named fixture geometries plus
    a deterministic mixed-type layer (points/linestrings/polygons/
    multipolygons) with the reference's typed fields
    (FIELD_TYPES, gdal.py:997-1003)."""
    rows = []

    def add(fid, layer, gj, name, category, rank, score, flag, props):
        rows.append(
            (
                fid, layer, 4326, gj["type"], json.dumps(gj, separators=(",", ":")),
                name, category, rank, score, flag, json.dumps(props, separators=(",", ":")),
            )
        )

    add(1, "fixtures", MINSK_POLYGON, "minsk", "boundary", 1, 0.9, True, {"src": "conftest"})
    add(2, "fixtures", PARIS_POLYGON, "paris", "landmark", 2, 0.8, False, {"epsg3857": True})
    add(3, "fixtures", BOWTIE_POLYGON, "bowtie", "invalid", 3, 0.1, False, {})
    add(4, "fixtures", {"type": "Point", "coordinates": []}, "empty_pt", "empty", 4, 0.0, False, {})
    fid = 10
    for i in range(38):  # mixed 38-feature layer (test_vector.py:13-18 analog)
        x = 26.0 + (i * 37 % 100) / 50.0
        y = 53.0 + (i * 61 % 100) / 50.0
        if i % 4 == 0:
            gj = {"type": "Point", "coordinates": [x, y]}
        elif i % 4 == 1:
            gj = {"type": "LineString", "coordinates": [[x, y], [x + 0.1, y + 0.1], [x + 0.2, y]]}
        elif i % 4 == 2:
            gj = {"type": "Polygon", "coordinates": [[[x, y], [x + 0.2, y], [x + 0.2, y + 0.2], [x, y], ]]}
        else:
            gj = {
                "type": "MultiPolygon",
                "coordinates": [[[[x, y], [x + 0.1, y], [x + 0.1, y + 0.1], [x, y]]]],
            }
        add(fid + i, "mixed", gj, f"f{i}", ["a", "b", "c"][i % 3], i, i / 38.0, i % 2 == 0, {"i": i})

    return spark.createDataFrame(
        rows,
        "fid long, layer string, epsg int, gtype string, geojson string, "
        "name string, category string, rank long, score double, flag boolean, props_json string",
    )
