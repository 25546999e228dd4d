"""Spark-facing geometry functions.

Three tiers, per the engine's "UDFs are the slow path" rule:

* **SQL-string expressions** where the math is pure arithmetic or
  string ops — Point coordinates (``point_xy_sql``) and cell ids
  (``cell_id_sql``, built in ``geom.cells`` with the rest of the cell
  grid) stay entirely in whole-stage codegen; no Python is involved at
  runtime.
* **One GeoJSON decode pass** (``decode_geojson``): a single mapInArrow
  that emits the packed geometry, its bbox and a rectangle flag as
  concrete columns.  Every operator that reads a GeoJSON column decodes
  it here, exactly once.
* **One exact refine** (geom.pip.intersects_polygons) with two Spark
  surfaces.  ``where_intersects``: a boolean Arrow UDF in a WHERE over
  the decode pass's columns (or Point x/y) and a polygon id, for
  candidates a JVM join produced.  ``intersecting_pairs``: the span
  join's broadcast side, where one mapInArrow decodes, looks each
  geometry up in a collected dim's cell cover and refines it in the
  same worker, so no geometry goes back to the JVM.
* **Arrow-batched pandas UDFs** for row-preserving column codecs and
  NumPy kernels (GeoJSON decode/encode with null in, null out; CRS
  transform; make_valid) — Series/DataFrame in, never per-row Python on
  the Spark side (reference contrast: gdal_boots transforms one feature
  per C call in a Python loop, gdal.py:1316-1325).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..geom import crs as _crs
from ..geom.cells import cell_id_sql, cover_pairs  # noqa: F401  (cell_id_sql re-exported: the cell id as SQL)
from ..geom.packed import PackedGeometry, from_geojson, to_geojson
from ..geom.pip import Probes, intersects_polygons, point_probes, rect_rings

GEOMETRY_TYPE = StructType(
    [
        StructField("gtype", ByteType()),
        StructField("coords", ArrayType(DoubleType())),
        StructField("ring_offsets", ArrayType(IntegerType())),
        StructField("part_offsets", ArrayType(IntegerType())),
        # GeometryCollection (gtype 7) only, null otherwise — child
        # geometry types + their part spans (geom/packed.py layout)
        StructField("part_types", ArrayType(ByteType())),
        StructField("child_offsets", ArrayType(IntegerType())),
    ]
)

# --- native (JVM-side, codegen) ----------------------------------------

def double_lit_sql(v: float) -> str:
    """A Python float as a Spark SQL DOUBLE literal: bare decimals parse
    as DECIMAL (need the D suffix), exponent forms are already DOUBLE
    (and reject a D suffix); NaN and infinities have no literal."""
    r = repr(float(v))
    if r in ("nan", "inf", "-inf"):
        return f"CAST('{r}' AS DOUBLE)"
    return r if ("e" in r or "E" in r) else r + "D"


def quote_ident(name: str) -> str:
    """A column name as a Spark SQL identifier: backtick-quoted, so
    reserved words (``order``) and names with spaces parse too."""
    return "`" + name.replace("`", "``") + "`"


def point_xy_sql(text: str = "text") -> tuple[str, str, str]:
    """(x, y, is_point) SQL fragments for a GeoJSON Point string — pure
    string ops, one server-side parse per fragment.

    Measured on this box: Spark's ``from_json`` does not scale with
    cores (JacksonParser contention: 7.0s @8 cores -> 8.3s @32 on 6M
    strings) while substring/split ops scale near-linearly.  Points
    have un-nested coordinates, so the last '['..']' span is exactly
    the coordinate pair.  Every other geometry type is decoded by
    decode_geojson.
    """
    # a GeometryCollection may carry a Point CHILD and still must take
    # the decode path — '"Point"' alone would misroute it here (the
    # child's type matches the substring; MultiPoint does not).
    # Canonical compact spans short-circuit on a 15-char StartsWith
    # (codegen evaluates || lazily): the root type being Point rules
    # out the GC-child case without either full-string scan — the two
    # contains() scans cost ~15-30% of geo_extract/cell_assign (r5
    # interleaved A/B).  The trailing quote in the prefix blocks
    # "PointX"-style false positives; non-canonical forms (whitespace,
    # reordered keys) fall through to the exact two-scan predicate.
    inner = f"substring_index(substring_index({text}, '[', -1), ']', 1)"
    is_point = (
        f"(startswith({text}, '{{\"type\":\"Point\"') OR "
        f"(contains({text}, '\"Point\"') AND NOT contains({text}, '\"GeometryCollection\"')))"
    )
    return (
        f"CAST(split({inner}, ',')[0] AS DOUBLE)",
        f"CAST(split({inner}, ',')[1] AS DOUBLE)",
        is_point,
    )


# --- the one GeoJSON decode pass (mapInArrow) ------------------------------

# "[]," AND pre-existing whitespace all become newlines in ONE pass
# (r8: the old two-pass translate-to-space + replace(" ", "\n") copied
# the multi-MB joined blob an extra time per batch)
_TBL = str.maketrans("[], ", "\n\n\n\n")


def _parse_float_segments(blobs: list) -> np.ndarray:
    """Coord blobs -> ONE float64 array with NaN separators between
    segments, through Arrow's CSV float parser (single-threaded; it
    measured ~1.8x np.fromstring on the joined blob).  The column is
    typed float64, so a token that is not a number fails the whole
    parse: the result is then EMPTY, and the caller's count check sends
    its rows to the per-row from_geojson path.  Guards stay a tight
    per-row str loop (vectorizing short-string scans through Arrow
    compute measured 7.7x SLOWER); only the float parse runs through
    Arrow."""
    import pyarrow as pa
    import pyarrow.csv as pacsv

    joined = "\nnan\n".join(blobs).translate(_TBL)
    try:
        return pacsv.read_csv(
            pa.py_buffer(joined.encode()),
            read_options=pacsv.ReadOptions(column_names=["v"], use_threads=False),
            convert_options=pacsv.ConvertOptions(column_types={"v": pa.float64()}),
        ).column(0).to_numpy()
    except pa.ArrowInvalid:
        return np.empty(0, np.float64)


def decode_geojson(df: DataFrame, col: str, keep: list[str], blank_rect: bool = False) -> DataFrame:
    """The one GeoJSON decode pass: ``df`` -> (``keep``..., geom
    GEOMETRY_TYPE, minx, miny, maxx, maxy, rect) as ONE mapInArrow.

    ``keep`` columns (any type) pass through untouched.  Rows whose
    ``col`` is null, fails to parse or has no coordinates are dropped;
    callers that must keep every row use the row-preserving
    geojson_decode_udf.  ``rect`` flags single-ring axis-aligned
    rectangles (geom.pip.rect_rings); ``blank_rect=True`` ships those
    rows PAYLOAD-FREE (empty geom lists), for callers that read a
    rectangle from its bbox columns alone.

    A mapInArrow node is a black-box projection the optimizer can
    neither split nor replicate: scalar decode/bounds pandas UDF pairs
    got duplicated by projection collapse into stacked ArrowEvalPython
    stages, parsing every geometry several times (measured 14.7s ->
    ~4s on 2M spans at local[32])."""
    schema = StructType(
        [df.schema[k] for k in keep]
        + [StructField("geom", GEOMETRY_TYPE)]
        + [StructField(c, DoubleType()) for c in ("minx", "miny", "maxx", "maxy")]
        + [StructField("rect", BooleanType())]
    )

    def _decode_geojson(batches):
        for batch in batches:
            yield from _decode_batch(batch, col, keep, blank_rect)

    return df.selectExpr(*(quote_ident(c) for c in [*keep, col])).mapInArrow(_decode_geojson, schema=schema)


_POINT_HEAD = '{"type":"Point","coordinates":['


def _point_fast_path(texts):
    """Rows of ``texts`` spelled as the compact 2-D Point
    ``{"type":"Point","coordinates":[x,y]}`` -> (row indices, their
    interleaved x,y), parsed as one _parse_float_segments call with one
    segment per row.  Unless every segment holds exactly two finite
    floats (a malformed, missing, extra or non-finite token), no rows
    are returned and every Point of the batch takes from_geojson."""
    rows, blobs = [], []
    for j, v in enumerate(texts):
        if v is not None and v.startswith(_POINT_HEAD) and v.endswith("]}"):
            b = v[len(_POINT_HEAD) : -2]
            if b.count(",") == 1 and "]" not in b:
                rows.append(j)
                blobs.append(b)
    if rows:
        nums = _parse_float_segments(blobs)
        if nums.size == 3 * len(rows) - 1:
            seg = np.append(nums, np.nan).reshape(-1, 3)
            if np.isnan(seg[:, 2]).all() and np.isfinite(seg[:, :2]).all():
                return np.asarray(rows, np.int64), seg[:, :2].ravel()
    return np.empty(0, np.int64), None


def _decode_batch(batch, col, keep, blank_rect):
    """decode_geojson over one RecordBatch, building the output columns
    DIRECTLY from flat buffers (_emit_decoded) — no pandas dict
    materialization on the way out.  Compact 2-D Points
    (_point_fast_path) and Polygons whose ``coordinates`` is the
    trailing field (the overwhelmingly common span shape, any ring
    count) each parse as one joined float blob; everything else falls
    back to from_geojson, and a row it rejects (malformed JSON, unknown
    type) is dropped."""
    n = batch.num_rows
    if n == 0:
        return
    texts = batch.column(batch.schema.get_field_index(col)).to_pylist()
    fastmask = np.zeros(n, dtype=bool)
    sel, xy = _point_fast_path(texts)
    if sel.size:
        fastmask[sel] = True
        k = sel.size
        pairs = np.arange(0, 2 * k + 1, 2)
        one = (np.tile(np.asarray([0, 1], np.int64), k), pairs)  # ring_offsets and part_offsets [0, 1]
        no_list = (np.empty(0), np.zeros(k + 1, np.int64))
        yield _emit_decoded(batch, keep, blank_rect, sel, np.ones(k, np.int8), [
            (xy, pairs), one, one, no_list, no_list,
        ])
    # fast-path rows parse as ONE nan-sentinel-joined float parse, one
    # segment per ring (per-row fromstring overhead was the decode hot
    # spot).  A segment-count mismatch (malformed token, literal 'nan')
    # is a complete safety net — every row then re-parses through
    # from_geojson.
    f_j: list[int] = []
    f_rc: list[int] = []     # ring counts
    f_blob: list[str] = []   # one blob PER RING, row-major
    f_pos: list[int] = []    # positions per ring ('[' count of its blob)
    for j, v in enumerate(texts):
        if v is not None and '"Polygon"' in v and v.endswith("]]]}"):
            i = v.find('"coordinates"')
            if i < 0:
                continue
            # ring count == "[[" occurrences in the coords blob
            # (non-overlapping, exactly one per ring start, with or
            # without whitespace after the commas — ADVICE r3), and
            # str.split on "[[" yields exactly those r ring bodies (the
            # stray "["/"]],"-junk around the floats is whitespace after
            # the translate table); a single ring skips the split, the
            # hot span shape, and its blob holds two extra '['
            r = v.count("[[", i)
            if r == 1:
                f_blob.append(v[i + 14 : -1])
                f_pos.append(f_blob[-1].count("[") - 2)
            elif r:
                rings = v[i + 14 : -1].split("[[")[1:]
                f_blob.extend(rings)
                f_pos.extend(b.count("[") for b in rings)
            else:
                continue
            f_j.append(j)
            f_rc.append(r)
    if f_blob:
        nums = _parse_float_segments(f_blob)
        isn = np.isnan(nums)
        if int(isn.sum()) == len(f_blob) - 1:
            seps = np.flatnonzero(isn)
            starts = np.concatenate(([0], seps + 1))
            rl = np.concatenate((seps, [nums.size])) - starts  # per-RING float counts
            rc = np.asarray(f_rc, np.int64)
            row_id = np.repeat(np.arange(rc.size), rc)
            # exactly x,y per position: a 3-D (x,y,z) ring, or a ring
            # the "[[" count merged with its neighbour, takes the
            # from_geojson path
            ring_ok = (rl >= 8) & (rl == 2 * np.asarray(f_pos, np.int64))
            row_ok = np.bincount(row_id, weights=~ring_ok, minlength=rc.size) == 0
            if row_ok.any():
                # fast rows ship as their own fully-vectorized
                # RecordBatch; only the remainder pays the per-row
                # fallback loop below
                keep_ring = row_ok[row_id]
                keep_pos = np.repeat(keep_ring, np.diff(np.append(starts, nums.size))) & ~isn
                sel = np.asarray(f_j, np.int64)[row_ok]
                fastmask[sel] = True
                rc, rl = rc[row_ok], rl[keep_ring]
                # ring_offsets per row: [0, p1, p1+p2, ...] in points
                ring_at = np.concatenate(([0], np.cumsum(rl)))  # float offset of each ring
                first = np.concatenate(([0], np.cumsum(rc)))    # first ring of each row
                coffs = ring_at[first]
                roffs = np.concatenate(([0], np.cumsum(rc + 1)))
                ring_ix = np.arange(roffs[-1]) - np.repeat(roffs[:-1] - first[:-1], rc + 1)
                rvals = (ring_at[ring_ix] - np.repeat(coffs[:-1], rc + 1)) // 2
                # part_offsets per row: [0, nrings] (one Polygon part)
                pvals = np.zeros(2 * rc.size, np.int64)
                pvals[1::2] = rc
                no_list = (np.empty(0), np.zeros(rc.size + 1, np.int64))
                yield _emit_decoded(batch, keep, blank_rect, sel, np.full(rc.size, 3, np.int8), [
                    (nums[keep_pos], coffs), (rvals, roffs),
                    (pvals, np.arange(0, 2 * rc.size + 1, 2)), no_list, no_list,
                ])

    rows, pgs = [], []
    for j, v in enumerate(texts):
        if v is None or fastmask[j]:
            continue
        try:
            pg = from_geojson(v)
        except (ValueError, KeyError):  # json.JSONDecodeError is a ValueError
            continue
        if pg.coords.size:
            rows.append(j)
            pgs.append(pg)
    if not pgs:
        return

    def flat(arrs):
        return np.concatenate([np.asarray(a) for a in arrs]), np.cumsum([0] + [len(a) for a in arrs])

    yield _emit_decoded(batch, keep, blank_rect, np.asarray(rows, np.int64), np.asarray([pg.gtype for pg in pgs], np.int8), [
        flat([pg.coords for pg in pgs]),
        flat([pg.ring_offsets for pg in pgs]),
        flat([pg.part_offsets for pg in pgs]),
        flat([pg.part_types if pg.gtype == 7 else () for pg in pgs]),
        flat([pg.child_offsets if pg.gtype == 7 else () for pg in pgs]),
    ])


_GEOM_LISTS = (
    ("coords", np.float64), ("ring_offsets", np.int32), ("part_offsets", np.int32),
    ("part_types", np.int8), ("child_offsets", np.int32),
)


def _emit_decoded(batch, keep, blank_rect, sel, gtypes, lists):
    """The one decode emitter: rows ``sel`` of ``batch`` with their
    packed geometries -> RecordBatch(keep..., geom, minx, miny, maxx,
    maxy, rect).  ``gtypes`` is int8[k]; ``lists`` holds the five list
    fields of the geom struct (_GEOM_LISTS), each as (flat values, k+1
    row offsets).  Every row has at least one coordinate pair.

    ``rect`` is geom.pip.rect_rings over single-ring Polygons; with
    ``blank_rect`` their lists are blanked (round-4 verdict item 4): a
    closed axis-aligned rectangle is fully determined by its bbox
    columns, so most spans at bench shapes stop paying the geometry
    struct through explode, join, and the refine's Arrow transfer,
    which tests them from the bbox via rects_intersect_polygon."""
    import pyarrow as pa

    coords, coffs = lists[0]
    vstarts = coffs[:-1] // 2
    xs, ys = coords[0::2], coords[1::2]
    bbox = [
        np.minimum.reduceat(xs, vstarts), np.minimum.reduceat(ys, vstarts),
        np.maximum.reduceat(xs, vstarts), np.maximum.reduceat(ys, vstarts),
    ]
    rect = rect_rings(coords, coffs, (gtypes == 3) & (np.diff(lists[1][1]) == 2))
    blank = rect if blank_rect else np.zeros_like(rect)
    fields = [pa.array(gtypes, pa.int8())]
    for (vals, offs), (_, dtype) in zip(lists, _GEOM_LISTS):
        lens = np.diff(offs)
        fields.append(pa.ListArray.from_arrays(
            pa.array(np.concatenate(([0], np.cumsum(np.where(blank, 0, lens)))), pa.int32()),
            pa.array(vals[np.repeat(~blank, lens)].astype(dtype, copy=False)),
        ))
    take = pa.array(sel)
    return pa.RecordBatch.from_arrays(
        [
            *(batch.column(batch.schema.get_field_index(k)).take(take) for k in keep),
            pa.StructArray.from_arrays(fields, names=["gtype", *(name for name, _ in _GEOM_LISTS)]),
            *(pa.array(b, pa.float64()) for b in bbox),
            pa.array(rect),
        ],
        names=[*keep, "geom", "minx", "miny", "maxx", "maxy", "rect"],
    )


def _list_buffers(arr) -> tuple:
    """An Arrow ListArray -> (values, offsets) NumPy views: the offsets
    index ``values`` directly, slices included."""
    return arr.values.to_numpy(zero_copy_only=False), arr.offsets.to_numpy()


def arrow_probes(geom, minx, miny, maxx, maxy, rect) -> Probes:
    """decode_geojson's columns as Arrow arrays (a GEOMETRY_TYPE struct,
    the bbox, the rect flag) -> geom.pip.Probes over their flat buffers,
    with no per-row materialization."""
    fields = geom.flatten()
    return Probes(
        fields[0].to_numpy(zero_copy_only=False),
        *(_list_buffers(f) for f in fields[1:]),
        bbox=tuple(b.to_numpy(zero_copy_only=False) for b in (minx, miny, maxx, maxy)),
        rect=rect.to_numpy(zero_copy_only=False),
    )


def where_intersects(df: DataFrame, pid: str, probe: tuple, polygons) -> DataFrame:
    """``df`` filtered to the rows whose probe geometry intersects the
    polygon ``pid`` names (geom.pip.intersects_polygons, the one exact
    refine): a boolean Arrow UDF inside a WHERE, so only its argument
    columns cross Arrow, one byte returns per row, and the JVM applies
    the filter.

    ``probe`` names (x, y) Point columns, or the (geom, minx, miny,
    maxx, maxy, rect) columns of decode_geojson.  ``polygons`` is a
    Broadcast of {poly_id: (coords, ring_offsets)} (cover.poly_dim) or
    the name of a GEOMETRY_TYPE column carrying each row's polygon.
    Struct and list columns are read as zero-copy .values/.offsets
    buffers (arrow_probes), never materialized per row."""
    import warnings

    import pyarrow as pa
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    carried = isinstance(polygons, str)

    def _intersects(pids, *cols):
        if carried:
            rings = [_list_buffers(f) for f in cols[0].flatten()[1:3]]
            cols = cols[1:]

            def polygon_of(p, i):
                return tuple(vals[offs[i] : offs[i + 1]] for vals, offs in rings)

        else:
            dim = polygons.value

            def polygon_of(p, i):
                return dim[int(p)]

        if len(cols) == 2:
            probes = point_probes(*(c.to_numpy(zero_copy_only=False) for c in cols))
        else:
            probes = arrow_probes(*cols)
        return pa.array(intersects_polygons(pids.to_numpy(zero_copy_only=False), probes, polygon_of))

    # varargs defeat the type-hint inference, so the scalar type is
    # named (and PySpark's nudge towards type hints silenced)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        udf = arrow_udf(_intersects, "boolean", ArrowUDFType.SCALAR)
    return df.where(udf(pid, *([polygons] if carried else []), *probe))


def intersecting_pairs(df: DataFrame, col: str, keep: list[str], cover, polygons) -> DataFrame:
    """``df`` -> (``keep``..., poly_id) for every row whose GeoJSON
    ``col`` intersects a polygon of a collected dim, as ONE mapInArrow.
    Per Arrow batch: the decode pass (_decode_batch, rectangles
    payload-free), candidates from the dim's sorted cell cover
    (geom.cells.cover_pairs: each geometry at its own level, bbox
    overlap, reporting-cell dedup), the one exact refine
    (geom.pip.intersects_polygons), and only the pairs that hold leave
    the worker.

    ``cover`` is a Broadcast of the dim's geom.cells.SortedCover and
    ``polygons`` a Broadcast of {poly_id: (coords, ring_offsets)}
    (cover.poly_dim): the closure carries their ids only, and each
    Python worker loads each value once."""
    import pyarrow as pa

    schema = StructType([df.schema[k] for k in keep] + [StructField("poly_id", LongType())])
    probe_cols = ("geom", "minx", "miny", "maxx", "maxy", "rect")

    def _intersecting_pairs(batches):
        index, dim = cover.value, polygons.value

        def polygon_of(p, i):
            return dim[int(p)]

        for batch in batches:
            for d in _decode_batch(batch, col, keep, True):
                row, pid = cover_pairs(index, *(d.column(c).to_numpy() for c in probe_cols[1:5]))
                if not row.size:
                    continue
                take = pa.array(row)
                hit = intersects_polygons(pid, arrow_probes(*(d.column(c).take(take) for c in probe_cols)), polygon_of)
                take = pa.array(row[hit])
                yield pa.RecordBatch.from_arrays(
                    [*(d.column(k).take(take) for k in keep), pa.array(pid[hit], pa.int64())], names=[*keep, "poly_id"]
                )

    return df.selectExpr(*(quote_ident(c) for c in [*keep, col])).mapInArrow(_intersecting_pairs, schema=schema)


# --- pandas UDFs ---------------------------------------------------------

def _rows_to_struct_pdf(pgs: list[PackedGeometry | None]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "gtype": pd.array([None if g is None else g.gtype for g in pgs], dtype="Int8"),
            "coords": [None if g is None else g.coords for g in pgs],
            "ring_offsets": [None if g is None else g.ring_offsets for g in pgs],
            "part_offsets": [None if g is None else g.part_offsets for g in pgs],
            "part_types": [None if g is None else g.part_types for g in pgs],
            "child_offsets": [None if g is None else g.child_offsets for g in pgs],
        }
    )


@pandas_udf(GEOMETRY_TYPE)
def geojson_decode_udf(s: pd.Series) -> pd.DataFrame:
    """GeoJSON string -> packed geometry struct (invalid/null -> null):
    the row-preserving column codec.  Operators decode through
    decode_geojson instead."""
    out = []
    for v in s:
        if v is None:
            out.append(None)
            continue
        try:
            out.append(from_geojson(v))
        except (ValueError, KeyError, json.JSONDecodeError):
            out.append(None)
    return _rows_to_struct_pdf(out)


def geojson_encode_udf(precision: int = 15):
    """Factory: packed geometry struct -> GeoJSON string at `precision`
    (reference default 15, geometry.py:72-77)."""

    @pandas_udf(StringType())
    def _encode(g: pd.DataFrame) -> pd.Series:
        out = []
        for gt, co, ro, po, pt, ch in zip(
            g["gtype"], g["coords"], g["ring_offsets"], g["part_offsets"],
            g["part_types"], g["child_offsets"],
        ):
            if gt is None or (isinstance(gt, float) and np.isnan(gt)):
                out.append(None)
                continue
            pg = PackedGeometry(
                gtype=int(gt),
                coords=np.asarray(co, dtype=np.float64),
                ring_offsets=np.asarray(ro, dtype=np.int32),
                part_offsets=np.asarray(po, dtype=np.int32),
                part_types=None if pt is None else np.asarray(pt, dtype=np.int8),
                child_offsets=None if ch is None else np.asarray(ch, dtype=np.int32),
            )
            out.append(json.dumps(to_geojson(pg, precision), separators=(",", ":")))
        return pd.Series(out)

    return _encode


def transform_geom_udf(src, dst):
    """Factory: packed geometry -> packed geometry with coords
    transformed src->dst CRS (vectorized over the whole Arrow batch —
    the reference does one osr call per feature, gdal.py:1316-1318)."""

    @pandas_udf(GEOMETRY_TYPE)
    def _transform(g: pd.DataFrame) -> pd.DataFrame:
        # concatenate all batch coords into one array, transform once
        cs = list(g["coords"])
        bufs = [np.asarray(c if c is not None else [], dtype=np.float64) for c in cs]
        lens = [len(b) for b in bufs]
        if bufs:
            flat = np.concatenate(bufs) if sum(lens) else np.empty(0)
            if flat.size:
                xy = flat.reshape(-1, 2)
                tx, ty = _crs.transform_coords(xy[:, 0], xy[:, 1], src, dst)
                flat = np.column_stack([tx, ty]).ravel()
        offs = np.cumsum([0] + lens)
        coords_out = [
            None if cs[i] is None else flat[offs[i] : offs[i + 1]] for i in range(len(cs))
        ]
        return pd.DataFrame(
            {
                "gtype": pd.array(list(g["gtype"]), dtype="Int8"),
                "coords": coords_out,
                "ring_offsets": list(g["ring_offsets"]),
                "part_offsets": list(g["part_offsets"]),
                "part_types": list(g["part_types"]),
                "child_offsets": list(g["child_offsets"]),
            }
        )

    return _transform


@pandas_udf(StringType())
def make_valid_geojson_udf(s: pd.Series) -> pd.Series:
    """GeoJSON string -> repaired GeoJSON string (geom.validity;
    reference make_valid_geojson, geometry.py:160-163).  Batched: one
    Python call per Arrow batch; per-geometry NumPy arrangement."""
    from ..geom.validity import make_valid_geojson as _mv

    out = []
    for v in s:
        if v is None:
            out.append(None)
            continue
        try:
            out.append(json.dumps(_mv(v), separators=(",", ":")))
        except (ValueError, KeyError, json.JSONDecodeError):
            out.append(None)
    return pd.Series(out)
