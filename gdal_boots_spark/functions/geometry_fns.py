"""Spark-facing geometry functions.

Two tiers, per the engine's "UDFs are the slow path" rule:

* **SQL-string expressions** where the math is pure arithmetic or
  string ops — Point coordinates (``point_xy_sql``) and cell ids
  (``cell_id_sql``, built in ``geom.cells`` with the rest of the cell
  grid) stay entirely in whole-stage codegen; no Python is involved at
  runtime.
* **Arrow-batched pandas UDFs** for the NumPy kernels (GeoJSON codec,
  CRS transform, bbox) — Series/DataFrame in, never per-row
  Python on the Spark side (reference contrast: gdal_boots transforms
  one feature per C call in a Python loop, gdal.py:1316-1325).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..geom import crs as _crs
from ..geom.cells import cell_id_sql  # noqa: F401  (re-exported: the cell id as SQL)
from ..geom.packed import PackedGeometry, from_geojson, to_geojson

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

BOUNDS_TYPE = StructType(
    [
        StructField("minx", DoubleType()),
        StructField("miny", DoubleType()),
        StructField("maxx", DoubleType()),
        StructField("maxy", DoubleType()),
    ]
)


# --- native (JVM-side, codegen) ----------------------------------------

def double_lit_sql(v: float) -> str:
    """A Python float as a Spark SQL DOUBLE literal: bare decimals parse
    as DECIMAL (need the D suffix), exponent forms are already DOUBLE
    (and reject a D suffix)."""
    r = repr(float(v))
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
    the coordinate pair.  Non-points take the geojson_decode_udf path.
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
    """GeoJSON string -> packed geometry struct (invalid/null -> null)."""
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


@pandas_udf(BOUNDS_TYPE)
def geom_bounds_udf(g: pd.DataFrame) -> pd.DataFrame:
    """Envelope of a packed geometry (Feature.bounds, gdal.py:961-962).
    Vectorized: one pass over the concatenated coord buffer per batch."""
    n = len(g)
    minx = np.full(n, np.nan)
    miny = np.full(n, np.nan)
    maxx = np.full(n, np.nan)
    maxy = np.full(n, np.nan)
    for i, c in enumerate(g["coords"]):
        if c is None or len(c) == 0:
            continue
        a = np.asarray(c, dtype=np.float64).reshape(-1, 2)
        minx[i], miny[i] = a.min(axis=0)
        maxx[i], maxy[i] = a.max(axis=0)
    return pd.DataFrame({"minx": minx, "miny": miny, "maxx": maxx, "maxy": maxy})


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


@pandas_udf(StructType([StructField("x", DoubleType()), StructField("y", DoubleType())]))
def point_xy_udf(s: pd.Series) -> pd.DataFrame:
    """GeoJSON Point string -> (x, y); non-Point/invalid -> null."""
    xs, ys = [], []
    for v in s:
        try:
            o = json.loads(v)
            if o.get("type") == "Point" and o.get("coordinates"):
                xs.append(float(o["coordinates"][0]))
                ys.append(float(o["coordinates"][1]))
                continue
        except (TypeError, ValueError):
            pass
        xs.append(None)
        ys.append(None)
    return pd.DataFrame({"x": xs, "y": ys})


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
