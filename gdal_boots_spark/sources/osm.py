"""OpenStreetMap XML vector ingest from scratch — no GDAL.

Produces the reference's 5-layer OSM model (the layout OGR's osm
driver exposes and the reference's VectorDataset.open surfaces,
gdal.py:1197-1205): ``points`` (tagged nodes), ``lines`` (tagged
unclosed ways), ``multipolygons`` (multipolygon/boundary relations
with ways stitched into outer/inner rings, plus closed area ways),
``multilinestrings`` (route-style relations) and ``other_relations``.
Layer schemas, tag->column mapping, the hstore-style ``other_tags``
column and the selection rules were derived empirically against the
reference fixture pair minsk-boundary.osm / minsk-boundary.gpkg
(converted with OGR) — the test suite asserts layer-by-layer parity.

Whole-file XML is not splittable: parsing is driver-side, matching
the engine's contract that vector layers are DIMENSION-sized.
"""

from __future__ import annotations

import json
import xml.etree.ElementTree as ET

import numpy as np

from pyspark.sql import SparkSession

from .. import memo
from .vector_io import FEATURE_SCHEMA, VectorDataset

# keys OGR's default osmconf drops entirely (verified on the fixture:
# ele/note/created_by never reach columns or other_tags)
IGNORED_KEYS = {"created_by", "converted_by", "source", "time", "ele", "note", "todo", "fixme", "FIXME"}

# per-layer attribute columns (osmconf defaults; the exact sets the
# reference 5-layer gpkg fixture carries)
LAYER_FIELDS = {
    "points": ["osm_id", "name", "barrier", "highway", "ref", "address", "is_in", "place", "man_made"],
    "lines": ["osm_id", "name", "highway", "waterway", "aerialway", "barrier", "man_made", "z_order"],
    "multilinestrings": ["osm_id", "name", "type"],
    "multipolygons": [
        "osm_id", "osm_way_id", "name", "type", "aeroway", "amenity", "admin_level", "barrier",
        "boundary", "building", "craft", "geological", "historic", "land_area", "landuse", "leisure",
        "man_made", "military", "natural", "office", "place", "shop", "sport", "tourism",
    ],
    "other_relations": ["osm_id", "name", "type"],
}

# closed ways with any of these keys are polygons (osmconf
# closed_ways_are_polygons); area=yes forces, area=no blocks
AREA_KEYS = {
    "aeroway", "amenity", "boundary", "building", "craft", "geological", "historic", "landuse",
    "leisure", "military", "natural", "office", "place", "shop", "sport", "tourism",
}

_Z_HIGHWAY = {
    "minor": 3, "road": 3, "unclassified": 3, "residential": 3, "tertiary_link": 4, "tertiary": 4,
    "secondary_link": 6, "secondary": 6, "primary_link": 7, "primary": 7, "trunk_link": 8,
    "trunk": 8, "motorway_link": 9, "motorway": 9,
}


def _z_order(tags: dict) -> int:
    """OGR osmconf z_order: highway rank + rail +5, +/-10 per layer,
    +10 bridge, -10 tunnel.  (All-zero on the fixture — no highways —
    which the parity test pins.)"""
    z = _Z_HIGHWAY.get(tags.get("highway", ""), 0)
    if tags.get("railway"):
        z += 5
    try:
        z += 10 * int(tags.get("layer", 0))
    except ValueError:
        pass
    if tags.get("bridge") not in (None, "no"):
        z += 10
    if tags.get("tunnel") not in (None, "no"):
        z -= 10
    return z


def _hstore(tags: dict, exclude: set[str]) -> str | None:
    parts = []
    for k, v in tags.items():
        if k in exclude or k in IGNORED_KEYS:
            continue
        ke = k.replace("\\", "\\\\").replace('"', '\\"')
        ve = v.replace("\\", "\\\\").replace('"', '\\"')
        parts.append(f'"{ke}"=>"{ve}"')
    return ",".join(parts) if parts else None


def _feature_row(fid: int, layer: str, geom: dict | None, tags: dict, ids: dict) -> tuple:
    fields = LAYER_FIELDS[layer]
    props = {}
    used = set(IGNORED_KEYS)
    for f in fields:
        if f in ids:
            props[f] = ids[f]
        elif f == "z_order":
            props[f] = _z_order(tags)
        else:
            props[f] = tags.get(f)
            used.add(f)
    props["other_tags"] = _hstore(tags, used)
    return (
        fid,
        geom["type"] if geom else None,
        json.dumps(geom, separators=(",", ":")) if geom else None,
        json.dumps(props, separators=(",", ":"), ensure_ascii=False),
    )


def _significant(tags: dict) -> bool:
    return any(k not in IGNORED_KEYS for k in tags)


def _is_area(tags: dict) -> bool:
    if tags.get("area") == "no":
        return False
    if tags.get("area") == "yes":
        return True
    return any(k in AREA_KEYS for k in tags)


def _assemble_rings(seqs: list[list[int]]) -> list[list[int]]:
    """Stitch way node-id sequences into closed rings by shared
    endpoints (unclosed leftovers are dropped, as OGR does).

    Endpoint-indexed: each join is O(1) via a node-id -> pending-way
    index, so a 10k-way boundary relation stitches in O(total nodes)
    rather than the quadratic scan of the naive pool walk."""
    rings_pre = [list(s) for s in seqs if len(s) >= 4 and s[0] == s[-1]]
    pool: dict[int, list[int]] = {
        i: list(s) for i, s in enumerate(seqs) if len(s) >= 2 and s[0] != s[-1]
    }
    by_end: dict[int, set[int]] = {}
    for i, s in pool.items():
        by_end.setdefault(s[0], set()).add(i)
        by_end.setdefault(s[-1], set()).add(i)

    def _unindex(i: int, s: list[int]) -> None:
        for node in (s[0], s[-1]):
            ids = by_end.get(node)
            if ids:
                ids.discard(i)
                if not ids:
                    del by_end[node]

    rings = list(rings_pre)
    while pool:
        i, cur = pool.popitem()
        _unindex(i, cur)
        while cur[0] != cur[-1]:
            cand = by_end.get(cur[-1]) or by_end.get(cur[0])
            if not cand:
                break
            j = next(iter(cand))
            w = pool.pop(j)
            _unindex(j, w)
            if w[0] == cur[-1]:
                cur += w[1:]
            elif w[-1] == cur[-1]:
                cur += w[-2::-1]
            elif w[-1] == cur[0]:
                cur = w[:-1] + cur
            else:
                cur = w[::-1][:-1] + cur
        if cur[0] == cur[-1] and len(cur) >= 4:
            rings.append(cur)
    return rings


def _relation_feature(rid, members, tags, way_nds, node_xy):
    """Shared relation-emission rule (driver and distributed paths both
    call this, so they cannot diverge): returns
    (layer_or_None, geom_or_None, consumed_outer_way_ids).

    ``way_nds``: way_id -> full node-id list for every member way that
    exists; ``node_xy``: node_id -> (lon, lat) for the resolvable
    nodes.  Assembly runs on node IDS (exact equality); coordinates
    materialize afterwards, skipping unresolved nodes — the reference
    semantics (gdal.py vector model via OGR's osm driver)."""
    from ..geom.pip import points_in_polygon

    def coords_of(nds):
        return [[node_xy[n][0], node_xy[n][1]] for n in nds if n in node_xy]

    rtype = tags.get("type")
    if rtype in ("multipolygon", "boundary"):
        # OGR "old-style multipolygon" rule: the structural `type` tag
        # alone does not make the relation a feature
        if not _significant({k: v for k, v in tags.items() if k != "type"}):
            return None, None, set()
    elif not _significant(tags):
        return None, None, set()
    if rtype in ("multipolygon", "boundary"):
        outer_seqs = [way_nds[r] for t, r, role in members if t == "way" and role in ("outer", "") and r in way_nds]
        inner_seqs = [way_nds[r] for t, r, role in members if t == "way" and role == "inner" and r in way_nds]
        outers = [coords_of(r) for r in _assemble_rings(outer_seqs)]
        inners = [coords_of(r) for r in _assemble_rings(inner_seqs)]
        outers = [r for r in outers if len(r) >= 4]
        inners = [r for r in inners if len(r) >= 4]
        if not outers:
            return None, None, set()
        parts = [[o] for o in outers]
        for ring in inners:
            placed = False
            px, py = ring[0]
            for part in parts:
                o = np.asarray(part[0], np.float64)
                inside = points_in_polygon(
                    np.array([px]), np.array([py]),
                    o.ravel(), np.asarray([0, len(part[0])], np.int32),
                )[0]
                if inside:
                    part.append(ring)
                    placed = True
                    break
            if not placed:
                parts[0].append(ring)
        consumed = {r for t, r, role in members if t == "way" and role in ("outer", "")}
        return "multipolygons", {"type": "MultiPolygon", "coordinates": parts}, consumed
    if rtype in ("route", "multilinestring"):
        seqs = [coords_of(way_nds[r]) for t, r, _ in members if t == "way" and r in way_nds]
        seqs = [s for s in seqs if len(s) >= 2]
        if not seqs:
            return None, None, set()
        return "multilinestrings", {"type": "MultiLineString", "coordinates": seqs}, set()
    return "other_relations", None, set()


def _way_feature(wid, nds, tags, coords, consumed_outer):
    """Shared way-emission rule: (layer_or_None, geom_or_None).
    ``coords``: the resolved coordinate list IN nds ORDER with
    unresolved nodes dropped (== coords_of(nds))."""
    # ways need ANY tag to be emitted — even one from IGNORED_KEYS
    # (note-only boundary segments are real OGR lines with all-NULL
    # attributes); nodes use the stricter _significant rule
    if not tags:
        return None, None
    closed = len(nds) >= 4 and nds[0] == nds[-1]
    if closed and _is_area(tags):
        if wid in consumed_outer or len(coords) < 4:
            return None, None
        return "multipolygons", {"type": "MultiPolygon", "coordinates": [[coords]]}
    if len(coords) < 2:
        return None, None
    return "lines", {"type": "LineString", "coordinates": coords}


def read_osm(spark: SparkSession, path: str, max_bytes: int = 1 << 30) -> VectorDataset:
    """OSM XML file -> VectorDataset with the 5 OGR-compatible layers.

    Driver-side parse by the documented dimension-size contract: OSM
    XML needs global node/way/relation resolution, so it is not
    splittable.  A planet-scale file would OOM the driver — refuse it
    early with a pointer at the splittable path instead."""
    import os as _os

    size = _os.path.getsize(path)
    if size > max_bytes:
        raise ValueError(
            f"OSM file is {size / 2**30:.1f} GiB (> {max_bytes / 2**30:.1f} GiB): "
            "driver-side XML parse is for dimension-sized extracts. "
            "Use read_osm_distributed(spark, path) — ONE bounded-memory "
            "streaming pass to splittable NDJSON shards, then fully "
            "distributed node/way/relation resolution — or raise "
            "max_bytes explicitly if the driver has the memory."
        )
    nodes: dict[int, tuple[float, float, dict]] = {}
    ways: dict[int, tuple[list[int], dict]] = {}
    rels: dict[int, tuple[list[tuple[str, int, str]], dict]] = {}
    for _, el in ET.iterparse(path):
        if el.tag == "node":
            tags = {t.get("k"): t.get("v") for t in el if t.tag == "tag"}
            nodes[int(el.get("id"))] = (float(el.get("lon")), float(el.get("lat")), tags)
            el.clear()
        elif el.tag == "way":
            nds = [int(n.get("ref")) for n in el if n.tag == "nd"]
            tags = {t.get("k"): t.get("v") for t in el if t.tag == "tag"}
            ways[int(el.get("id"))] = (nds, tags)
            el.clear()
        elif el.tag == "relation":
            members = [(m.get("type"), int(m.get("ref")), m.get("role")) for m in el if m.tag == "member"]
            tags = {t.get("k"): t.get("v") for t in el if t.tag == "tag"}
            rels[int(el.get("id"))] = (members, tags)
            el.clear()

    node_xy = {nid: (lon, lat) for nid, (lon, lat, _) in nodes.items()}
    way_nds = {wid: nds for wid, (nds, _) in ways.items()}

    def coords_of(nds: list[int]) -> list[list[float]]:
        return [[nodes[n][0], nodes[n][1]] for n in nds if n in nodes]

    points_rows, lines_rows, mls_rows, mp_rows, other_rows = [], [], [], [], []

    for nid, (lon, lat, tags) in nodes.items():
        if _significant(tags):
            geom = {"type": "Point", "coordinates": [lon, lat]}
            points_rows.append(
                _feature_row(len(points_rows) + 1, "points", geom, tags, {"osm_id": str(nid)})
            )

    # ways consumed as OUTER rings of an emitted polygon relation are
    # not duplicated as standalone polygons (inner-role ways with their
    # own tags ARE — verified on the fixture: the boundary's outer way
    # is absorbed, its 4 tagged inner enclaves stay).  Populated inside
    # the emission loop (ADVICE r4): a relation that is skipped — not
    # _significant, or no assemblable outer ring — absorbs nothing, so
    # its tagged closed member ways still emit as standalone polygons.
    consumed_outer: set[int] = set()

    for rid, (members, tags) in rels.items():
        layer, geom, consumed = _relation_feature(rid, members, tags, way_nds, node_xy)
        consumed_outer |= consumed
        if layer == "multipolygons":
            mp_rows.append(
                _feature_row(
                    len(mp_rows) + 1, "multipolygons", geom, tags,
                    {"osm_id": str(rid), "osm_way_id": None},
                )
            )
        elif layer == "multilinestrings":
            mls_rows.append(
                _feature_row(len(mls_rows) + 1, "multilinestrings", geom, tags, {"osm_id": str(rid)})
            )
        elif layer == "other_relations":
            other_rows.append(
                _feature_row(len(other_rows) + 1, "other_relations", None, tags, {"osm_id": str(rid)})
            )

    for wid, (nds, tags) in ways.items():
        layer, geom = _way_feature(wid, nds, tags, coords_of(nds), consumed_outer)
        if layer == "multipolygons":
            mp_rows.append(
                _feature_row(
                    len(mp_rows) + 1, "multipolygons", geom, tags,
                    {"osm_id": None, "osm_way_id": str(wid)},
                )
            )
        elif layer == "lines":
            lines_rows.append(
                _feature_row(len(lines_rows) + 1, "lines", geom, tags, {"osm_id": str(wid)})
            )

    layers = {
        "points": points_rows,
        "lines": lines_rows,
        "multilinestrings": mls_rows,
        "multipolygons": mp_rows,
        "other_relations": other_rows,
    }
    return VectorDataset(
        {name: spark.createDataFrame(rows, FEATURE_SCHEMA) for name, rows in layers.items()}
    )


def _aslist(v):
    """None-safe list coercion for Arrow-delivered cells (numpy arrays
    are ambiguous in boolean context)."""
    return [] if v is None else list(v)


def _asdict(v):
    return {} if v is None else dict(v)


# --- planet-scale path: stream-convert once, resolve distributed ----------

def osm_to_ndjson(path: str, out_dir: str, shard_bytes: int = 64 << 20) -> dict:
    """ONE bounded-memory streaming pass over an OSM XML file ->
    splittable NDJSON shard directories ``out_dir/{nodes,ways,rels}``.

    The driver holds only the element currently being parsed:
    ``iterparse`` end-events are written out immediately and the root's
    finished children are dropped every 256 elements, so peak memory is
    O(largest single element), not O(file).  ``shard_bytes`` rotates
    output files so the Spark read gets enough splits for parallelism.

    Each line carries a global ``seq`` (file order) — the distributed
    reader uses it to reproduce the driver parse's feature ids.
    Returns {"nodes": n, "ways": n, "rels": n}.
    """
    import os as _os

    counts = {"nodes": 0, "ways": 0, "rels": 0}
    writers: dict = {}
    shard_idx: dict = {}
    sizes: dict = {}

    def emit(kind: str, obj: dict) -> None:
        if kind not in writers or sizes[kind] > shard_bytes:
            if kind in writers:
                writers[kind].close()
            i = shard_idx.get(kind, -1) + 1
            shard_idx[kind] = i
            d = _os.path.join(out_dir, kind)
            _os.makedirs(d, exist_ok=True)
            writers[kind] = open(_os.path.join(d, f"part-{i:05d}.ndjson"), "w", encoding="utf-8")
            sizes[kind] = 0
        line = json.dumps(obj, separators=(",", ":"), ensure_ascii=False)
        writers[kind].write(line)
        writers[kind].write("\n")
        sizes[kind] += len(line) + 1
        counts[kind] += 1

    seq = 0
    root = None
    for ev, el in ET.iterparse(path, events=("start", "end")):
        if ev == "start":
            if root is None:
                root = el
            continue
        if el.tag == "node":
            emit("nodes", {
                "id": int(el.get("id")), "lon": float(el.get("lon")), "lat": float(el.get("lat")),
                "tags": {t.get("k"): t.get("v") for t in el if t.tag == "tag"}, "seq": seq,
            })
        elif el.tag == "way":
            emit("ways", {
                "id": int(el.get("id")),
                "nds": [int(n.get("ref")) for n in el if n.tag == "nd"],
                "tags": {t.get("k"): t.get("v") for t in el if t.tag == "tag"}, "seq": seq,
            })
        elif el.tag == "relation":
            emit("rels", {
                "id": int(el.get("id")),
                "members": [
                    {"t": m.get("type"), "r": int(m.get("ref")), "role": m.get("role") or ""}
                    for m in el if m.tag == "member"
                ],
                "tags": {t.get("k"): t.get("v") for t in el if t.tag == "tag"}, "seq": seq,
            })
        else:
            continue
        seq += 1
        el.clear()
        # drop finished top-level children (iterparse keeps them parented
        # under root otherwise — THE unbounded-memory trap)
        if root is not None and seq % 256 == 0:
            del root[:]
    for f in writers.values():
        f.close()
    for kind in counts:
        d = _os.path.join(out_dir, kind)
        _os.makedirs(d, exist_ok=True)
        if not _os.listdir(d):  # spark.read.json rejects empty dirs
            open(_os.path.join(d, "part-00000.ndjson"), "w").close()
    with open(_os.path.join(out_dir, "_SUCCESS"), "w") as f:
        json.dump(counts, f)
    return counts


def read_osm_distributed(
    spark: SparkSession, path: str, work_dir: str | None = None, dense_fids: bool = True
) -> VectorDataset:
    """Planet-scale one-call OSM ingest (VERDICT r5 item 5): the
    bounded-memory driver stream (osm_to_ndjson) runs once — or is
    reused if ``work_dir`` already carries its _SUCCESS marker — then
    ALL node/way/relation resolution happens distributed:

    - way geometry: posexplode(nds) -> equi-join nodes -> array_sort
      regroup (pure JVM; the node join is the one big shuffle, keyed by
      node_id — uniformly distributed, no hot key);
    - relation assembly: member ways equi-join + one groupBy(relation),
      then the SAME ring-stitching/emission rule as the driver parse
      (_relation_feature) per relation inside one mapInPandas;
    - ways consumed as outer rings anti-join away before standalone
      polygon emission (same _way_feature rule).

    ``dense_fids=True`` reproduces the driver parse exactly (fids are
    1..N in file order per layer) via a distributed prefix-sum rank
    (packing.range_offsets: range partition + per-partition counts +
    broadcast offsets — no single-partition stage, planet-scale safe;
    r8).  ``False`` keeps
    fid = stable file-order sequence (unique, monotone, NOT dense)
    with zero extra jobs.

    Feature rows are persisted (``memo.persist``) before the 5-way layer
    split — a where()-split of one DataFrame into consumed branches
    recomputes the whole subtree per branch otherwise.  Without a
    ``work_dir`` the NDJSON goes to a ``memo.temp_dir``, which
    ``memo.clear()`` (or the enclosing ``memo.releasing()`` block, such
    as a StageRunner stage) removes along with those persisted rows."""
    import os as _os

    from pyspark.sql import functions as F

    if work_dir is None:
        work_dir = memo.temp_dir("osm_ndjson_")
    if not _os.path.exists(_os.path.join(work_dir, "_SUCCESS")):
        osm_to_ndjson(path, work_dir)

    nodes = spark.read.schema("id long, lon double, lat double, tags map<string,string>, seq long").json(
        _os.path.join(work_dir, "nodes"))
    ways = spark.read.schema("id long, nds array<long>, tags map<string,string>, seq long").json(
        _os.path.join(work_dir, "ways"))
    rels = spark.read.schema(
        "id long, members array<struct<t:string,r:long,role:string>>, tags map<string,string>, seq long"
    ).json(_os.path.join(work_dir, "rels"))

    # way geometry: explode -> node join -> ordered regroup (JVM only).
    # left join keeps ways whose nodes are ALL missing; unresolved nds
    # drop out exactly like the driver's coords_of.
    wn = ways.select("id", F.posexplode("nds").alias("pos", "nid"))
    wc = wn.join(nodes.select(F.col("id").alias("nid"), "lon", "lat"), "nid").groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "nid", "lon", "lat"))).alias("pts")
    )
    way_geo = ways.join(wc, "id", "left")

    feat_schema = (
        "layer string, kind int, seq long, gtype string, geojson string, props_json string, wid long"
    )

    def _rel_rows(batches):
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in ("layer", "kind", "seq", "gtype", "geojson", "props_json", "wid")}

            def push(layer, kind, seq, gtype, gj, props, wid):
                out["layer"].append(layer); out["kind"].append(kind); out["seq"].append(seq)
                out["gtype"].append(gtype); out["geojson"].append(gj)
                out["props_json"].append(props); out["wid"].append(wid)

            # column-wise zip, not iterrows: no per-row Series
            # materialization (the repo's r4 itertuples convention;
            # zip of the object columns is the mapInPandas equivalent)
            for rid, rtags, seq, rmembers, rwgeo in zip(
                pdf["id"], pdf["tags"], pdf["seq"], pdf["members"], pdf["wgeo"]
            ):
                rid, tags, seq = int(rid), _asdict(rtags), int(seq)
                way_nds, node_xy = {}, {}
                members = []
                for m in _aslist(rmembers):
                    members.append((m["t"], int(m["r"]), m["role"]))
                for w in _aslist(rwgeo):
                    # wid comes from the MEMBER side: a member pointing
                    # at a way that does not exist has wnds = null and
                    # must be skipped (the driver parse's `r in ways`)
                    if w["wid"] is None or w["wnds"] is None:
                        continue
                    wid = int(w["wid"])
                    way_nds[wid] = [int(n) for n in w["wnds"]]
                    for p in _aslist(w["pts"]):
                        node_xy[int(p["nid"])] = (float(p["lon"]), float(p["lat"]))
                layer, geom, consumed = _relation_feature(rid, members, tags, way_nds, node_xy)
                if layer == "multipolygons":
                    _f, gt, gj, props = _feature_row(0, layer, geom, tags, {"osm_id": str(rid), "osm_way_id": None})
                    push(layer, 0, seq, gt, gj, props, None)
                elif layer == "multilinestrings":
                    _f, gt, gj, props = _feature_row(0, layer, geom, tags, {"osm_id": str(rid)})
                    push(layer, 0, seq, gt, gj, props, None)
                elif layer == "other_relations":
                    _f, gt, gj, props = _feature_row(0, layer, None, tags, {"osm_id": str(rid)})
                    push(layer, 0, seq, gt, gj, props, None)
                for wid in consumed:
                    push("__consumed", 0, seq, None, None, None, wid)
            yield pd.DataFrame(out)

    # relation members -> their ways' (nds, pts), grouped per relation
    rmem = rels.select("id", F.explode("members").alias("m")).where(F.col("m.t") == "way").select(
        "id", F.col("m.r").alias("wid"))
    rway = rmem.join(
        way_geo.select(F.col("id").alias("wid"), F.col("nds").alias("wnds"), "pts"), "wid", "left"
    ).groupBy("id").agg(F.collect_list(F.struct("wid", "wnds", "pts")).alias("wgeo"))
    rel_in = rels.join(rway, "id", "left")
    rel_out = memo.persist(rel_in.mapInPandas(_rel_rows, schema=feat_schema))

    consumed_df = rel_out.where(F.col("layer") == "__consumed").select("wid").distinct()

    # consumed-as-outer only suppresses the CLOSED-AREA branch (an
    # unclosed consumed way still emits its line, exactly as the driver
    # parse): join the flag in and let _way_feature apply its own rule.
    wflag = way_geo.join(consumed_df.withColumn("_consumed", F.lit(True)),
                         way_geo["id"] == consumed_df["wid"], "left").drop("wid")

    def _way_rows_flagged(batches):
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in ("layer", "kind", "seq", "gtype", "geojson", "props_json", "wid")}
            for wid, wtags, seq, wnds, wpts, wcons in zip(
                pdf["id"], pdf["tags"], pdf["seq"], pdf["nds"], pdf["pts"], pdf["_consumed"]
            ):
                wid, tags, seq = int(wid), _asdict(wtags), int(seq)
                nds = [int(n) for n in _aslist(wnds)]
                coords = [[float(p["lon"]), float(p["lat"])] for p in _aslist(wpts)]
                # None-guarded truth test: Arrow->pandas may deliver
                # numpy.bool_ (not Python True) in all-non-null batches,
                # and the left-join miss is None — `is True` is fragile.
                consumed = {wid} if bool(wcons or False) else frozenset()
                layer, geom = _way_feature(wid, nds, tags, coords, consumed)
                if layer == "multipolygons":
                    _f, gt, gj, props = _feature_row(0, layer, geom, tags, {"osm_id": None, "osm_way_id": str(wid)})
                elif layer == "lines":
                    _f, gt, gj, props = _feature_row(0, layer, geom, tags, {"osm_id": str(wid)})
                else:
                    continue
                out["layer"].append(layer); out["kind"].append(1); out["seq"].append(seq)
                out["gtype"].append(gt); out["geojson"].append(gj)
                out["props_json"].append(props); out["wid"].append(None)
            yield pd.DataFrame(out)

    way_out = wflag.mapInPandas(_way_rows_flagged, schema=feat_schema)

    def _node_rows(batches):
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in ("layer", "kind", "seq", "gtype", "geojson", "props_json", "wid")}
            for nid, ntags, nlon, nlat, seq in zip(
                pdf["id"], pdf["tags"], pdf["lon"], pdf["lat"], pdf["seq"]
            ):
                tags = _asdict(ntags)
                if not _significant(tags):
                    continue
                geom = {"type": "Point", "coordinates": [float(nlon), float(nlat)]}
                _f, gt, gj, props = _feature_row(0, "points", geom, tags, {"osm_id": str(int(nid))})
                out["layer"].append("points"); out["kind"].append(0); out["seq"].append(int(seq))
                out["gtype"].append(gt); out["geojson"].append(gj)
                out["props_json"].append(props); out["wid"].append(None)
            yield pd.DataFrame(out)

    node_out = nodes.mapInPandas(_node_rows, schema=feat_schema)

    feats = node_out.unionByName(rel_out.where(F.col("layer") != "__consumed")).unionByName(way_out)
    feats = memo.persist(feats)

    names = ["points", "lines", "multilinestrings", "multipolygons", "other_relations"]
    layers = {}
    for name in names:
        df = feats.where(F.col("layer") == name)
        if dense_fids:
            from pyspark.sql.window import Window

            from ..operators.packing import range_offsets

            # scale-safe dense fids: a bare Window.orderBy would collapse
            # the whole layer into ONE partition.  range_offsets is the
            # one prefix-sum step (pack_shards uses it too): range
            # partitions, ONE tiny per-partition count to the driver,
            # prefix offsets back; then a partition-local row_number +
            # offset.  (kind, seq) is unique per layer (seq is the
            # element id sequence), so the assignment is deterministic
            # under any partitioning.
            n = max(spark.sparkContext.defaultParallelism, 2)
            src = range_offsets(df, n, [F.col("kind"), F.col("seq")], F.count("*"))
            w = Window.partitionBy("_pid").orderBy("kind", "seq")
            df = src.withColumn("fid", (F.row_number().over(w) + F.col("_off")).cast("long")).drop("_pid", "_off")
        else:
            df = df.withColumn("fid", (F.col("kind").cast("long") * F.lit(1 << 62) + F.col("seq")))
        layers[name] = df.select("fid", "gtype", "geojson", "props_json")
    return VectorDataset(layers)
