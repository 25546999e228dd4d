"""OSM XML driver (sources/osm.py) — closes the SURVEY §2.1 OSM scope
exclusion without GDAL.

The oracle is the reference fixture PAIR: minsk-boundary.osm and
minsk-boundary.gpkg (the latter converted with OGR's osm driver), so
layer counts, per-feature attribute columns (including the
hstore-style other_tags and z_order), line geometries and the
relation-assembled multipolygon rings are checked against OGR's own
output feature-by-feature.
"""

import json
import os
import sqlite3

import pytest

from gdal_boots_spark import memo
from gdal_boots_spark.sources.osm import read_osm

OSM = "/root/reference/tests/fixtures/minsk-boundary.osm"
GPKG = "/root/reference/tests/fixtures/minsk-boundary.gpkg"

needs_fixtures = pytest.mark.skipif(
    not (os.path.exists(OSM) and os.path.exists(GPKG)), reason="reference fixtures not mounted"
)


@needs_fixtures
def test_osm_layer_parity_with_ogr_gpkg(spark):
    vds = read_osm(spark, OSM)
    con = sqlite3.connect(GPKG)
    con.text_factory = lambda b: b.decode("utf-8", "replace")
    for name in ["points", "lines", "multilinestrings", "multipolygons", "other_relations"]:
        assert vds[name].count() == con.execute(f"SELECT COUNT(*) FROM {name}").fetchone()[0], name

    # points: every attribute column identical (incl. other_tags hstore)
    gcols = ["osm_id", "name", "barrier", "highway", "ref", "address", "is_in", "place", "man_made", "other_tags"]
    gp = {r[0]: dict(zip(gcols, r)) for r in con.execute(f"SELECT {','.join(gcols)} FROM points")}
    for row in vds["points"].collect():
        p = json.loads(row["props_json"])
        g = gp[p["osm_id"]]
        for c in gcols:
            assert (p.get(c) or None) == (g.get(c) or None), (p["osm_id"], c)

    # lines: columns + z_order + coordinate-exact geometry
    from gdal_boots_spark.sources.gpkg import parse_gpkg_blob

    gcols = ["osm_id", "name", "highway", "waterway", "aerialway", "barrier", "man_made", "z_order", "other_tags"]
    gl = {r[0]: dict(zip(gcols, r)) for r in con.execute(f"SELECT {','.join(gcols)} FROM lines")}
    ggeo = {r[0]: parse_gpkg_blob(r[1]) for r in con.execute("SELECT osm_id, geom FROM lines")}
    for row in vds["lines"].collect():
        p = json.loads(row["props_json"])
        g = gl[p["osm_id"]]
        for c in gcols:
            assert (p.get(c) if p.get(c) is not None else None) == (
                g.get(c) if g.get(c) is not None else None
            ), (p["osm_id"], c)
        assert json.loads(row["geojson"])["coordinates"] == ggeo[p["osm_id"]]["coordinates"], p["osm_id"]

    # multipolygons: (osm_id, osm_way_id) identity, coordinate content
    # and per-part ring structure (part/ring ORDER is export-dependent)
    gm = {
        (r[0], r[1]): parse_gpkg_blob(r[2])
        for r in con.execute("SELECT osm_id, osm_way_id, geom FROM multipolygons")
    }
    seen = set()
    for row in vds["multipolygons"].collect():
        p = json.loads(row["props_json"])
        key = (p["osm_id"], p["osm_way_id"])
        seen.add(key)
        g = gm[key]
        mine = json.loads(row["geojson"])
        a = {(c[0], c[1]) for part in mine["coordinates"] for ring in part for c in ring}
        b = {(c[0], c[1]) for part in g["coordinates"] for ring in part for c in ring}
        assert a == b, key
        assert sorted(len(part) for part in mine["coordinates"]) == sorted(
            len(part) for part in g["coordinates"]
        ), key
    assert seen == set(gm)
    # the boundary relation row assembles 3 outer parts, one carrying
    # the inner enclaves (oracle: gpkg part structure 1/7/1 rings)
    rel = next(r for r in vds["multipolygons"].collect() if json.loads(r["props_json"])["osm_id"] == "59195")
    assert sorted(len(p) for p in json.loads(rel["geojson"])["coordinates"]) == [1, 1, 7]


def test_osm_synthetic_rules(spark, tmp_path):
    """Rules the fixture cannot pin: area=yes forces a closed highway
    way to polygon, area=no blocks an area-key way, route relations
    land in multilinestrings, unknown relation types in
    other_relations (geometry-less)."""
    xml = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
 <node id="1" lat="0.0" lon="0.0"/>
 <node id="2" lat="0.0" lon="1.0"/>
 <node id="3" lat="1.0" lon="1.0"/>
 <node id="4" lat="1.0" lon="0.0"/>
 <way id="10"><nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="4"/><nd ref="1"/>
  <tag k="highway" v="pedestrian"/><tag k="area" v="yes"/></way>
 <way id="11"><nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="4"/><nd ref="1"/>
  <tag k="landuse" v="park"/><tag k="area" v="no"/></way>
 <way id="12"><nd ref="1"/><nd ref="2"/><nd ref="3"/>
  <tag k="highway" v="primary"/><tag k="bridge" v="yes"/><tag k="layer" v="1"/></way>
 <relation id="20"><member type="way" ref="12" role=""/>
  <tag k="type" v="route"/><tag k="route" v="bus"/><tag k="name" v="r20"/></relation>
 <relation id="21"><member type="way" ref="12" role=""/>
  <tag k="type" v="site"/><tag k="name" v="r21"/></relation>
</osm>"""
    path = str(tmp_path / "synthetic.osm")
    with open(path, "w") as f:
        f.write(xml)
    vds = read_osm(spark, path)
    mp = vds["multipolygons"].collect()
    assert len(mp) == 1 and json.loads(mp[0]["props_json"])["osm_way_id"] == "10"
    lines = {json.loads(r["props_json"])["osm_id"]: json.loads(r["props_json"]) for r in vds["lines"].collect()}
    assert set(lines) == {"11", "12"}  # area=no stays a line
    # z_order: primary (7) + layer*10 + bridge(+10) = 27
    assert lines["12"]["z_order"] == 27
    mls = vds["multilinestrings"].collect()
    assert len(mls) == 1
    m = json.loads(mls[0]["props_json"])
    assert m["osm_id"] == "20" and m["type"] == "route" and m["name"] == "r20"
    assert json.loads(mls[0]["geojson"])["type"] == "MultiLineString"
    other = vds["other_relations"].collect()
    assert len(other) == 1 and json.loads(other[0]["props_json"])["type"] == "site"


@needs_fixtures
def test_osm_to_gpkg_round_trip(spark, tmp_path):
    """read_osm -> write_gpkg -> read_gpkg preserves every layer's
    features (the reference flow: open OSM, persist as GPKG)."""
    from gdal_boots_spark.sources.gpkg import read_gpkg, write_gpkg

    vds = read_osm(spark, OSM)
    path = str(tmp_path / "osm.gpkg")
    write_gpkg(vds, path)
    back = read_gpkg(spark, path)
    for name in vds.layer_names:
        a = sorted(
            (r["gtype"], r["geojson"], r["props_json"]) for r in vds[name].collect()
        )
        b = sorted(
            (r["gtype"], r["geojson"], r["props_json"]) for r in back[name].collect()
        )
        assert a == b, name


def test_osm_skipped_relation_does_not_consume_ways(spark, tmp_path):
    """A tagged closed area way that is an outer member of a relation
    which never emits (not _significant, or no assemblable outer ring)
    must still appear as a standalone polygon (ADVICE r4: the old
    pre-pass consumed it into no layer at all)."""
    xml = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
 <node id="1" lat="0.0" lon="0.0"/>
 <node id="2" lat="0.0" lon="1.0"/>
 <node id="3" lat="1.0" lon="1.0"/>
 <node id="4" lat="1.0" lon="0.0"/>
 <way id="10"><nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="4"/><nd ref="1"/>
  <tag k="landuse" v="park"/></way>
 <way id="11"><nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="4"/><nd ref="1"/>
  <tag k="building" v="yes"/></way>
 <relation id="20"><member type="way" ref="10" role="outer"/>
  <tag k="type" v="multipolygon"/><tag k="note" v="tags-only-ignored-keys"/></relation>
 <relation id="21"><member type="way" ref="11" role="outer"/>
  <tag k="type" v="multipolygon"/><tag k="landuse" v="forest"/></relation>
</osm>"""
    path = str(tmp_path / "skiprel.osm")
    with open(path, "w") as f:
        f.write(xml)
    vds = read_osm(spark, path)
    mp = {}
    for r in vds["multipolygons"].collect():
        p = json.loads(r["props_json"])
        mp[(p.get("osm_id"), p.get("osm_way_id"))] = p
    # relation 20 is insignificant (note is an IGNORED key) -> not
    # emitted, so way 10 keeps its standalone polygon; relation 21
    # emits and absorbs way 11
    assert ("20", None) not in mp
    assert (None, "10") in mp and mp[(None, "10")]["landuse"] == "park"
    assert ("21", None) in mp
    assert (None, "11") not in mp


def test_osm_size_guard(spark, tmp_path):
    """VERDICT r4 item 6: driver-side XML parse refuses files above the
    dimension-size threshold with a pointer at the splittable path."""
    path = str(tmp_path / "tiny.osm")
    with open(path, "w") as f:
        f.write('<?xml version="1.0"?><osm version="0.6"></osm>')
    with pytest.raises(ValueError, match="NDJSON"):
        read_osm(spark, path, max_bytes=4)
    # under the limit: parses fine (empty layers)
    vds = read_osm(spark, path)
    assert vds["points"].count() == 0


@needs_fixtures
def test_osm_distributed_parity_minsk(spark, tmp_path):
    """read_osm_distributed (one-call planet-scale path, VERDICT r5
    item 5) must reproduce the driver-side parse EXACTLY — every layer,
    every column, including dense fids — on the reference fixture."""
    from gdal_boots_spark.sources.osm import read_osm, read_osm_distributed

    a = read_osm(spark, OSM)
    b = read_osm_distributed(spark, OSM, work_dir=str(tmp_path / "nd"))
    for layer in ("points", "lines", "multilinestrings", "multipolygons", "other_relations"):
        ra = sorted(tuple(r) for r in a[layer].collect())
        rb = sorted(tuple(r) for r in b[layer].collect())
        assert ra == rb, f"layer {layer}: {len(ra)} vs {len(rb)} rows"
        assert len(ra) > 0 or layer in ("multilinestrings", "other_relations")


def test_osm_dense_fids_multi_partition(spark, tmp_path):
    """r8 (VERDICT r7 item 5): dense fids come from a distributed
    prefix-sum rank (range partition + broadcast offsets), not a
    single-partition global window.  On a several-hundred-node file
    the points layer must still carry fids exactly 1..N, ordered by
    the significant nodes' file order, and the fid plan must contain
    no bare (empty-partition-spec) global Window exchange."""
    import json as _json

    from gdal_boots_spark.sources.osm import read_osm_distributed

    n = 400
    parts = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6">']
    for i in range(1, n + 1):
        parts.append(
            f'<node id="{i}" lat="{i % 90}.0" lon="{i % 180}.0">'
            f'<tag k="name" v="n{i}"/></node>'
        )
    parts.append("</osm>")
    path = str(tmp_path / "many_nodes.osm")
    with open(path, "w") as f:
        f.write("\n".join(parts))
    vds = read_osm_distributed(spark, path, work_dir=str(tmp_path / "nd"))
    rows = vds["points"].collect()
    assert len(rows) == n
    fids = sorted(r["fid"] for r in rows)
    assert fids == list(range(1, n + 1))  # dense 1..N
    # order: fid ascending == node file order (osm_id ascending here)
    by_fid = sorted(rows, key=lambda r: r["fid"])
    ids = [int(_json.loads(r["props_json"])["osm_id"]) for r in by_fid]
    assert ids == sorted(ids)
    # no single-partition global window: every Window in the plan is
    # partitioned (no 'windowspecdefinition(kind' without a partition
    # key would be too brittle; instead assert the plan repartitions by
    # range before ranking)
    plan = vds["points"]._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    memo.clear()


def test_osm_to_ndjson_bounded_memory_and_shards(spark, tmp_path):
    """The streaming converter must hold O(1) elements, not the DOM:
    peak tracemalloc on a ~6 MB synthetic file stays under 8 MB (a
    full-DOM parse of the same file holds >40 MB), and small
    shard_bytes rotates multiple splittable output files.  The
    distributed reader over those shards agrees with the driver parse."""
    import tracemalloc

    from gdal_boots_spark.sources.osm import osm_to_ndjson, read_osm, read_osm_distributed

    n = 30000
    path = str(tmp_path / "big.osm")
    with open(path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n')
        for i in range(1, n + 1):
            lon, lat = (i % 300) / 100.0, (i % 200) / 100.0
            f.write(f'<node id="{i}" lon="{lon}" lat="{lat}">')
            if i % 7 == 0:
                f.write(f'<tag k="name" v="n{i}"/><tag k="place" v="spot"/>')
            f.write("</node>\n")
        for w in range(1, n // 10 + 1):
            base = (w * 9) % (n - 6) + 1
            f.write(f'<way id="{100000 + w}">')
            for j in range(5):
                f.write(f'<nd ref="{base + j}"/>')
            if w % 3 == 0:  # closed area
                f.write(f'<nd ref="{base}"/><tag k="building" v="yes"/>')
            else:
                f.write(f'<tag k="highway" v="residential"/>')
            f.write("</way>\n")
        f.write(
            '<relation id="900"><member type="way" ref="100003" role="outer"/>'
            '<tag k="type" v="multipolygon"/><tag k="landuse" v="forest"/></relation>\n'
        )
        f.write("</osm>\n")

    out = str(tmp_path / "shards")
    tracemalloc.start()
    counts = osm_to_ndjson(path, out, shard_bytes=256 << 10)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert counts == {"nodes": n, "ways": n // 10, "rels": 1}
    assert peak < 8 << 20, f"streaming converter peaked at {peak / 2**20:.1f} MiB"
    import glob as _glob
    assert len(_glob.glob(os.path.join(out, "nodes", "part-*.ndjson"))) >= 4

    a = read_osm(spark, path)
    b = read_osm_distributed(spark, path, work_dir=out)  # reuses _SUCCESS
    for layer in ("points", "lines", "multipolygons"):
        ra = sorted(tuple(r) for r in a[layer].collect())
        rb = sorted(tuple(r) for r in b[layer].collect())
        assert ra == rb and len(ra) > 0, layer


def test_osm_distributed_parity_edge_cases(spark, tmp_path):
    """Driver vs distributed parity on a hand-built document stressing
    the rules the minsk fixture cannot: relations referencing MISSING
    ways, node-member-only relations, tagged inner enclaves that keep
    standalone features, untagged ways, unclosed consumed ways that
    still emit lines, and a route relation."""
    from gdal_boots_spark.sources.osm import read_osm, read_osm_distributed

    xml = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
 <node id="1" lat="0.0" lon="0.0"/><node id="2" lat="0.0" lon="2.0"/>
 <node id="3" lat="2.0" lon="2.0"/><node id="4" lat="2.0" lon="0.0"/>
 <node id="5" lat="0.5" lon="0.5"/><node id="6" lat="0.5" lon="1.0"/>
 <node id="7" lat="1.0" lon="1.0"/><node id="8" lat="1.0" lon="0.5"/>
 <node id="9" lat="5.0" lon="5.0"><tag k="place" v="village"/><tag k="name" v="v9"/></node>
 <node id="10" lat="6.0" lon="6.0"><tag k="note" v="ignored-only"/></node>
 <way id="20"><nd ref="1"/><nd ref="2"/><nd ref="3"/></way>
 <way id="21"><nd ref="3"/><nd ref="4"/><nd ref="1"/><tag k="note" v="x"/></way>
 <way id="22"><nd ref="5"/><nd ref="6"/><nd ref="7"/><nd ref="8"/><nd ref="5"/>
  <tag k="building" v="yes"/></way>
 <way id="23"><nd ref="1"/><nd ref="2"/><nd ref="99"/><tag k="highway" v="path"/></way>
 <relation id="30"><member type="way" ref="20" role="outer"/>
  <member type="way" ref="21" role="outer"/>
  <member type="way" ref="22" role="inner"/>
  <member type="way" ref="404" role="outer"/>
  <tag k="type" v="multipolygon"/><tag k="landuse" v="meadow"/></relation>
 <relation id="31"><member type="node" ref="9" role=""/>
  <tag k="type" v="site"/><tag k="name" v="nodes-only"/></relation>
 <relation id="32"><member type="way" ref="21" role=""/>
  <member type="way" ref="23" role=""/>
  <tag k="type" v="route"/><tag k="route" v="hiking"/></relation>
</osm>"""
    path = str(tmp_path / "edge.osm")
    with open(path, "w") as f:
        f.write(xml)
    a = read_osm(spark, path)
    b = read_osm_distributed(spark, path, work_dir=str(tmp_path / "nd"))
    total = 0
    for layer in ("points", "lines", "multilinestrings", "multipolygons", "other_relations"):
        ra = sorted(tuple(r) for r in a[layer].collect())
        rb = sorted(tuple(r) for r in b[layer].collect())
        assert ra == rb, f"layer {layer}"
        total += len(ra)
    # sanity: the document exercises every layer
    assert a["points"].count() == 1          # node 9 (10 is ignored-keys-only)
    assert a["multipolygons"].count() == 2   # relation 30 + standalone way 22? way 22 consumed? inner role -> NOT consumed
    assert a["multilinestrings"].count() == 1
    assert a["other_relations"].count() == 1
    assert total >= 7


def test_osm_distributed_parity_edge_cases_2(spark, tmp_path):
    """Second parity stress: relation-type members (ignored), the same
    way listed twice as outer, inner-only multipolygons (no feature),
    `boundary` type relations, ways whose nodes are ALL missing, a
    self-touching way with a repeated node, and a multipolygon whose
    outer way exists but has zero resolvable coordinates."""
    from gdal_boots_spark.sources.osm import read_osm, read_osm_distributed

    xml = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
 <node id="1" lat="0.0" lon="0.0"/><node id="2" lat="0.0" lon="2.0"/>
 <node id="3" lat="2.0" lon="2.0"/><node id="4" lat="2.0" lon="0.0"/>
 <node id="5" lat="10.0" lon="10.0"/><node id="6" lat="10.0" lon="12.0"/>
 <node id="7" lat="12.0" lon="12.0"/>
 <way id="40"><nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="4"/><nd ref="1"/></way>
 <way id="41"><nd ref="5"/><nd ref="6"/><nd ref="7"/><nd ref="6"/><nd ref="5"/>
  <tag k="highway" v="track"/></way>
 <way id="42"><nd ref="700"/><nd ref="701"/><nd ref="702"/><nd ref="700"/></way>
 <relation id="50"><member type="way" ref="40" role="outer"/>
  <member type="way" ref="40" role="outer"/>
  <member type="relation" ref="51" role="subarea"/>
  <tag k="type" v="boundary"/><tag k="boundary" v="administrative"/></relation>
 <relation id="51"><member type="way" ref="40" role="inner"/>
  <tag k="type" v="multipolygon"/><tag k="landuse" v="park"/></relation>
 <relation id="52"><member type="way" ref="42" role="outer"/>
  <tag k="type" v="multipolygon"/><tag k="natural" v="water"/></relation>
</osm>"""
    path = str(tmp_path / "edge2.osm")
    with open(path, "w") as f:
        f.write(xml)
    a = read_osm(spark, path)
    b = read_osm_distributed(spark, path, work_dir=str(tmp_path / "nd2"))
    for layer in ("points", "lines", "multilinestrings", "multipolygons", "other_relations"):
        ra = sorted(tuple(r) for r in a[layer].collect())
        rb = sorted(tuple(r) for r in b[layer].collect())
        assert ra == rb, f"layer {layer}: {ra} vs {rb}"
    # boundary relation 50 emits (dedup'd outer), inner-only 51 and
    # coordinate-less 52 do not; self-touching way 41 still a line
    assert a["multipolygons"].count() == 1
    assert a["lines"].count() == 1


def test_osm_distributed_release_unpersists(spark, tmp_path):
    """read_osm_distributed persists its relation-assembly branch point,
    the unioned feature set and one prefix-sum range partition per
    layer, all through the memo: memo.clear() unpersists every one, so
    repeated invocations (bench reps, retries) don't leak caches."""
    from gdal_boots_spark.sources.osm import read_osm_distributed
    from tests.conftest import persisted_rdds

    xml = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
 <node id="1" lat="0.0" lon="0.0"/>
 <node id="2" lat="0.0" lon="1.0"/>
 <node id="3" lat="1.0" lon="1.0"/>
 <way id="10"><nd ref="1"/><nd ref="2"/><nd ref="3"/>
  <tag k="highway" v="primary"/></way>
</osm>"""
    path = str(tmp_path / "rel.osm")
    with open(path, "w") as f:
        f.write(xml)
    memo.clear()
    before = persisted_rdds(spark)
    vds = read_osm_distributed(spark, path, work_dir=str(tmp_path / "nd"))
    assert vds["lines"].count() == 1
    # rel_out + feats + one prefix-sum ranged frame per layer (r8)
    assert memo.stats()["persist"]["misses"] == 7
    assert len(persisted_rdds(spark) - before) == 7
    memo.clear()
    assert not persisted_rdds(spark) - before


def test_osm_distributed_temp_dir_released(spark, tmp_path, monkeypatch):
    """read_osm_distributed without a work_dir writes its NDJSON to a
    directory the memo owns: after three calls memo.clear() leaves no
    osm_ndjson_* directory behind, and a call inside memo.releasing()
    (a StageRunner stage) leaves none once the block exits.  A memo
    that first meets the application inside the call (a fresh process)
    keeps the directory the lazily planned reads still need."""
    import tempfile

    from gdal_boots_spark.sources.osm import read_osm_distributed

    path = str(tmp_path / "way.osm")
    with open(path, "w") as f:
        f.write("""<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
 <node id="1" lat="0.0" lon="0.0"/>
 <node id="2" lat="0.0" lon="1.0"/>
 <way id="10"><nd ref="1"/><nd ref="2"/><tag k="highway" v="primary"/></way>
</osm>""")
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    memo.clear()
    for _ in range(3):
        assert read_osm_distributed(spark, path)["lines"].count() == 1
    assert len(list(scratch.glob("osm_ndjson_*"))) == 3
    memo.clear()
    assert not list(scratch.glob("osm_ndjson_*"))
    with memo.releasing():
        assert read_osm_distributed(spark, path)["lines"].count() == 1
        assert len(list(scratch.glob("osm_ndjson_*"))) == 1
    assert not list(scratch.glob("osm_ndjson_*"))
    monkeypatch.setattr(memo, "_context", None)
    monkeypatch.setattr(memo, "_app_id", None)
    layers = read_osm_distributed(spark, path)
    counts = {name: layers[name].count() for name in layers.layer_names}  # every layer reads the directory
    assert counts["lines"] == 1
    assert len(list(scratch.glob("osm_ndjson_*"))) == 1
    memo.clear()
    assert not list(scratch.glob("osm_ndjson_*"))
