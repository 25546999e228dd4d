"""M5: grid-pruned kNN == brute-force oracle."""

import numpy as np

from gdal_boots_spark.operators.knn import knn_join
from tests.conftest import GATE_SIDES


def _brute_knn(qx, qy, bx, by, bids, k):
    out = {}
    for i, (x, y) in enumerate(zip(qx, qy)):
        d = np.sqrt((bx - x) ** 2 + (by - y) ** 2)
        order = np.lexsort((bids, d))[:k]
        out[i] = [(int(bids[j]), float(d[j])) for j in order]
    return out


def _oracle(query, base, k):
    """Definitional kNN over row lists (id, x, y): every base row with
    x and y against every such query row, ranked by (dist, bid)."""
    out = []
    for qid, x, y in query:
        if x is None or y is None:
            continue
        d = sorted(
            (float(np.sqrt((x - bx) * (x - bx) + (y - by) * (y - by))), bid)
            for bid, bx, by in base if bx is not None and by is not None
        )
        out += [(qid, bid, dist, rank) for rank, (dist, bid) in enumerate(d[:k], 1)]
    return sorted(out)


def _both_sides(monkeypatch, build):
    """{side: (schema, sorted rows)} of ``build()`` forced to each side
    of the broadcast gate; the two schemas are identical."""
    from gdal_boots_spark import memo
    from gdal_boots_spark.operators import cover

    out = {}
    for side, ceiling in GATE_SIDES.items():
        monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", ceiling)
        memo.clear()
        df = build()
        out[side] = (df.schema, sorted(tuple(r) for r in df.collect()))
    monkeypatch.undo()
    assert out["broadcast"][0] == out["distributed"][0], out
    return {side: rows for side, (_, rows) in out.items()}


def test_knn_matches_bruteforce(spark, monkeypatch):
    """Random points, some queries outside the base hull, on both sides
    of the broadcast gate."""
    rng = np.random.default_rng(21)
    bx = rng.uniform(26, 29, 800)
    by = rng.uniform(53, 55, 800)
    qx = rng.uniform(25.8, 29.2, 60)  # some queries outside the base hull
    qy = rng.uniform(52.8, 55.2, 60)
    base = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(bx, by))], "bid long, x double, y double"
    )
    query = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(qx, qy))], "qid long, x double, y double"
    )
    sides = _both_sides(monkeypatch, lambda: knn_join(query, base, k=5, q_id="qid", b_id="bid"))
    exp = _brute_knn(qx, qy, bx, by, np.arange(800), 5)
    for side, rows in sides.items():
        got_by_q = {}
        for qid, bid, dist, rank in sorted(rows, key=lambda r: (r[0], r[3])):
            got_by_q.setdefault(qid, []).append((bid, dist))
        assert set(got_by_q) == set(exp), side
        for q in exp:
            assert [b for b, _ in got_by_q[q]] == [b for b, _ in exp[q]], (side, q)
            assert np.allclose([d for _, d in got_by_q[q]], [d for _, d in exp[q]])
    assert sides["broadcast"] == sides["distributed"]


def test_knn_k_larger_than_base(spark, monkeypatch):
    base = spark.createDataFrame([(i, float(i), 0.0) for i in range(3)], "bid long, x double, y double")
    query = spark.createDataFrame([(0, 1.2, 0.0)], "qid long, x double, y double")
    for side, rows in _both_sides(monkeypatch, lambda: knn_join(query, base, k=10)).items():
        assert len(rows) == 3, side  # all of the base, never more
        assert sorted(r[1] for r in rows) == [0, 1, 2], side


def test_knn_edge_cases_both_sides(spark, monkeypatch):
    """Both sides of the broadcast gate equal the definitional oracle,
    row for row with bit-identical distances, on: exact distance ties
    (broken by bid), k larger than the base, queries far outside the
    base hull (the grow step falls back to the whole base), null x or y
    on either side (no row), and string ids."""
    base = [
        # four points exactly 0.25 from the query (27, 54): bid decides
        (7, 27.25, 54.0), (3, 26.75, 54.0), (9, 27.0, 54.25), (1, 27.0, 53.75),
        (20, 27.5, 54.5), (21, 28.0, 53.0), (22, None, 54.0), (23, 27.1, None), (24, None, None),
    ]
    query = [
        (0, 27.0, 54.0), (1, -170.0, -80.0), (2, 179.5, 89.5), (3, None, 54.0), (4, 27.0, None),
        (5, 27.6, 54.4), (6, 26.0, 53.0),
    ]
    for ids in ("long", "string"):
        cast = int if ids == "long" else (lambda v: f"id-{v:02d}")
        b = [(cast(i), x, y) for i, x, y in base]
        q = [(cast(i), x, y) for i, x, y in query]
        bdf = spark.createDataFrame(b, f"bid {ids}, x double, y double")
        qdf = spark.createDataFrame(q, f"qid {ids}, x double, y double")
        for k in (2, 3, 10):
            sides = _both_sides(monkeypatch, lambda: knn_join(qdf, bdf, k=k))
            want = _oracle(q, b, k)
            assert sides["broadcast"] == sides["distributed"] == want, (ids, k)
        assert [r[1] for r in want if r[0] == cast(0)][:4] == [cast(i) for i in (1, 3, 7, 9)]
        assert {r[0] for r in want} == {cast(i) for i in (0, 1, 2, 5, 6)}


def test_knn_base_rides_a_broadcast(spark, monkeypatch):
    """The broadcast side's base index reaches the Python workers as a
    Broadcast variable, not inside the pickled closure: over a base of
    200,000 points, knn_join's one mapInArrow carries a serialized
    Python command under 16 KB, and the one broadcast it reads is the
    memoised base index (PySpark broadcasts a command over 1 MB by
    itself, once per build).  Its rows equal the forced-distributed
    side's."""
    from gdal_boots_spark.operators import knn

    base = spark.range(200_000).selectExpr(
        "id AS bid",
        "26.0D + CAST((id * 7919) % 30011 AS DOUBLE) / 10000.0D AS x",
        "53.0D + CAST((id * 104729) % 20011 AS DOUBLE) / 10000.0D AS y",
    )
    query = spark.range(50).selectExpr("id AS qid", "25.9D + id * 0.065D AS x", "52.9D + id * 0.045D AS y")

    def build():
        df = knn_join(query, base, k=4)
        if knn.fits_broadcast(knn.plan_bytes(base)):
            funcs, stack = [], [df._jdf.queryExecution().analyzed()]
            while stack:
                node = stack.pop()
                if node.nodeName() == "MapInArrow":
                    funcs.append(node.functionExpr().func())
                stack.extend(node.children().apply(i) for i in range(node.children().size()))
            assert len(funcs) == 1 and funcs[0].command().size() < 16 << 10, funcs
            bvars = funcs[0].broadcastVars()
            want = knn._base_index(base, "bid", 4, None)._jbroadcast.id()
            assert [bvars.get(i).id() for i in range(bvars.size())] == [want]
        return df

    sides = _both_sides(monkeypatch, build)
    assert sides["broadcast"] == sides["distributed"] and len(sides["broadcast"]) == 200


def test_radius_join_vs_oracle(spark):
    import __spark_entry__ as entrymod
    from tests.conftest import SF_ORACLE, compare_to_oracle

    df = entrymod.all_queries()["radius_join"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["radius_join"], SF_ORACLE, float_cols=("dist",), atol=0.0)


def test_radius_join_bruteforce_random(spark):
    """Exactness on random points at several radii (incl. radius larger
    than a cell and queries outside the base extent)."""
    import numpy as np

    from gdal_boots_spark.operators.knn import radius_join

    rng = np.random.default_rng(11)
    b = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform([26, 53], [29, 55], (300, 2)))]
    q = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform([25.5, 52.5], [29.5, 55.5], (60, 2)))]
    base = spark.createDataFrame(b, "bid long, x double, y double")
    query = spark.createDataFrame(q, "qid long, x double, y double")
    # sorted-LIST compare (not sets): a wrapped duplicate cell would
    # emit the same (qid, bid) pair twice and a set compare masks it.
    # radius 120 forces a coarse auto res (n <= 4) where the annulus
    # block is wider than the wrap modulus — the regression case.
    for radius in (0.02, 0.3, 1.5, 120.0):
        got = sorted((r["qid"], r["bid"]) for r in radius_join(query, base, radius).collect())
        exp = sorted(
            (qi, bi)
            for qi, qx, qy in q
            for bi, bx, by in b
            if np.sqrt((qx - bx) * (qx - bx) + (qy - by) * (qy - by)) <= radius
        )
        assert got == exp, radius


def test_radius_join_meters_matches_brute_force(spark):
    """Great-circle metric radius join at 63-69N: exact pair parity
    with a numpy haversine brute force; the latitude-aware block must
    not miss east-west neighbors that 1/cos(lat) pulls into range, and
    the fixture keeps every pair clear of the 50 km boundary."""
    import numpy as np
    from pyspark.sql import functions as F

    from gdal_boots_spark.operators.knn import EARTH_MEAN_RADIUS_M, radius_join_meters

    def mk(nm, seed):
        ids = np.arange(1, 400)
        x = -20 + ((ids * seed) % 4000) / 100.0
        y = 63.0 + ((ids * (seed + 17)) % 600) / 100.0
        return spark.createDataFrame(
            [(int(i), float(a), float(b)) for i, a, b in zip(ids, x, y)],
            f"{nm} long, x double, y double",
        )

    base, query = mk("bid", 7919), mk("qid", 4409)
    R = 50_000.0
    got = {(r["qid"], r["bid"]) for r in radius_join_meters(query, base, R).collect()}
    bq = np.array([(r["qid"], r["x"], r["y"]) for r in query.collect()])
    bb = np.array([(r["bid"], r["x"], r["y"]) for r in base.collect()])
    lat1 = np.radians(bq[:, 2])[:, None]
    lat2 = np.radians(bb[:, 2])[None, :]
    dl = np.radians(bb[:, 1])[None, :] - np.radians(bq[:, 1])[:, None]
    h = np.sin((lat2 - lat1) / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dl / 2) ** 2
    dist = 2 * EARTH_MEAN_RADIUS_M * np.arcsin(np.sqrt(h))
    want = {(int(bq[i, 0]), int(bb[j, 0])) for i, j in zip(*np.where(dist <= R))}
    assert got == want and len(got) > 0
    # boundary clearance: no pair within 1e-9 relative of the radius
    assert not (np.abs(dist - R) < R * 1e-9).any()
    # a pure planar-degree block at this latitude WOULD miss pairs:
    # the widest in-range pair spans more degrees of lon than of lat
    sel = dist <= R
    dlon_deg = np.abs(bb[:, 1][None, :] - bq[:, 1][:, None])
    dlat_max = (R / (EARTH_MEAN_RADIUS_M * np.pi / 180.0))
    assert (dlon_deg[sel] > dlat_max).any()


def test_radius_join_meters_antimeridian(spark):
    """ADVICE r5 (medium): a query within radius of +-180 must find
    base points on the OTHER side of the antimeridian — the exploded
    longitude index now wraps modulo n instead of clamping.  Fixture
    pairs straddle the seam at several latitudes; parity against the
    same numpy haversine brute force (lon difference handled via the
    periodic sin(dl/2), which needs no unwrapping)."""
    import numpy as np

    from gdal_boots_spark.operators.knn import EARTH_MEAN_RADIUS_M, radius_join_meters

    rows_b, rows_q = [], []
    k = 1
    for lat in (-40.123, 0.251, 55.377):
        for off in (0.051, 0.203, 0.377):  # degrees from the seam
            rows_b.append((k, 180.0 - off, lat))          # west side
            rows_q.append((k, -180.0 + off / 2, lat))     # east side
            k += 1
    # far-away decoys that must NOT pair across the seam
    rows_b.append((90, 170.123, 10.007))
    rows_q.append((91, -170.251, 10.007))
    base = spark.createDataFrame(rows_b, "bid long, x double, y double")
    query = spark.createDataFrame(rows_q, "qid long, x double, y double")
    R = 60_000.0
    got = {(r["qid"], r["bid"]) for r in radius_join_meters(query, base, R).collect()}
    bq = np.array(rows_q, dtype=float)
    bb = np.array(rows_b, dtype=float)
    lat1 = np.radians(bq[:, 2])[:, None]
    lat2 = np.radians(bb[:, 2])[None, :]
    dl = np.radians(bb[:, 1])[None, :] - np.radians(bq[:, 1])[:, None]
    h = np.sin((lat2 - lat1) / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dl / 2) ** 2
    dist = 2 * EARTH_MEAN_RADIUS_M * np.arcsin(np.sqrt(h))
    want = {(int(bq[i, 0]), int(bb[j, 0])) for i, j in zip(*np.where(dist <= R))}
    assert got == want
    # the fixture genuinely crosses the seam (every true pair has its
    # query east of -180 and base west of +180 by construction)
    assert len(want) >= 3 and all(q != 90 and b != 90 for q, b in want)
    assert not (np.abs(dist - R) < R * 1e-9).any()


def test_radius_join_meters_ellipsoid_matches_vincenty_brute_force(spark):
    """Ellipsoid-true mode (r6, VERDICT item 3): exact pair parity with
    a numpy Vincenty all-pairs brute force on WGS84, at the same
    high-latitude fixture plus antimeridian straddlers.  The radius is
    chosen so the SPHERICAL (haversine, mean radius) answer differs —
    proving the geodesic predicate, not the block, decides pairs."""
    import numpy as np

    from gdal_boots_spark.geom.geodesic import inverse as geod_inverse
    from gdal_boots_spark.operators.knn import EARTH_MEAN_RADIUS_M, radius_join_meters

    def mk(nm, seed):
        ids = np.arange(1, 250)
        x = -20 + ((ids * seed) % 4000) / 100.0
        y = 63.0 + ((ids * (seed + 17)) % 600) / 100.0
        return spark.createDataFrame(
            [(int(i), float(a), float(b)) for i, a, b in zip(ids, x, y)],
            f"{nm} long, x double, y double",
        )

    base, query = mk("bid", 7919), mk("qid", 4409)
    R = 50_000.0
    got = {
        (r["qid"], r["bid"])
        for r in radius_join_meters(query, base, R, ellipsoid="WGS84").collect()
    }
    bq = np.array([(r["qid"], r["x"], r["y"]) for r in query.collect()])
    bb = np.array([(r["bid"], r["x"], r["y"]) for r in base.collect()])
    qi, bi = np.meshgrid(np.arange(len(bq)), np.arange(len(bb)), indexing="ij")
    s, _, _ = geod_inverse(
        bq[qi.ravel(), 2], bq[qi.ravel(), 1], bb[bi.ravel(), 2], bb[bi.ravel(), 1]
    )
    dist = s.reshape(len(bq), len(bb))
    want = {(int(bq[i, 0]), int(bb[j, 0])) for i, j in zip(*np.where(dist <= R))}
    assert got == want and len(got) > 0
    # the geodesic and haversine answers genuinely differ at this
    # latitude/radius (the ellipsoid is ~0.3% off the mean sphere here)
    lat1 = np.radians(bq[:, 2])[:, None]
    lat2 = np.radians(bb[:, 2])[None, :]
    dl = np.radians(bb[:, 1])[None, :] - np.radians(bq[:, 1])[:, None]
    h = np.sin((lat2 - lat1) / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dl / 2) ** 2
    hav = 2 * EARTH_MEAN_RADIUS_M * np.arcsin(np.sqrt(h))
    want_hav = {(int(bq[i, 0]), int(bb[j, 0])) for i, j in zip(*np.where(hav <= R))}
    assert want != want_hav
    # boundary clearance (repo fixture rule) on the DECIDING metric
    assert not (np.abs(dist - R) < R * 1e-9).any()

    # antimeridian: wrap still works through the shared block helper
    rows_b = [(1, 179.877, 63.503), (2, 170.123, 63.503)]
    rows_q = [(1, -179.899, 63.503), (2, -170.251, 63.503)]
    b2 = spark.createDataFrame(rows_b, "bid long, x double, y double")
    q2 = spark.createDataFrame(rows_q, "qid long, x double, y double")
    got2 = {
        (r["qid"], r["bid"])
        for r in radius_join_meters(q2, b2, 60_000.0, ellipsoid="WGS84").collect()
    }
    assert got2 == {(1, 1)}
    # hemisphere-scale radius refused in ellipsoid mode
    import pytest

    with pytest.raises(ValueError, match="antipodal"):
        radius_join_meters(q2, b2, 20_000_000.0, ellipsoid="WGS84")


def test_radius_join_meters_entry_surface(spark):
    import glob
    import os

    import duckdb as _duckdb

    import __spark_entry__ as entrymod

    SFDIR = "/root/testdata/sf0.01"
    sdf = entrymod.all_queries()["radius_join_m"](spark, SFDIR).toPandas()
    con = _duckdb.connect()
    for p in glob.glob(SFDIR + "/*.parquet"):
        t = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    odf = con.execute(entrymod.all_oracle_sql()["radius_join_m"]).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b) and len(a) > 0
    assert len(entrymod.queries()) == 50
