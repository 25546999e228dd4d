"""The session memo: no stale reads after a rewrite, per-raster
broadcasts that survive eviction, warm rebuilds, persisted relations
it owns and frees, and no ad-hoc cache outside
``gdal_boots_spark/memo.py``."""

import ast
import pathlib
import re

import numpy as np
import pytest

from gdal_boots_spark.sources.synth import rect_ring_geojson

from tests.conftest import GATE_SIDES, SF_SMOKE

PKG = pathlib.Path(__file__).resolve().parent.parent / "gdal_boots_spark"


def _write_rect_dim(spark, path, pid, minx):
    spark.createDataFrame(
        [(pid, rect_ring_geojson(minx, 0.0, minx + 1.0, 1.0))], "poly_id long, geojson string"
    ).write.mode("overwrite").parquet(path)


def test_rewritten_parquet_path_serves_new_rows(spark, tmp_path):
    """Rewriting a parquet path mid-session: both the path memo and the
    plan-keyed dim memo must see the new rows (a file relation's
    semantic hash is the same before and after the rewrite)."""
    from gdal_boots_spark.operators.spatial_join import pip_join_points
    from gdal_boots_spark.sources.synth import read_parquet_memo

    path = str(tmp_path / "dim.parquet")
    pts = spark.createDataFrame([(1, 0.5, 0.5), (2, 2.5, 0.5)], "point_id long, x double, y double")

    def pairs():
        got = pip_join_points(pts, spark.read.parquet(path)).select("point_id", "poly_id").collect()
        return sorted(tuple(r) for r in got)

    _write_rect_dim(spark, path, 7, 0.0)
    assert [r["poly_id"] for r in read_parquet_memo(spark, path).collect()] == [7]
    assert pairs() == [(1, 7)]
    _write_rect_dim(spark, path, 8, 2.0)
    assert [r["poly_id"] for r in read_parquet_memo(spark, path).collect()] == [8]
    assert pairs() == [(2, 8)]


def test_rewritten_file_serves_no_stale_persisted_rows(spark, tmp_path):
    """memo.persist over a parquet file that a writer other than Spark
    rewrites (Spark's cache matches a file relation by its root path and
    only a Spark writer refreshes it): persisting the same plan over the
    rewritten file serves the new rows, not the old file's cached ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdal_boots_spark import memo

    path = str(tmp_path / "keys.parquet")

    def evens():
        return sorted(r["k"] for r in memo.persist(spark.read.parquet(path).where("k % 2 = 0")).collect())

    pq.write_table(pa.table({"k": list(range(10))}), path)
    assert evens() == [0, 2, 4, 6, 8]
    pq.write_table(pa.table({"k": list(range(10, 30))}), path)
    try:
        assert evens() == list(range(10, 30, 2))
    finally:
        memo.clear()


def test_many_rasters_sample_their_own_values(spark):
    """More distinct rasters than the raster memo holds: each one, and
    each evicted one sampled again, reads its own pixels."""
    from gdal_boots_spark.operators.sampling import values_by_points
    from gdal_boots_spark.sources.tiles import RasterGrid, array_to_tiles

    grid = RasterGrid(
        raster_id="m", epsg=4326, transform=(1.0, 0.0, 0.0, 0.0, -1.0, 3.0),
        width=5, height=3, tile_w=2, tile_h=2, bands=1, dtype="int32",
    )
    pts = spark.createDataFrame([(0, 0.5, 2.5), (1, 4.5, 0.5)], "point_id long, x double, y double")
    base = np.arange(15, dtype=np.int32).reshape(3, 5)
    rasters = [array_to_tiles(spark, base + 100 * i, grid) for i in range(20)]

    def sampled(i):
        got = values_by_points(pts, rasters[i], grid).collect()
        return sorted((r["point_id"], r["value"]) for r in got)

    for i in list(range(20)) + [0, 1, 2]:
        assert sampled(i) == [(0, 100.0 * i), (1, 14.0 + 100 * i)], i


def _build_jobs(spark, tag, build):
    """Spark jobs that ``build()`` runs, counted in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def test_board_rebuild_is_all_memo_hits(spark):
    """Building the benchmark board's ten queries a second time in one
    session runs no memo miss and no Spark job: every probe, collect and
    relation comes from the memo, and every plan stays lazy."""
    import __spark_entry__ as entry
    from gdal_boots_spark import memo

    board = (
        "pip_join", "cell_assign", "span_counts", "knn", "radius_join",
        "bbox_join", "rasterize_hist", "zonal_stats", "point_sampling", "polygonize",
    )
    qs = entry.queries()
    for name in board:
        qs[name](spark, SF_SMOKE)
    before = memo.stats()
    jobs = {name: _build_jobs(spark, f"warm-build-{name}", lambda: qs[name](spark, SF_SMOKE)) for name in board}
    after = memo.stats()
    misses = {k: v["misses"] - before.get(k, {"misses": 0})["misses"] for k, v in after.items()}
    assert not any(misses.values()), misses
    assert sum(v["hits"] for v in after.values()) > sum(v["hits"] for v in before.values())
    assert not any(jobs.values()), {name: n for name, n in jobs.items() if n}


@pytest.mark.parametrize("side", list(GATE_SIDES))
def test_warm_builds_run_no_job_and_no_broadcast(spark, monkeypatch, side):
    """A second build in one session, on either side of the broadcast
    gate, runs no Spark job and makes no SparkContext.broadcast call: the
    collected dims, their broadcasts, the tile contributions, the auto-res
    aggregate, the ann base matrix, the embedding-width probe and the knn
    base index (distributed: its stats aggregate) all come from the memo,
    and the LSH planes and IVF centroids ride in their UDF closures."""
    import __spark_entry__ as entry
    from pyspark import SparkContext

    from gdal_boots_spark.operators import cover

    monkeypatch.setattr(cover, "BROADCAST_MAX_BYTES", GATE_SIDES[side])
    names = (
        "pip_join", "pip_join_poly_spans", "rasterize_hist", "zonal_stats", "point_sampling", "polygonize",
        "pip_join_shuffle", "ann_cosine", "ann_lsh", "ann_ivf", "embedding_neardup", "knn",
    )
    qs = entry.all_queries()
    for name in names:
        qs[name](spark, SF_SMOKE)
    calls = []
    real = SparkContext.broadcast
    monkeypatch.setattr(SparkContext, "broadcast", lambda sc, value: calls.append(value) or real(sc, value))
    warm = {}
    for name in names:
        del calls[:]
        warm[name] = (_build_jobs(spark, f"warm-{side}-{name}", lambda: qs[name](spark, SF_SMOKE)), len(calls))
    assert all(v == (0, 0) for v in warm.values()), warm


def test_neardup_groups_builds_without_jobs(spark):
    """The LSH pairs, their connected components and the group join are
    one lazy plan: building it runs no Spark job."""
    from gdal_boots_spark.operators.dedup import neardup_groups

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert _build_jobs(spark, "build-neardup-groups", lambda: neardup_groups(docs, n_hashes=16, bands=8)) == 0


def test_memo_lru_and_clear(spark, monkeypatch):
    from pyspark.broadcast import Broadcast

    from gdal_boots_spark import memo

    memo.clear()
    built = []

    def build(v):
        built.append(v)
        return v

    for v in (1, 2, 1, 3):  # 1 is re-used, so 2 is the one evicted
        memo.get("t", v, lambda v=v: build(v), limit=2)
    memo.get("t", 1, lambda: build(-1), limit=2)
    memo.get("t", 2, lambda: build(2), limit=2)
    assert built == [1, 2, 3, 2]
    assert memo.stats()["t"] == {"hits": 2, "misses": 4}
    bc = memo.get("t", 9, lambda: spark.sparkContext.broadcast(9), limit=1)
    assert bc.value == 9
    # an evicted broadcast, bare or inside a tuple (a collected dim), is
    # unpersisted; clear() releases what is left
    released = []
    monkeypatch.setattr(Broadcast, "unpersist", lambda self, blocking=False: released.append(self))
    held = spark.sparkContext.broadcast(10)
    memo.get("t", 10, lambda: ("dim", held), limit=1)
    assert released == [bc]
    memo.get("t", 11, lambda: 11, limit=1)
    assert released == [bc, held]
    # a DataFrame is released the same way: evicted (here inside a
    # tuple) or, once persisted, by clear()
    frame = spark.range(3)
    real = type(frame).unpersist
    monkeypatch.setattr(type(frame), "unpersist", lambda self, blocking=False: released.append(self) or real(self))
    memo.get("t", 12, lambda: ("dim", frame), limit=1)
    memo.get("t", 13, lambda: 13, limit=1)
    assert released == [bc, held, frame]
    cached = memo.persist(spark.range(4))
    assert cached.storageLevel.useDisk and cached.storageLevel.useMemory
    memo.clear()
    assert released == [bc, held, frame, cached]
    assert not cached.storageLevel.useMemory
    assert memo.stats() == {}


def test_no_session_cache_outside_memo():
    """Only memo.py may read applicationId, keep a module-level
    ``*_CACHE`` or persist a relation (``.persist(`` / ``.cache()``):
    session memos and cached relations have one owner."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "memo.py" and path.parent == PKG:
            continue
        src = path.read_text()
        if "applicationId" in src:
            bad.append(f"{path.name}: applicationId")
        bad.extend(f"{path.name}: {m}" for m in re.findall(r"(?<!\bmemo)\.persist\(|\.cache\(\)", src))
        for node in ast.parse(src).body:
            targets = node.targets if isinstance(node, ast.Assign) else [getattr(node, "target", None)]
            for t in targets:
                if isinstance(t, ast.Name) and t.id.endswith("_CACHE"):
                    bad.append(f"{path.name}: {t.id}")
    assert not bad, bad
