"""Checks of the benchmark's own parts: seeded generator, oracle, tracer.

    python -m pytest perfbench/checks.py -q

The file name keeps these checks out of the repository's default test
discovery; name the file to run them.  The Spark tests start one small
local session for the module and leave the process's environment,
temporary directory and py4j gateway as they found them.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen
import host
import oracle
import run
import workloads


def _tables(tmp_path, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    ids = gen.doc_ids(rng, 500)
    gen.write_documents(str(tmp_path / f"d{seed}" / "documents.parquet"), ids, rng)
    docs = pq.read_table(tmp_path / f"d{seed}" / "documents.parquet").to_pydict()
    return {"docs": docs, "tiling": gen.tiling_dim(rng), "convex": gen.convex_dim(rng, 6, 2)}


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = _tables(tmp_path, 7), _tables(tmp_path, 7), _tables(tmp_path, 8)
    assert a == b
    assert a["docs"]["doc_id"] != c["docs"]["doc_id"]
    assert a["convex"] != c["convex"]
    assert len(set(a["docs"]["doc_id"])) == 500


def test_polygons_clear_every_point_and_span_corner():
    rng = np.random.default_rng(3)
    for _, ring in gen.convex_dim(rng, 10, 3) + gen.tiling_dim(rng, 4, 3):
        assert gen._ring_clear(ring)
    # a ring through a lattice point is rejected
    assert not gen._ring_clear([(26.0005, 53.0005), (26.1005, 53.1005), (26.0005, 53.1005), (26.0005, 53.0005)])


def test_tiling_covers_every_point_once():
    rng = np.random.default_rng(5)
    polys = gen.tiling_dim(rng, 4, 3)
    ids = gen.doc_ids(rng, 5000)
    x, y = oracle.lonlat(oracle.point_ids(ids))
    tiles = sum(oracle.ray_cast(x, y, np.asarray(r)).astype(int) for _, r in polys[:-1])
    assert (tiles == 1).all()


def test_sat_matches_brute_force():
    ring = np.asarray([(26.0, 53.0), (26.4, 53.1), (26.3, 53.5), (26.0, 53.3), (26.0, 53.0)])
    rng = np.random.default_rng(0)
    minx, miny = rng.uniform(25.7, 26.5, 300), rng.uniform(52.7, 53.6, 300)
    got = oracle.sat_rect_convex(minx, miny, minx + 0.2, miny + 0.15, ring)
    # brute force: sample each rectangle densely, plus its corners vs the ring edges
    gx, gy = np.meshgrid(np.linspace(0, 0.2, 41), np.linspace(0, 0.15, 31))
    for i in range(300):
        px, py = (minx[i] + gx).ravel(), (miny[i] + gy).ravel()
        dense = oracle.ray_cast(px, py, ring).any() or (
            (ring[:-1, 0] >= minx[i]) & (ring[:-1, 0] <= minx[i] + 0.2)
            & (ring[:-1, 1] >= miny[i]) & (ring[:-1, 1] <= miny[i] + 0.15)
        ).any()
        assert got[i] == dense, i


def test_tail_percentile():
    assert run.tail([1.0, 2.0, 3.0]) == (3.0, 100.0)
    # 40 samples: ten beyond would be the 75th percentile, below the 90th floor
    assert run.tail([float(i) for i in range(1, 41)]) == (36.0, 90.0)
    assert run.tail([float(i) for i in range(1, 201)]) == (190.0, 95.0)


def test_steal_adjusted_clock():
    clock = host.Clock()
    time.sleep(0.35)
    t = clock.read()
    host.stop_meter()
    assert t.wall >= 0.35 and t.cpu >= 0 and t.steal >= 0
    assert 0 <= t.adjusted <= t.wall + 1e-9
    assert host.Timing(2.0, 1.0, 0.0, 1.5).granted == 0.75


@pytest.fixture(scope="module")
def spark():
    env, tmp = dict(os.environ), tempfile.tempdir
    s = run.start_spark(2)
    try:
        yield s
    finally:
        run.stop_spark(s)
        os.environ.clear()
        os.environ.update(env)
        tempfile.tempdir = tmp
        shutil.rmtree(run.WORK, ignore_errors=True)


@pytest.mark.parametrize("kind", ["tiling", "convex"])
def test_oracle_matches_engine_at_tiny_size(spark, tmp_path, kind):
    from gdal_boots_spark.operators.spatial_join import pip_join_docs, pip_join_docs_any
    from gdal_boots_spark.sources.synth import interleaved_docs

    rng = np.random.default_rng(11)
    ids = gen.doc_ids(rng, 3000)
    gen.write_documents(str(tmp_path / "flat" / "documents.parquet"), ids, rng)
    polys = gen.tiling_dim(rng, 4, 3) if kind == "tiling" else gen.convex_dim(rng, 12, 3)
    gen.write_dim(str(tmp_path / "dim.parquet"), polys)
    dim = spark.read.parquet(str(tmp_path / "dim.parquet"))
    rect_spans = kind == "convex"
    docs = interleaved_docs(spark, str(tmp_path / "flat"), poly_spans=rect_spans)
    out = pip_join_docs_any(docs, dim) if rect_spans else pip_join_docs(docs, dim)
    row = out.selectExpr(*oracle.FINGERPRINT_SQL).collect()[0]
    expected = oracle.expected_pairs(ids, polys, rect_spans=rect_spans)
    assert expected[0] > 0
    assert (row["n"], row["h1"], row["h2"]) == expected
    spark.catalog.clearCache()


def test_trace_read_runs_no_spark_jobs(spark, tmp_path):
    from tracer import Tracer

    rng = np.random.default_rng(2)
    ids = gen.doc_ids(rng, 2000)
    gen.write_documents(str(tmp_path / "documents.parquet"), ids, rng)
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    tracer = Tracer(spark)
    try:
        _, op = tracer.run("probe", lambda: docs.selectExpr("count(*) AS n"), lambda df: df.collect())
        before = tracer.job_count()
        read = tracer.read(op)
        assert tracer.job_count() == before
        assert read["exec.jobs"] >= 1 and read["exec.tasks"] >= 1
        assert read["build.py4j_calls"] > 0
        assert read["python.operators"] == 0
    finally:
        tracer.close()


def test_board_fingerprint_ignores_row_order_and_negative_zero(spark):
    a = spark.createDataFrame([(1, 0.0, "x"), (2, 1.5, "y")], "k long, v double, s string")
    b = spark.createDataFrame([(2, 1.5, "y"), (1, -0.0, "x")], "k int, v double, s string")
    c = spark.createDataFrame([(2, 1.5, "y"), (1, 0.5, "x")], "k long, v double, s string")
    fa, fb, fc = (workloads.board_fingerprint(d).collect()[0] for d in (a, b, c))
    assert fa == fb and fa != fc
