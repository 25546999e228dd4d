"""M6: resumable stage runner (lineage metrics) + salted join."""

import os

import pytest
from pyspark.sql import functions as F

from gdal_boots_spark.operators.skew import hot_keys, salted_join
from gdal_boots_spark.plans.runner import StageRunner


def test_runner_runs_then_skips(spark, tmp_path):
    root = str(tmp_path / "pipe")
    runner = StageRunner(spark, root)
    calls = {"n": 0}

    def stage_a():
        calls["n"] += 1
        return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))

    out1 = runner.run("a", stage_a)
    assert out1.count() == 100 and calls["n"] == 1
    # second run: skipped, data read back from checkpoint
    out2 = runner.run("a", stage_a)
    assert out2.count() == 100 and calls["n"] == 1
    assert [e["action"] for e in runner.events] == ["ran", "skipped"]
    # lineage metrics exist and sum to the row count
    m = runner.metrics("a")
    assert m.agg(F.sum("rows")).collect()[0][0] == 100
    assert m.columns == ["stage", "file", "rows"]
    # a NEW runner over the same root resumes too (true cross-run resume)
    runner2 = StageRunner(spark, root)
    out3 = runner2.run("a", stage_a)
    assert out3.count() == 100 and calls["n"] == 1


def test_runner_stage_releases_its_persisted_relations(spark, tmp_path):
    """A stage whose fn() persists a relation (pack_shards' range
    partition) leaves no new persisted RDD once it commits, and the
    committed shards equal the DuckDB oracle."""
    from gdal_boots_spark import memo
    from gdal_boots_spark.operators.packing import pack_oracle_sql, pack_shards
    from tests.conftest import SF_SMOKE, duck_with_views, persisted_rdds

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    memo.clear()
    before = persisted_rdds(spark)
    out = StageRunner(spark, str(tmp_path / "pipe")).run("pack", lambda: pack_shards(docs, budget=5000))
    assert not persisted_rdds(spark) - before
    assert memo.stats()["persist"]["misses"] == 1  # the stage did persist
    con = duck_with_views(SF_SMOKE)
    want = sorted(con.execute(pack_oracle_sql(5000)).fetchall())
    con.close()
    got = sorted(tuple(r) for r in out.collect())
    assert got == want and got


def test_runner_fingerprint_invalidates(spark, tmp_path):
    runner = StageRunner(spark, str(tmp_path / "pipe2"))
    calls = {"n": 0}

    def stage():
        calls["n"] += 1
        return spark.range(10 * calls["n"])

    assert runner.run("s", stage, fingerprint="v1").count() == 10
    assert runner.run("s", stage, fingerprint="v1").count() == 10
    assert calls["n"] == 1
    assert runner.run("s", stage, fingerprint="v2").count() == 20
    assert calls["n"] == 2


def test_runner_resume_identical_output(spark, tmp_path):
    """Property (SURVEY §5d): checkpoint-resume produces identical rows."""
    runner = StageRunner(spark, str(tmp_path / "pipe3"))

    def stage():
        return spark.range(1000).select(F.col("id"), F.md5(F.col("id").cast("string")).alias("h"))

    first = sorted(map(tuple, runner.run("x", stage).collect()))
    again = sorted(map(tuple, StageRunner(spark, str(tmp_path / "pipe3")).run("x", stage).collect()))
    assert first == again


def test_salted_join_equals_plain_join(spark):
    # heavy skew: 90% of big rows share key 7
    big = spark.range(20000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 100).alias("dim"))
    plain = {tuple(r) for r in big.join(small, "k").collect()}
    salted = {tuple(r) for r in salted_join(big, small, "k", salt=8, hot_threshold=1000).collect()}
    assert salted == plain


def test_hot_keys_detects_skew(spark):
    big = spark.range(10000).select(F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 50).alias("k"))
    hks = {r["k"] for r in hot_keys(big, "k", threshold=1000).collect()}
    assert hks == {7}
    # salts actually spread the hot key
    from gdal_boots_spark.operators.skew import salted_join as _sj  # noqa: F401

    hot = big.where(F.col("k") == 7).withColumn("_salt", F.pmod(F.hash("k", F.rand(1)), F.lit(8)))
    assert hot.select("_salt").distinct().count() > 1


def test_features_table_and_packaging(spark, tmp_path):
    from gdal_boots_spark.sources.synth import features_df

    f = features_df(spark)
    assert f.count() == 42
    assert f.where("layer = 'mixed'").count() == 38  # test_vector.py:13-18 analog
    assert {r["gtype"] for r in f.collect()} >= {"Point", "LineString", "Polygon", "MultiPolygon"}
    import sys
    sys.path.insert(0, "/root/repo/scripts")
    import package as pkgmod

    out = pkgmod.build(str(tmp_path / "dist" / "pkg.zip"))
    import zipfile

    names = zipfile.ZipFile(out).namelist()
    assert "gdal_boots_spark/__init__.py" in names
    assert any(n.startswith("gdal_boots_spark/operators/") for n in names)


def test_asof_join_matches_merge_asof(spark):
    """asof_join == pandas.merge_asof (backward, by key) on random
    event streams — an independent reference implementation."""
    import numpy as np
    import pandas as pd

    from gdal_boots_spark.operators.asof import asof_join

    rng = np.random.default_rng(5)
    n_l, n_r = 400, 150
    lp = pd.DataFrame({
        "event_id": np.arange(n_l),
        "user_id": rng.integers(0, 12, n_l),
        "ts": pd.to_datetime(rng.integers(0, 10**6, n_l), unit="s"),
    })
    rp = pd.DataFrame({
        "event_id": np.arange(10_000, 10_000 + n_r),
        "user_id": rng.integers(0, 12, n_r),
        "ts": pd.to_datetime(rng.integers(0, 10**6, n_r), unit="s"),
        "value": rng.standard_normal(n_r).round(6),
    })
    left = spark.createDataFrame(lp)
    right = spark.createDataFrame(rp)
    got = asof_join(left, right, on="user_id", ts_col="ts", id_col="event_id",
                    payload=("event_id", "value")).toPandas()
    exp = pd.merge_asof(
        lp.sort_values(["ts", "event_id"]), rp.sort_values(["ts", "event_id"]),
        on="ts", by="user_id", direction="backward", suffixes=("", "_r"),
    )
    g = got.set_index("event_id").sort_index()
    x = exp.set_index("event_id").sort_index()
    # merge_asof with duplicate right ts keeps the LAST sorted row —
    # the same max-right-id tie-break asof_join uses
    assert (g["r_event_id"].fillna(-1) == x["event_id_r"].fillna(-1)).all()
    assert np.allclose(g["r_value"].fillna(0), x["value"].fillna(0))

    # tolerance semantics (pandas parity): stale matches null out
    tol = 50_000.0
    got_t = asof_join(left, right, on="user_id", ts_col="ts", id_col="event_id",
                      payload=("event_id", "value"), tolerance=tol).toPandas()
    exp_t = pd.merge_asof(
        lp.sort_values(["ts", "event_id"]), rp.sort_values(["ts", "event_id"]),
        on="ts", by="user_id", direction="backward", suffixes=("", "_r"),
        tolerance=pd.Timedelta(seconds=tol),
    )
    gt = got_t.set_index("event_id").sort_index()
    xt = exp_t.set_index("event_id").sort_index()
    assert (gt["r_event_id"].fillna(-1) == xt["event_id_r"].fillna(-1)).all()


def test_asof_join_vs_oracle(spark):
    """Driver query asof_join == the DuckDB carry-forward window oracle."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_ORACLE, compare_to_oracle

    df = entrymod.all_queries()["asof_join"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["asof_join"], SF_ORACLE, float_cols=("r_value",), atol=0.0)


def test_kmv_sketch_merge_and_accuracy(spark):
    """KMV mergeability (the 100 TB contract): sketching two shards and
    merging == sketching the union; estimate within ~3/sqrt(k) of the
    true distinct count on a high-cardinality group."""
    from pyspark.sql import functions as F

    from gdal_boots_spark.operators.sketch import kmv_merge, kmv_sketch

    df = spark.range(20_000).select(
        (F.col("id") % 2).alias("shard"),
        F.lit("g").alias("grp"),
        (F.col("id") % 7919).alias("v"),  # 7919 true distincts
    )
    k = 64
    whole = kmv_sketch(df, "grp", "v", k=k).collect()[0]
    s1 = kmv_sketch(df.where("shard = 0"), "grp", "v", k=k)
    s2 = kmv_sketch(df.where("shard = 1"), "grp", "v", k=k)
    merged = kmv_merge(s1.unionByName(s2), k=k).collect()[0]
    assert list(merged["sketch"]) == list(whole["sketch"])
    assert merged["est_distinct"] == whole["est_distinct"]
    rel = abs(whole["est_distinct"] - 7919) / 7919
    assert rel < 3 / (k ** 0.5), rel
    # small groups are exact
    tiny = kmv_sketch(
        spark.range(5).select(F.lit("t").alias("grp"), F.col("id").alias("v")), "grp", "v", k=k
    ).collect()[0]
    assert tiny["est_distinct"] == 5.0 and tiny["n_kept"] == 5


def test_kmv_distinct_vs_oracle(spark):
    """Driver query kmv_distinct == DuckDB (sketch content, k-th hash,
    estimate — all exact thanks to the portable md5)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_ORACLE, compare_to_oracle

    df = entrymod.all_queries()["kmv_distinct"](spark, SF_ORACLE)
    compare_to_oracle(df, entrymod.all_oracle_sql()["kmv_distinct"], SF_ORACLE, float_cols=("est_distinct",), atol=0.0)
