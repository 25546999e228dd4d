"""Deterministic split/sample operators (operators/dataset_split.py):
engine-portable md5-prefix assignment, DuckDB-oracle exact.
"""

import duckdb
import pytest

from gdal_boots_spark.operators.dataset_split import (
    deterministic_sample,
    hash_split,
    split_oracle_sql,
    stratified_sample,
)

SF = "/root/testdata/sf0.01"


def test_hash_split_matches_duckdb_oracle(spark):
    """The SAME predicate evaluated by DuckDB assigns every row to the
    identical split (md5 is bit-identical across engines; fixed-width
    lowercase hex compares lexicographically == numerically)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    frac = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs, "doc_id", frac, seed="s1").select("doc_id", "split").collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')")
    case = split_oracle_sql("doc_id", frac, seed="s1")
    want = dict(con.execute(f"SELECT doc_id, {case} FROM documents").fetchall())
    assert got == want and len(got) > 0
    # deterministic: same seed -> same assignment; new seed -> differs
    again = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs, "doc_id", frac, seed="s1").select("doc_id", "split").collect()
    }
    assert again == got
    other = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs, "doc_id", frac, seed="s2").select("doc_id", "split").collect()
    }
    assert other != got
    # fractions approximately honored
    n = len(got)
    n_train = sum(1 for v in got.values() if v == "train")
    assert abs(n_train / n - 0.8) < 0.08
    assert all(v in ("train", "val", "test") for v in got.values())  # sums to 1.0 -> no NULLs
    with pytest.raises(ValueError, match="sum"):
        hash_split(docs, "doc_id", {"a": 0.9, "b": 0.2})


def test_deterministic_sample_stable_and_subset(spark):
    """Rate-r sample is a stable subset: partitioning/order-independent
    (unlike df.sample) and nested rates nest (keys kept at 5% are a
    subset of keys kept at 20%)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    s20 = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.20).select("doc_id").collect()}
    s05 = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.05).select("doc_id").collect()}
    assert s05 <= s20
    n = docs.count()
    assert abs(len(s20) / n - 0.20) < 0.06
    # repartitioning does not change membership
    s20b = {
        r["doc_id"]
        for r in deterministic_sample(docs.repartition(7), "doc_id", 0.20).select("doc_id").collect()
    }
    assert s20b == s20


def test_stratified_sample_per_stratum_rates(spark):
    """Per-stratum keep rates apply independently; strata absent from
    the rate map are dropped entirely; matches the DuckDB oracle."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "stratum", (F.col("doc_id").cast("long") % 3).cast("int")
    )
    out = stratified_sample(docs, "doc_id", "stratum", {0: 0.5, 1: 0.1}, seed="z")
    got = {(r["doc_id"], r["stratum"]) for r in out.select("doc_id", "stratum").collect()}
    assert all(s in (0, 1) for _, s in got)  # stratum 2 dropped
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')")
    from gdal_boots_spark.operators.dataset_split import _hex_cutoff

    want = set(
        con.execute(
            "SELECT doc_id, CAST(CAST(doc_id AS BIGINT) % 3 AS INTEGER) AS s FROM documents "
            f"WHERE (CAST(doc_id AS BIGINT) % 3 = 0 AND substr(md5('z' || doc_id), 1, 8) < '{_hex_cutoff(0.5)}') "
            f"OR (CAST(doc_id AS BIGINT) % 3 = 1 AND substr(md5('z' || doc_id), 1, 8) < '{_hex_cutoff(0.1)}')"
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_hash_split_entry_surface(spark):
    """hash_split is registered on the entry surface (extra_queries /
    extra_oracle_sql) and held to the driver's exact-equality contract."""
    import duckdb as _duckdb

    import __spark_entry__ as entrymod

    sdf = entrymod.all_queries()["hash_split"](spark, SF).toPandas()
    con = _duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')")
    odf = con.execute(entrymod.all_oracle_sql()["hash_split"]).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b) and len(a) > 0
    assert len(entrymod.queries()) == 50  # board size (r7: crop_hist, resample_avg, event_windows -> extras)


def test_pack_shards_matches_duckdb_oracle(spark):
    """Contiguous token-budget packing == the ANSI window-function
    oracle, plus the packing invariants: shards are contiguous in key
    order, monotone, and under-budget before their last document."""
    from gdal_boots_spark import memo
    from gdal_boots_spark.operators.packing import pack_oracle_sql, pack_shards

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    res = pack_shards(docs, budget=5000)
    got = res.toPandas()
    memo.clear()  # drops the range cache
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')")
    want = con.execute(pack_oracle_sql(5000)).df()
    cols = sorted(got.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b) and len(a) > 0
    # past 256 range partitions the offsets ship as a broadcast Arrow
    # relation instead of a literal map: same shards
    wide = pack_shards(docs, budget=5000, num_partitions=400)
    assert "LocalTableScan" in wide._jdf.queryExecution().executedPlan().toString()
    got_wide = wide.toPandas()
    memo.clear()
    assert got_wide[cols].sort_values(cols).reset_index(drop=True).equals(b)
    # invariants
    srt = got.sort_values("doc_id").reset_index(drop=True)
    assert (srt["shard"].diff().dropna() >= 0).all()  # monotone in key order
    sums = srt.groupby("shard")["n_tokens"].sum()
    # every shard except possibly the last started under budget
    starts = srt.groupby("shard").first()
    prior = sums.cumsum().shift(1).fillna(0)
    assert ((prior % 5000 + 0) < 5000).all()
    assert srt["n_tokens"].sum() == sums.sum()
    with pytest.raises(ValueError, match="budget"):
        pack_shards(docs, budget=0)


def test_sample_rate_one_keeps_everything(spark):
    """ADVICE r4: rate=1.0 must keep every row — the 'g' sentinel from
    hash_split applies to deterministic_sample/stratified_sample too
    (strict '< ffffffff' drops 1-in-2^32 keys)."""
    from gdal_boots_spark.operators.dataset_split import (
        deterministic_sample,
        stratified_sample,
    )

    from pyspark.sql import functions as F

    df = spark.range(2000).withColumnRenamed("id", "k")
    assert deterministic_sample(df, "k", 1.0).count() == 2000
    df2 = df.withColumn("s", (F.col("k") % 2).cast("string"))
    out = stratified_sample(df2, "k", "s", {"0": 1.0, "1": 0.5})
    assert out.where("s = '0'").count() == 1000
    assert 0 < out.where("s = '1'").count() < 1000
    # the plan stays a pure filter: no shuffle, no UDF
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_pack_shards_entry_surface(spark):
    """pack_shards is registered on the entry surface (extra_queries /
    extra_oracle_sql — VERDICT r4 item 4) and held to the driver's
    exact-equality contract; the board itself is unchanged."""
    import duckdb as _duckdb

    import __spark_entry__ as entrymod

    sdf = entrymod.all_queries()["pack_shards"](spark, SF).toPandas()
    con = _duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')")
    odf = con.execute(entrymod.all_oracle_sql()["pack_shards"]).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b) and len(a) > 0
    assert len(entrymod.queries()) == 50  # board size (r7: crop_hist, resample_avg, event_windows -> extras)
