"""Token-window chunking (operators/chunking.py): overlapping-stride
segments, DuckDB-oracle exact, zero-shuffle plan.
"""

import re

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from gdal_boots_spark.operators.chunking import chunk_documents

SF = "/root/testdata/sf0.01"


def test_chunk_docs_matches_duckdb_oracle(spark):
    got = entrymod.queries()["chunk_docs"](spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')")
    want = con.execute(entrymod.oracle_sql()["chunk_docs"]).df()
    cols = sorted(got.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b) and len(a) > 0
    assert len(entrymod.queries()) == 50


def test_chunk_edge_rules(spark):
    """Hand-checkable: short doc = one short chunk, exact-multiple
    length has no empty tail chunk, overlap stride windows, empty text
    = one empty chunk, invalid params raise."""
    docs = spark.createDataFrame(
        [
            (1, "a b c"),              # 3 tokens
            (2, "a b c d"),            # exactly 2 chunks at size 2
            (3, ""),                   # one empty token
        ],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["chunk_idx"]): r for r in chunk_documents(docs, 2).collect()}
    assert out[(1, 0)]["chunk_text"] == "a b" and out[(1, 0)]["n_tokens"] == 2
    assert out[(1, 1)]["chunk_text"] == "c" and out[(1, 1)]["n_tokens"] == 1
    assert out[(2, 1)]["chunk_text"] == "c d"
    assert (2, 2) not in out  # no empty tail at exact multiples
    assert out[(3, 0)]["chunk_text"] == "" and out[(3, 0)]["n_tokens"] == 1

    # overlapping windows: size 3, stride 2 over 5 tokens
    ov = {
        r["chunk_idx"]: r["chunk_text"]
        for r in chunk_documents(
            spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string"), 3, 2
        ).collect()
    }
    assert ov == {0: "a b c", 1: "c d e", 2: "e"}

    with pytest.raises(ValueError):
        chunk_documents(docs, 0)
    with pytest.raises(ValueError):
        chunk_documents(docs, 4, 0)


def test_chunk_plan_zero_shuffle(spark):
    """Scale contract: chunking is one codegen Generate — NO Exchange
    anywhere in the plan."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        chunk_documents(docs, 64, 48)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert len(re.findall(r"Generate", plan)) == 1


def test_chunk_invariants_randomized(spark):
    """Randomized invariants over 200 docs x 4 (size, stride) configs:
    non-overlapping chunks reassemble the normalized text exactly and
    token counts sum to n; overlapping chunks start at i*stride, cover
    every token, and each full chunk carries exactly chunk_tokens."""
    import numpy as np

    rng = np.random.default_rng(42)
    words = ["alpha", "b", "gamma7", "x", "zz", "qq1"]
    rows = []
    for i in range(200):
        n = int(rng.integers(0, 60))
        rows.append((i, " ".join(rng.choice(words, n)) if n else ""))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    norm = {
        r["doc_id"]: r["t"]
        for r in docs.select("doc_id", F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("t")).collect()
    }
    for size, stride in [(1, 1), (7, 7), (7, 3), (64, 48)]:
        pdf = chunk_documents(docs, size, stride).toPandas()
        for doc_id, grp in pdf.groupby("doc_id"):
            grp = grp.sort_values("chunk_idx")
            toks = norm[doc_id].split(" ")
            assert list(grp["chunk_idx"]) == list(range(len(grp)))
            if stride == size:
                assert " ".join(grp["chunk_text"]) == norm[doc_id]
                assert grp["n_tokens"].sum() == len(toks)
            for _, r in grp.iterrows():
                s = int(r["chunk_idx"]) * stride
                expect = toks[s : s + size]
                assert r["chunk_text"] == " ".join(expect)
                assert r["n_tokens"] == len(expect)
            # every token covered by some chunk
            covered = set()
            for ci in grp["chunk_idx"]:
                covered.update(range(ci * stride, min(ci * stride + size, len(toks))))
            assert covered == set(range(len(toks)))


def test_chunk_to_pack_shards_composition(spark):
    """End-to-end pre-training prep: chunk the documents table
    (non-overlapping 64-token windows), pack the chunks into
    token-budget shards.  Every shard except possibly the last stays
    within budget, every chunk is assigned exactly once, and chunk
    keys are unique (pack_shards' contract)."""
    from gdal_boots_spark import memo
    from gdal_boots_spark.operators.chunking import chunk_documents
    from gdal_boots_spark.operators.packing import pack_shards

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    chunks = chunk_documents(docs, chunk_tokens=64).select(
        F.concat_ws("#", F.col("doc_id").cast("string"), F.col("chunk_idx").cast("string")).alias("chunk_key"),
        "n_tokens",
    )
    n_chunks = chunks.count()
    assert chunks.select("chunk_key").distinct().count() == n_chunks  # unique keys
    packed = pack_shards(chunks, budget=500, key_col="chunk_key", tokens_col="n_tokens")
    rows = packed.collect()
    memo.clear()  # drops the range cache
    assert len(rows) == n_chunks  # every chunk assigned once
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], 0)
        by_shard[r["shard"]] += r["n_tokens"]
    # pack_shards assigns shard = floor(cum_before / budget): a chunk
    # straddling a boundary stays in the shard where it STARTS, so a
    # shard's total can overhang by at most (max chunk - 1) = 63
    assert all(tot <= 500 + 63 for tot in by_shard.values()), sorted(by_shard.items())[:3]
    assert len(by_shard) >= 2
    # shards are contiguous 0..K with no gaps
    assert sorted(by_shard) == list(range(len(by_shard)))
