"""Similarity search over an embedding column (array<float>).

Three paths, per the build brief ("brute-force cosine top-k as the
baseline; an IVF or LSH-bucketed variant as the scale path" — both
bucketed variants are provided):

* ``cosine_topk`` — brute-force baseline: the base matrix is collected
  (it is the dimension side — at 100 TB you shard it or flip the roles)
  and broadcast; each Arrow batch of queries does ONE NumPy matmul
  against it.  Exact, deterministic (score desc, bid asc).
* ``ann_lsh_topk`` — the scale path: random-hyperplane LSH
  (deterministic seeded INTEGER planes — compact SQL literals, so the
  driver oracle reproduces the buckets exactly) buckets both sides
  ids-only, exact rerank after re-attaching vectors once.  Approximate;
  recall grows with tables/bits tradeoff; recall test vs brute force.
* ``ivf_topk`` — inverted-file variant: deterministic seeded INTEGER
  coarse quantizer, base partitioned by nearest cell, queries probe
  n_probe cells; one equi-join, zero dedup shuffles.  Exact driver
  oracle (centroids as SQL VALUES) + recall test vs exact.

They and ``dedup.embedding_neardup`` share one set of kernels, each
written once here — a candidate generator and a verifier:

* ``_vectors`` reads an Arrow ``array<float>`` column as an (n, dim)
  float64 matrix from the ListArray's flat values (no per-row Python);
  every embedding UDF is a mapInArrow built on it;
* ``_cosine_matrix`` scores each query batch against the memoised
  broadcast base with one matmul (cosine_topk, the exact near-dup side);
* ``_lsh_buckets`` is the sign-LSH bucketizer (both ANN sides, the
  bucketed near-dup side);
* ``_score_pairs`` re-attaches each side's vector once to narrow id
  pairs and scores them row-wise (LSH, IVF, the bucketed near-dup side);
* ``_topk`` is the (cos desc, bid) window top-k of LSH and IVF.

The width probe and the broadcast base are session-memoised, and the
planes and centroids ride in the UDF closures: a warm build runs no
Spark job and makes no broadcast.

Why integer planes/centroids: ranking/sign decisions must agree between
NumPy (pairwise/BLAS summation) and DuckDB (sequential SUM).  With
integer weights |w|<=1000 and float32-exact-in-double embeddings, each
product is exactly representable and the partial sums stay within the
53-bit mantissa, so dot products are bit-identical in ANY summation
order — the bucket sign test and cell argmax cannot disagree across
engines.  (Gaussian doubles would round per-product and per-add.)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import memo


def _vectors(col: pa.ListArray) -> np.ndarray:
    """An Arrow list column of equal-length vectors as an (n, dim)
    float64 matrix, read from the flat values buffer (the offsets index
    the unsliced values, so a sliced batch reads its own window)."""
    off = col.offsets.to_numpy()
    n = len(col)
    dim = int(off[1] - off[0]) if n else 0
    if (np.diff(off) != dim).any():
        raise ValueError("embedding vectors differ in length")
    flat = col.values.to_numpy(zero_copy_only=False)[off[0]:off[-1]]
    return flat.astype(np.float64).reshape(n, dim)


def _norms(m: np.ndarray) -> np.ndarray:
    """Row L2 norms with zeros replaced by 1 (a zero vector scores 0)."""
    n = np.linalg.norm(m, axis=1)
    n[n == 0] = 1.0
    return n


def _emb_dim(df: DataFrame, vec_col: str) -> int:
    """The embedding width: one probe job per session and table plan."""
    return memo.get("emb_dim", memo.plan_key(df, vec_col), lambda: len(df.select(vec_col).first()[0]))


def _broadcast_base(base: DataFrame, id_col: str, vec_col: str):
    """The base table collected into id-sorted (ids, matrix, norms) and
    broadcast, memoised per session and base plan (warm builds run no
    job and make no broadcast)."""

    def build():
        t = base.select(id_col, vec_col).toArrow()
        ids = t.column(0).to_numpy().astype(np.int64)
        mat = _vectors(t.column(1).combine_chunks())
        order = np.argsort(ids)
        ids, mat = ids[order], mat[order]
        return base.sparkSession.sparkContext.broadcast((ids, mat, _norms(mat)))

    return memo.get("ann_base", memo.plan_key(base, id_col, vec_col), build, limit=16)


def _cosine_matrix(query: DataFrame, base: DataFrame, id_col: str, vec_col: str, emit, schema: str) -> DataFrame:
    """One mapInArrow over ``query``: each Arrow batch does ONE matmul
    against the memoised broadcast base, and ``emit(qid, bids, cos)``
    turns the (queries x base) cosine matrix into an output batch (or
    None for no rows)."""
    b = _broadcast_base(base, id_col, vec_col)

    def cosine_matrix(batches):
        bids, bmat, bnorms = b.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            q = _vectors(batch.column("_vec"))
            cos = (q @ bmat.T) / (_norms(q)[:, None] * bnorms[None, :])
            out = emit(batch.column("_qid").to_numpy(), bids, cos)
            if out is not None:
                yield out

    qd = query.select(F.col(id_col).cast("long").alias("_qid"), F.col(vec_col).alias("_vec"))
    return qd.mapInArrow(cosine_matrix, schema=schema)


def _lsh_buckets(vd: DataFrame, dim: int, bits: int, n_tables: int) -> DataFrame:
    """(id, _vec) -> IDS-ONLY (id, table, bucket) rows: the sign-LSH
    code of each vector under each table's seeded integer planes (one
    matmul per table and Arrow batch; the planes ride in the closure)."""
    name = vd.columns[0]
    planes = [_plane_matrix(dim, bits, t) for t in range(n_tables)]

    def lsh_bucketize(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            v = _vectors(batch.column("_vec"))
            # table-major: every id under table 0, then table 1, ...
            bucket = np.concatenate([((v @ P > 0) * (1 << np.arange(bits))[None, :]).sum(axis=1) for P in planes])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.tile(batch.column(name).to_numpy(), n_tables)),
                    pa.array(np.repeat(np.arange(n_tables, dtype=np.int32), batch.num_rows)),
                    pa.array(bucket.astype(np.int64)),
                ],
                names=[name, "table", "bucket"],
            )

    return vd.mapInArrow(lsh_bucketize, schema=f"{name} long, table int, bucket long")


def _score_pairs(pairs: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
    """Narrow id pairs (x, y) -> (x, y, cos).  ``left`` is (x, _vec) and
    ``right`` is (y, _vec): each side's vector is re-attached ONCE by an
    equi-join on its id (``right`` first; a caller broadcasts a side by
    passing it hinted), then one map scores every pair row-wise."""
    x, y = pairs.columns

    def pair_cosine(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            a = _vectors(batch.column("_va"))
            b = _vectors(batch.column("_vb"))
            cos = (a * b).sum(axis=1) / (_norms(a) * _norms(b))
            yield pa.RecordBatch.from_arrays([batch.column(x), batch.column(y), pa.array(cos)], names=[x, y, "cos"])

    withv = (
        pairs.join(right.withColumnRenamed("_vec", "_vb"), y)
        .join(left.withColumnRenamed("_vec", "_va"), x)
        .select(x, "_va", y, "_vb")
    )
    return withv.mapInArrow(pair_cosine, schema=f"{x} long, {y} long, cos double")


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(qid, bid, cos) -> the k best per query by (cos desc, bid), ranked."""
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "bid")
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def cosine_topk(
    query: DataFrame,
    base: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """-> (qid, bid, cos, rank): exact cosine top-k per query vector."""

    def topk(qid, bids, cos):
        # batch-wide partition to the k-th score, keep every boundary
        # TIE, then ONE lexsort over all surviving (query, base) pairs —
        # no per-query Python loop at all.  Ties at the k-th score must
        # all enter the sort or the deterministic (cos desc, bid asc)
        # rule breaks on duplicate embeddings.
        nb = len(bids)
        kcap = min(k, nb)
        kth = np.partition(cos, nb - kcap, axis=1)[:, nb - kcap]
        qi, ci = np.nonzero(cos >= kth[:, None])
        cv = cos[qi, ci]
        order = np.lexsort((bids[ci], -cv, qi))
        qi, ci, cv = qi[order], ci[order], cv[order]
        # rank within each query group, then cut to k
        starts = np.flatnonzero(np.r_[True, qi[1:] != qi[:-1]])
        ranks = np.arange(len(qi)) - np.repeat(starts, np.diff(np.r_[starts, len(qi)])) + 1
        keep = ranks <= kcap
        cols = [qid[qi[keep]], bids[ci[keep]], cv[keep], ranks[keep].astype(np.int32)]
        return pa.RecordBatch.from_arrays([pa.array(c) for c in cols], names=["qid", "bid", "cos", "rank"])

    return _cosine_matrix(query, base, id_col, vec_col, topk, "qid long, bid long, cos double, rank int")


def _plane_matrix(dim: int, bits: int, table: int) -> np.ndarray:
    """Seeded random hyperplanes with INTEGER weights in [-1000, 1000]
    (uniform discrete — still isotropic enough for sign-LSH, and exactly
    expressible as DuckDB VALUES literals for the driver oracle)."""
    rng = np.random.default_rng(1_000_003 * (table + 1) + dim)
    return rng.integers(-1000, 1001, size=(dim, bits)).astype(np.float64)


def ann_lsh_topk(
    query: DataFrame,
    base: DataFrame,
    k: int = 5,
    bits: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: sign-LSH bucket join + exact rerank.

    Physical shape at scale — embedding payloads NEVER ride a shuffle
    multiplied by ``n_tables`` (round-2 verdict fix):

    1. both sides bucketize IDS-ONLY (``_lsh_buckets``: one matmul per
       table and Arrow batch) into narrow (id, table, bucket) rows;
    2. hash-join on (table, bucket) -> (qid, bid) candidate pairs,
       dropDuplicates on the narrow pair rows (no payloads at all);
    3. ``_score_pairs`` re-attaches vectors ONCE: base vectors via a
       single equi-join on bid (each base vector crosses the wire once,
       not ``n_tables`` times), query vectors via a broadcast join (the
       query side is the small side of an ANN lookup; flip roles or
       shard if it is not), then scores map-side;
    4. the narrow (qid, bid, cos) window top-k (``_topk``).
    """
    dim = _emb_dim(base, vec_col)
    qd = query.select(F.col(id_col).cast("long").alias("qid"), F.col(vec_col).alias("_vec"))
    bd = base.select(F.col(id_col).cast("long").alias("bid"), F.col(vec_col).alias("_vec"))
    pairs = (
        _lsh_buckets(qd, dim, bits, n_tables)
        .join(_lsh_buckets(bd, dim, bits, n_tables), ["table", "bucket"])
        .select("qid", "bid")
        .dropDuplicates(["qid", "bid"])
    )
    return _topk(_score_pairs(pairs, F.broadcast(qd), bd), k)


def _ivf_centroids(dim: int, n_cells: int, seed: int) -> np.ndarray:
    """Seeded INTEGER centroids in [-1000, 1000] (SQL-literal-exact; the
    assignment normalizes by |c| so the scale is irrelevant)."""
    rng = np.random.default_rng(seed * 1_000_003 + dim)
    return rng.integers(-1000, 1001, size=(n_cells, dim)).astype(np.float64)


def ivf_topk(
    query: DataFrame,
    base: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """IVF approximate cosine top-k — the second scale path of
    similarity search alongside sign-LSH (build brief: "IVF or
    LSH-bucketed variant").

    Coarse quantizer: deterministic seeded integer centroids, cosine
    assignment (data-independent, so both sides bucketize map-side with
    ONE matmul per Arrow batch against the centroid matrix, which rides
    in the UDF closure).  Base vectors land in exactly their nearest
    cell; queries probe their ``n_probe`` nearest cells.  Candidates
    come from the (cell) hash join, scored map-side, top-k per query by
    window.

    Shuffle inventory: the cell assignment is IDS-ONLY (narrow
    (id, cell) rows cross the cell exchange, the same discipline as
    ann_lsh_topk), one equi-join on the int cell key, base vectors
    re-attached ONCE via an equi-join on bid, query vectors broadcast,
    then the narrow (qid, bid, cos) window — NO dedup exchange at all
    (a base vector lives in one cell and a query probes distinct
    cells, so a pair can appear at most once).  Recall grows with
    n_probe/n_cells.
    """
    C = _ivf_centroids(_emb_dim(base, vec_col), n_cells, seed)
    cn = _norms(C)

    def cells(vd, probe):
        name = vd.columns[0]

        def ivf_assign(batches):
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                v = _vectors(batch.column("_vec"))
                # sim = dot / (|v| * |c|), same association as the
                # DuckDB oracle; ties between cells break by cell index
                # (argmax takes the first max; stable argsort likewise)
                sims = (v @ C.T) / (_norms(v)[:, None] * cn[None, :])
                if probe == 1:
                    cell = np.argmax(sims, axis=1)[:, None]
                else:
                    cell = np.argsort(-sims, axis=1, kind="stable")[:, :probe]
                ids = np.repeat(batch.column(name).to_numpy(), cell.shape[1])
                cols = [pa.array(ids), pa.array(cell.ravel().astype(np.int32))]
                yield pa.RecordBatch.from_arrays(cols, names=[name, "cell"])

        return vd.mapInArrow(ivf_assign, schema=f"{name} long, cell int")

    qd = query.select(F.col(id_col).cast("long").alias("qid"), F.col(vec_col).alias("_vec"))
    bd = base.select(F.col(id_col).cast("long").alias("bid"), F.col(vec_col).alias("_vec"))
    pairs = cells(qd, n_probe).join(cells(bd, 1), "cell").select("qid", "bid")
    return _topk(_score_pairs(pairs, F.broadcast(qd), bd), k)
