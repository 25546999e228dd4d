"""Deduplication operators for the large-scale training-data pipeline:
exact, MinHash+LSH, SimHash, n-gram Jaccard.

Everything here is **pure native Spark SQL** (codegen end-to-end; no
Python in the hot path) and every formula is DuckDB-replicable, so each
operator has an exact oracle.  Shuffle inventory per operator is noted
in its docstring — that is the 100 TB cost model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text_fns import md5_long, normalize_text, shingles


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, canonical_id, group_size): hash-groupBy on the
    normalized text; canonical = min doc_id per group.

    One shuffle on the 60-bit text hash (map-side partial would not
    help: keys are unique-ish); at scale this is the cheapest dedup.
    """
    h = docs.select(F.col(id_col).alias("doc_id"), md5_long(normalize_text(F.col(text_col))).alias("text_hash"))
    w = Window.partitionBy("text_hash")
    return h.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count("*").over(w).alias("group_size"),
    )


def minhash_signatures(
    docs: DataFrame, n_hashes: int = 16, shingle_n: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """-> (doc_id, sig:array<long>[n_hashes]).

    h_i(shingle) = portable 60-bit md5 hash of "i:shingle"; signature
    element i = min over shingles.  Built with transform/aggregate over
    the shingle array — no explode, no shuffle: two narrow projections.
    Empty shingle sets -> null signature (doc too short).

    The shingle array is materialized once, in its own projection (the
    optimizer keeps a projection whose expensive output is read more
    than once): inlined, the split and shingling re-ran for each of the
    ``n_hashes`` hashes.
    """
    sh = docs.select(F.col(id_col).alias("doc_id"), shingles(F.col(text_col), shingle_n).alias("_sh"))

    def _minhash(i: int):
        # NB: the transform lambda must take ONE parameter — a
        # two-parameter lambda makes Spark bind the array index to the
        # second one, shadowing the hash-family index
        prefix = f"{i}:"
        return F.array_min(F.transform(F.col("_sh"), lambda s: md5_long(F.concat(F.lit(prefix), s))))

    sig = F.array(*[_minhash(i) for i in range(n_hashes)])
    return sh.select("doc_id", F.when(F.size("_sh") > 0, sig).alias("sig"))


def lsh_candidate_pairs(
    docs: DataFrame, n_hashes: int = 16, bands: int = 8, shingle_n: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH banding -> candidate near-dup pairs (a < b), distinct.

    Rows explode x bands (cheap: bands small), shuffle on the band
    bucket key, self-join within buckets.  At 10^12 docs the bucket key
    (band_id, band_sig) is the natural partitioner; hot buckets are
    exactly the near-dup clusters the pipeline wants.

    ``max_bucket`` caps the self-join blow-up of DEGENERATE buckets
    (boilerplate-heavy corpora: one bucket with 10^6 members would emit
    ~10^12 pairs): buckets above the cap keep only a deterministic
    sample of ``max_bucket`` members (ordered by a portable hash of
    doc_id, so the sample is stable under any parallelism).  A
    transitive-closure dedup downstream still links the cluster through
    the sampled members; the cap bounds pair output at
    O(buckets * max_bucket^2).  The default is ``None`` (complete
    candidate generation, the exact-oracle contract) — the cap is
    OPT-IN for boilerplate-heavy corpora at scale.
    """
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(docs, n_hashes, shingle_n, id_col, text_col).where(F.col("sig").isNotNull())
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(",", *[F.col("sig")[b * rows_per_band + j] for j in range(rows_per_band)]).alias(
                            "band_sig"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.band_sig")
    if max_bucket is not None:
        w = Window.partitionBy("band", "band_sig").orderBy(md5_long(F.col("doc_id").cast("string")), "doc_id")
        banded = (
            banded.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_bucket)
            .drop("_rn")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, ["band", "band_sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
    )
    return pairs


def simhash(docs: DataFrame, bits: int = 32, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, simhash:long): per-token portable hash, bitwise
    majority vote over the token multiset (ties -> 0 bit).

    Narrow: the whole vote happens inside one aggregate over the token
    array — no explode, no shuffle.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    # materialize token hashes once; the per-bit aggregates below then
    # reference the column instead of recomputing md5 per bit
    hashed = docs.select(F.col(id_col).alias("doc_id"), F.transform(toks, lambda t: md5_long(t)).alias("h"))
    def _vote(j: int):
        # two-parameter lambda only (see _minhash note on lambda arity)
        return F.aggregate(
            F.col("h"), F.lit(0).cast("long"),
            lambda acc, x: acc + F.shiftright(x, j).bitwiseAND(F.lit(1)) * 2 - 1,
        )

    votes = [_vote(j) for j in range(bits)]
    sh = None
    for j, v in enumerate(votes):
        bit = F.when(v > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        sh = bit if sh is None else sh + bit
    return hashed.select("doc_id", sh.alias("simhash"))


def ngram_jaccard_topk(
    docs: DataFrame, k: int = 20, shingle_n: int = 3, min_shared: int = 1,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Top-k most similar doc pairs by word-n-gram Jaccard, fully
    relational: explode distinct shingles, self-join on shingle,
    |A∩B| by groupBy, |A∪B| = |A|+|B|-|A∩B|.

    Shuffles: one on shingle (the join), one on the pair key (the agg).
    Deterministic order: (jaccard desc, a, b).
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array_distinct(shingles(F.col(text_col), shingle_n))).alias("s")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "s")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    jac = inter.join(sa, "a").join(sb, "b").select(
        "a", "b",
        (F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared"))).alias("jaccard"),
    )
    return jac.orderBy(F.desc("jaccard"), "a", "b").limit(k)


def embedding_neardup(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    n_tables: int = 24,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos) for every
    a < b with cosine >= threshold — the semantic face of the dedup
    family (brief: 'embedding-cosine near-dup').

    TWO physical shapes, picked from the table's plan statistics (zero
    probe jobs — cover.fits_broadcast, the one switch the spatial dims
    use too), both built from the ann.py kernels:

    * exact broadcast path (table fits a broadcast): the memoised
      broadcast base matrix of ann.cosine_topk (``ann._cosine_matrix``,
      one matmul per Arrow batch), emitting only pairs over the
      threshold with a < b (each unordered pair produced exactly once:
      by the batch holding its smaller id).  Exact — the board-oracle
      contract.

    * bucketed LSH path (the table exceeds the broadcast cap): the
      ann.py sign-LSH bucketizer (``ann._lsh_buckets``: deterministic
      seeded integer hyperplanes, ids-only (id, table, bucket) rows)
      feeds a bucket self-join; candidate pairs dedup on the narrow
      (a, b) key; ``ann._score_pairs`` re-attaches each side's vector
      ONCE by an equi-join and scores every candidate with the exact
      row-wise cosine, and ``cos >= threshold`` is a JVM filter.  No
      embedding payload ever rides a shuffle multiplied by n_tables,
      and nothing collects to the driver.  Precision is exact
      (verified); recall is the sign-LSH collision bound
      1 - (1 - (1 - theta/pi)^bits)^n_tables per true pair — >= 0.998
      at the 0.95-cosine near-dup regime with the defaults, tunable
      via bits/n_tables (lower bits or more tables => higher recall,
      bigger buckets).
    """
    import numpy as np
    import pyarrow as pa

    from ..partitioning import plan_bytes
    from .ann import _cosine_matrix, _emb_dim, _lsh_buckets, _score_pairs
    from .cover import fits_broadcast

    t = float(threshold)
    if fits_broadcast(plan_bytes(emb)):

        def over_threshold(qid, bids, cos):
            ii, jj = np.nonzero((cos >= t) & (qid[:, None] < bids[None, :]))
            if len(ii):
                return pa.RecordBatch.from_arrays(
                    [pa.array(qid[ii]), pa.array(bids[jj]), pa.array(cos[ii, jj])], names=["a", "b", "cos"]
                )

        return _cosine_matrix(emb, emb, id_col, vec_col, over_threshold, "a long, b long, cos double")

    def side(name):
        return emb.select(F.col(id_col).cast("long").alias(name), F.col(vec_col).alias("_vec"))

    bk = _lsh_buckets(side("_id"), _emb_dim(emb, vec_col), bits, n_tables)
    cand = (
        bk.withColumnRenamed("_id", "a")
        .join(bk.withColumnRenamed("_id", "b"), ["table", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    return _score_pairs(cand, side("a"), side("b")).where(F.col("cos") >= t)


def simhash_neardup(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-duplicate pairs: (a, b, hamming) for every a < b
    with Hamming(simhash_a, simhash_b) <= max_hamming — EXACT and
    complete by the pigeonhole principle: the 32-bit hash splits into
    max_hamming + 1 byte-ish bands, and any pair within the Hamming
    ball must agree on at least one whole band, so the band-bucket
    equi-join is a no-false-negative candidate generator and the
    bit_count filter is the exact predicate.

    Shuffles: one on (band, band_bits) + the pair distinct.  All
    codegen (bit ops), fully SQL-expressible -> exact driver oracle.
    """
    n_bands = max_hamming + 1
    if bits % n_bands:
        raise ValueError("bits must divide evenly into max_hamming + 1 bands")
    band_w = bits // n_bands
    sh = simhash(docs, bits=bits, id_col=id_col, text_col=text_col)
    banded = sh.select(
        "doc_id", "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * band_w)
                        .bitwiseAND(F.lit((1 << band_w) - 1))
                        .alias("band_bits"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.band_bits")
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, ["band", "band_bits"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .where(ham <= max_hamming)
        .select(
            F.col("a.doc_id").alias("a"),
            F.col("b.doc_id").alias("b"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
    )


def neardup_groups(
    docs: DataFrame, n_hashes: int = 16, bands: int = 8, shingle_n: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Transitive-closure near-dup grouping -> (doc_id, canonical_id,
    group_size): the "transitive-closure dedup downstream" that turns
    LSH candidate PAIRS into usable dedup decisions (keep one doc per
    group).  canonical_id = min doc_id of the connected component;
    docs in no pair map to themselves.

    Scale shape: pairs come from the bucketed LSH join (never
    all-pairs); components come from polygonize.connected_components
    (one lazy mapInArrow task over the (a, b) pairs, memory O(distinct
    paired docs + pairs)), so building the plan runs no Spark job; the
    final assignment is ONE left join on doc_id + a window count.
    """
    from pyspark.sql import Window as _W

    from .polygonize import connected_components

    pairs = lsh_candidate_pairs(
        docs, n_hashes=n_hashes, bands=bands, shingle_n=shingle_n,
        id_col=id_col, text_col=text_col, max_bucket=max_bucket,
    )
    labels = connected_components(pairs.selectExpr("a AS x", "b AS y"))
    out = docs.selectExpr(f"`{id_col}` AS doc_id").join(
        labels.withColumnRenamed("comp", "doc_id"), "doc_id", "left"
    ).selectExpr("doc_id", "coalesce(gid, doc_id) AS canonical_id")
    w = _W.partitionBy("canonical_id")
    return out.withColumn("group_size", F.count("*").over(w).cast("long"))
