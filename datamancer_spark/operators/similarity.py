"""Approximate/exact nearest-neighbor search over embedding columns.

Every kNN tier is a candidate stage followed by one shared ranking
core. ``_top_k`` keeps each query's best ``k`` rows under one total
order (score, then ``neighbor_id`` ascending), and ``_cosine_rerank``
scores (query, candidate) vector pairs by the portably rounded cosine
before ranking them. The candidate stages:

- ``knn_bruteforce`` — exact: the (small) query set is broadcast and
  every corpus batch keeps its local top-k, so one final shuffle on
  query id merges them.
- ``knn_ivf`` — the candidates are the posting lists of each query's
  ``nprobe`` nearest centroids.
- ``knn_lsh`` — the candidates share the query's random-hyperplane
  bucket. Hyperplanes are md5-derived (portable, seedable), so there is
  no stored model object.
- ``knn_pq`` — asymmetric distances over packed product-quantization
  codes.
- ``knn_jl_rerank`` — a shortlist in a Johnson–Lindenstrauss sketch
  space, reranked exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import prnd

from ..functions.vector import cosine


# knn_bruteforce / knn_ivf collect the QUERY side to the driver by
# design (the corpus never moves); this cap makes that contract explicit
# instead of an implicit driver-OOM at scale. ~1e5 queries × 128-dim
# float64 ≈ 100 MB — comfortably under driver memory; beyond that, batch
# the query set or use the fully-relational knn_lsh path.
DEFAULT_MAX_QUERIES = 100_000

_KNN_SCHEMA = "query_id long, neighbor_id long, cos double, rank int"


def _collect_query_rows(queries: DataFrame, id_col, vec_col, max_queries: int):
    """Collect the query side, raising (not OOMing) past the cap. The
    limit(cap+1) bounds what reaches the driver even when the check
    fails. A query without a vector has no neighbours, so it is dropped
    before the cap counts."""
    rows = (
        queries.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .limit(max_queries + 1)
        .collect()
    )
    if len(rows) > max_queries:
        raise ValueError(
            f"query set exceeds max_queries={max_queries}: the kNN query "
            "side is collected+broadcast by design — batch the queries or "
            "raise max_queries explicitly if the driver can hold them"
        )
    return rows


def _top_k(
    scored: DataFrame, k: int, score: str = "cos", ascending: bool = False
) -> DataFrame:
    """Each query's ``k`` best rows of ``scored``, numbered 1..k in
    ``rank``. The order is ``score`` descending (ascending for a
    distance), then ``neighbor_id`` ascending, so ties rank the same in
    every tier and in their DuckDB twins."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _cosine_rerank(pairs: DataFrame, k: int) -> DataFrame:
    """Exact verify-and-rank of candidate pairs (query_id, neighbor_id,
    qv, cv): the cosine rounded half-up to 6 decimals, so the order is
    engine-stable, then ``_top_k``."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        prnd(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
    )
    return _top_k(scored, k)


def _sq_dists(V, C):
    """(len(V), len(C)) squared L2 distances between the rows of two
    float64 matrices."""
    return ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)


def _nearest(V, C):
    """Index of the nearest row of ``C`` for each row of ``V``; ties go
    to the lowest index (numpy argmin), the order the oracles' row_number
    uses."""
    return _sq_dists(V, C).argmin(axis=1)


def _lloyd(X, k: int, rng):
    """Lloyd's k-means over the rows of ``X`` from ``min(k, len(X))``
    distinct rows drawn with ``rng``. Eight rounds: codebook quality
    plateaus early. An empty cluster keeps its centre. The caller owns
    ``rng`` so that several codebooks trained in a row draw their seeds
    in one fixed sequence."""
    centers = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(8):
        nearest = _nearest(X, centers)
        for c in range(len(centers)):
            members = X[nearest == c]
            if len(members):
                centers[c] = members.mean(axis=0)
    return centers


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_queries: int = DEFAULT_MAX_QUERIES,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``exclude_self=True`` (the within-corpus default) drops candidates
    whose id equals the query id. For CROSS-corpus queries (bitext
    mining, query-against-index) pass ``exclude_self=False``: the two
    sides' id spaces may overlap (both indexed 0..N is the normal case
    for independently-ided corpora), and bare id-equality exclusion
    would silently suppress exactly the aligned same-index candidates.

    Output: (query_id, neighbor_id, cos, rank). Plan: the query matrix is
    collected once (bounded, documented) and broadcast to executors; the
    corpus streams through ``mapInPandas`` where numpy/BLAS computes the
    (batch × queries) similarity block and keeps each query's local top-k
    under the *final* total order (rounded cos desc, id asc) — so the
    global window merge over (#batches · nq · k) rows is exact. The
    corpus is scanned once and never shuffled; only top-k candidates move."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    q_rows = _collect_query_rows(queries, id_col, vec_col, max_queries)
    if not q_rows:
        return corpus.sparkSession.createDataFrame([], _KNN_SCHEMA)
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    bc = corpus.sparkSession.sparkContext.broadcast((qids, Q))

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cos", DoubleType()),
        ]
    )
    kk = int(k)
    excl = bool(exclude_self)

    def score_partition(batches):
        qids_l, Q_l = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            C /= np.linalg.norm(C, axis=1, keepdims=True)
            cids = pdf[id_col].to_numpy().astype(np.int64)
            sims = C @ Q_l.T                       # (nc, nq)
            sims = np.floor(sims * 1e6 + 0.5) / 1e6  # portable rounding
            outs = []
            for j in range(len(qids_l)):
                col = sims[:, j]
                if excl:
                    mask = cids != qids_l[j]       # exclude self
                    ids_m, col_m = cids[mask], col[mask]
                else:
                    ids_m, col_m = cids, col
                order = np.lexsort((ids_m, -col_m))[:kk]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qids_l[j],
                            "neighbor_id": ids_m[order],
                            "cos": col_m[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    # No repartition here: a real corpus arrives in many partitions already,
    # and for small corpora the per-worker Arrow overhead of spreading
    # outweighs the BLAS work (measured 0.5s → 3.5s at sf0.1).
    # Vector-less rows can't score (NaN rows would break the BLAS block).
    scored = (
        corpus.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(score_partition, out_schema)
    )
    return _top_k(scored, k)


def plane_matrix(num_planes: int, dim: int, seed: int = 42):
    """Deterministic hyperplane matrix (num_planes × dim), md5-derived:
    component[p][j] = md5(seed_p_j) first 8 hex as int / 2^31 - 1 ∈ [-1,1).
    Computed once on the driver (tiny) and broadcast — no per-row hashing."""
    import hashlib

    import numpy as np

    M = np.empty((num_planes, dim), dtype=np.float64)
    for p in range(num_planes):
        for j in range(dim):
            h = int(hashlib.md5(f"{seed}_{p}_{j}".encode()).hexdigest()[:8], 16)
            M[p, j] = h / float(2**31) - 1.0
    return M


def hyperplane_bits(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
    out: str = "bucket",
    dim: int | None = None,
) -> DataFrame:
    """Sign-bit LSH bucket id from ``num_planes`` deterministic random
    hyperplanes: bucket = Σ 2^p·[vec·plane_p ≥ 0]. The plane matrix is
    driver-derived and broadcast; bucket assignment is one numpy matrix
    multiply per Arrow batch (was: per-row md5 expressions — 512k
    interpreted hashes for a 2k×64 corpus)."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    if dim is None:
        # a frame without vectors gets no buckets, so needs no planes
        first = (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("d"))
            .first()
        )
        dim = int(first["d"]) if first else 0
    M = plane_matrix(num_planes, dim, seed)
    bc = df.sparkSession.sparkContext.broadcast(M)
    in_cols = df.columns
    out_schema = StructType(df.schema.fields + [StructField(out, LongType())])

    def assign(batches):
        Mt = bc.value.T  # (dim, planes)
        weights = (1 << np.arange(Mt.shape[1], dtype=np.int64))
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            buckets = ((V @ Mt) >= 0).astype(np.int64) @ weights
            res = pdf.copy()
            res[out] = buckets
            yield res

    return (
        df.select(*in_cols)
        .filter(F.col(vec_col).isNotNull())  # no vector -> no bucket
        .mapInPandas(assign, out_schema)
    )


def train_codebook(
    corpus: DataFrame,
    vec_col: str = "embedding",
    num_centroids: int = 16,
    seed: int = 42,
    sample_fraction: float = 1.0,
):
    """KMeans codebook (num_centroids × dim numpy array) trained with
    Lloyd's iterations on a bounded seeded SAMPLE of the corpus — the
    standard IVF recipe (codebooks need thousands of examples, not the
    corpus). Shared by ``knn_ivf`` and the semantic-dedup tier: a
    TRAINED codebook yields balanced clusters, which is load-bearing for
    ``semantic_dedup`` — a random (md5-plane) codebook leaves real text
    embeddings concentrated in one mega-cluster whose O(m²) kernel
    degenerates to all-pairs (measured 34× wall at 16× volume vs ~2×
    with trained centroids)."""
    target = max(2000, 50 * num_centroids)
    # NULL vectors must never reach np.array (object-array -> Lloyd's
    # crash), matching ivf_assign/knn_bruteforce's guards.
    vecs = corpus.select(vec_col).filter(F.col(vec_col).isNotNull())
    sampled = vecs
    if sample_fraction < 1.0:
        sampled = sampled.sample(fraction=sample_fraction, seed=seed)
    sample_rows = sampled.limit(target).collect()
    if len(sample_rows) < num_centroids:  # tiny corpus / too-thin sample
        sample_rows = vecs.limit(target).collect()
    X = np.array([r[0] for r in sample_rows], dtype=np.float64)
    return _lloyd(X, num_centroids, np.random.default_rng(seed))


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_centroids: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    sample_fraction: float = 1.0,
    codebook=None,
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """IVF (inverted-file) approximate kNN: a KMeans codebook partitions
    the corpus into posting lists; each query probes its ``nprobe``
    nearest centroids and scores only those lists.

    This is the scale path for ANN over big corpora: the expensive stage
    is a centroid-bucketed equi-join (shuffle on a small int key), and
    recall/cost trades with ``nprobe``/``num_centroids`` (rule of thumb:
    √n centroids, probe 5-10%). The codebook is trained with Lloyd's
    iterations on a bounded driver-side SAMPLE (the standard IVF recipe —
    codebooks need thousands of examples, not the corpus) and broadcast;
    corpus assignment is one numpy argmin per Arrow batch.

    Sampling is ``df.sample(sample_fraction, seed)`` + limit — a filtered
    scan with per-partition early stop, NOT a full-corpus TakeOrdered (at
    100 TB set sample_fraction so fraction·corpus ≳ the 2000-row target,
    e.g. 1e-5). Pass ``codebook`` (array num_centroids × dim) to skip
    training entirely — the production path where the codebook is trained
    once offline and reused across query batches."""
    if codebook is not None:
        centers = np.asarray(codebook, dtype=np.float64)
    else:
        centers = train_codebook(
            corpus, vec_col, num_centroids, seed, sample_fraction
        )
    assigned = ivf_assign(corpus, centers, vec_col, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "centroid"
    )
    q_rows = _collect_query_rows(queries, id_col, vec_col, max_queries)
    spark = corpus.sparkSession
    if not q_rows:
        return spark.createDataFrame([], _KNN_SCHEMA)

    def nearest_centroids(v):
        # One query at a time: O(num_centroids·dim) driver memory, not a
        # (queries × centroids × dim) temporary at the max_queries cap.
        d = _sq_dists(np.asarray(v, dtype=np.float64)[None, :], centers)[0]
        return np.argsort(d)[:nprobe]

    probes = spark.createDataFrame(
        [(int(r[0]), int(c)) for r in q_rows for c in nearest_centroids(r[1])],
        "query_id long, centroid long",
    )
    qside = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .join(probes, "query_id")
    )
    pairs = assigned.join(F.broadcast(qside), "centroid").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _cosine_rerank(pairs, k)


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    seed: int = 42,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's hyperplane
    bucket. Recall tunes with ``num_planes`` (fewer planes → bigger
    buckets → higher recall, more compute) and ``multiprobe`` (also probe
    buckets within Hamming distance 1, i.e. each single bit flipped —
    the standard recall upgrade at ~(1+num_planes)× candidate cost).
    The bucket join shuffles on a single long key — the 100 TB shape."""
    cb = hyperplane_bits(corpus, vec_col, num_planes, seed).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "bucket",
    )
    qb = hyperplane_bits(queries, vec_col, num_planes, seed).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "bucket"
    )
    if multiprobe:
        # expand each query to its bucket + every 1-bit-flip neighbor
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(num_planes)
            ],
        )
        qb = qb.withColumn("bucket", F.explode(probes))
    pairs = cb.join(F.broadcast(qb), "bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _cosine_rerank(pairs, k)


# -- Product quantization (PQ) ANN -------------------------------------------


def pq_codebooks(m: int = 8, k: int = 16, dim: int = 64, seed: int = 11):
    """Deterministic md5-derived product-quantization codebooks: ``m``
    subspaces of ``dim // m`` dims, ``k`` centroids each (list of
    (k, dim//m) float64 arrays). Same determinism contract as the IVF
    codebook — a DuckDB oracle can inline the identical centroids; an
    offline-trained codebook (per-subspace Lloyd's on a seeded sample,
    as ``train_codebook`` does for IVF) drops in unchanged."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    return [
        np.asarray(plane_matrix(k, sub, seed=seed * 100 + j))
        for j in range(m)
    ]


def _pq_bits(k: int) -> int:
    return max(1, (k - 1).bit_length())


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    normalize: bool = False,
) -> DataFrame:
    """PQ-encode a vector corpus: per subspace, squared-L2 argmin over
    that subspace's centroids (ties to the lowest centroid id, the
    numpy/row_number convention); the m codes PACK into ONE BIGINT
    (``bits_per_code * j`` shifts) — the storage form that makes PQ the
    100 TB memory lever: a 64-dim float64 vector (512 bytes) becomes
    one 8-byte code word, 64× smaller, and the ANN scan reads codes,
    never vectors. Output: (id, pq_code). One Arrow-batched map over
    the scan, no shuffle (the ``ivf_assign`` shape)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    m = len(codebooks)
    k = codebooks[0].shape[0]
    sub = codebooks[0].shape[1]
    bits = _pq_bits(k)
    if m * bits > 62:
        raise ValueError(f"{m} codes of {bits} bits overflow a bigint")
    bc = df.sparkSession.sparkContext.broadcast(
        [np.asarray(c, dtype=np.float64) for c in codebooks]
    )
    out_schema = StructType(
        [df.schema[id_col], StructField("pq_code", LongType())]
    )

    def batches(it):
        cbs = bc.value
        for pdf in it:
            if pdf.empty:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            if normalize:
                V = V / np.linalg.norm(V, axis=1, keepdims=True)
            packed = np.zeros(len(V), dtype=np.int64)
            for j, cb in enumerate(cbs):
                S = V[:, j * sub : (j + 1) * sub]
                packed |= _nearest(S, cb).astype(np.int64) << (bits * j)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "pq_code": packed}
            )

    return (
        df.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(batches, out_schema)
    )


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_queries: int = DEFAULT_MAX_QUERIES,
    normalize: bool = False,
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over PQ codes — the
    memory-scale ANN tier: the corpus side is its packed code column
    only (vectors never rescanned after encode), the query side is
    collected (capped+raising, the knn shape) into per-query DISTANCE
    TABLES — exact squared L2 between each query subvector and every
    subspace centroid, (nq × m × k) rows, tiny — and the scan becomes
    a broadcast join on (subspace, code) plus a sum over m: fully
    relational, so the DuckDB twin replicates it exactly. ADC rounds
    half-up to 6 decimals BEFORE ranking (knn_bruteforce's portable
    rounding) so the (adc asc, neighbor asc) total order is
    engine-stable. Output: (query_id, neighbor_id, adc, rank)."""
    m = len(codebooks)
    k_cent = codebooks[0].shape[0]
    bits = _pq_bits(k_cent)
    q_rows = _collect_query_rows(queries, id_col, vec_col, max_queries)
    sub = codebooks[0].shape[1]
    tab_rows = []
    for qid, vec in q_rows:
        V = np.asarray(vec, dtype=np.float64)
        if normalize:
            V = V / np.linalg.norm(V)
        for j, cb in enumerate(codebooks):
            S = V[j * sub : (j + 1) * sub]
            for cid, dv in enumerate(_sq_dists(S[None, :], cb)[0]):
                tab_rows.append((int(qid), j, cid, float(dv)))
    spark = corpus.sparkSession
    qtab = spark.createDataFrame(
        tab_rows, "query_id long, m int, code int, d double"
    )
    enc = pq_encode(corpus, codebooks, vec_col, id_col, normalize=normalize)
    unpacked = enc.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("pq_code"), bits * j)
                    .bitwiseAND(F.lit((1 << bits) - 1))
                    .cast("int")
                    for j in range(m)
                ]
            )
        ).alias("m", "code"),
    )
    adc = (
        unpacked.join(F.broadcast(qtab), ["m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            (F.floor(F.sum("d") * 1e6 + F.lit(0.5)) / 1e6).alias("adc")
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _top_k(adc, k, "adc", ascending=True)


def mine_bitext(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """Margin-based bitext mining (the Artetxe & Schwenk ratio-margin
    criterion, the standard parallel-corpus miner for multilingual
    LLM data): a (src, tgt) pair is mined when tgt is src's NEAREST
    neighbor and the cosine, normalized by both sides' local kNN
    density, clears ``threshold`` —

        margin(x, y) = cos(x, y) / ((avgNNk(x→tgt) + avgNNk(y→src)) / 2)

    The density normalization is the whole point: hubs (sentences
    near everything) score high raw cosine against half the corpus
    but LOW margin, because their own kNN average is just as high.

    Plan: two ``knn_bruteforce`` passes (each side's vectors stream
    through mapInPandas; the other side is the capped+broadcast query
    set) + two tiny per-query averages + two broadcastable joins —
    fully relational after the kNN tier, so a DuckDB twin replicates
    it exactly. The margin rounds half-up to 1e-6 BEFORE thresholding
    (the portable-rounding convention) so the cut is engine-stable.
    At crawl scale, swap the exact kNN tier for knn_pq /
    knn_lsh candidate generation — the margin arithmetic is
    unchanged. Output: (src_id, tgt_id, cos, margin), margin DESC
    being the mining quality order.

    The two kNN passes run with ``exclude_self=False``: src and tgt
    are DISTINCT corpora whose id spaces may overlap (both indexed
    0..N is the normal case for independently-ided parallel sides),
    and id-equality exclusion would suppress exactly the aligned
    same-index candidates — in parallel data the gold pair often sits
    at the same index on both sides."""
    fwd = knn_bruteforce(tgt, src, k=k, vec_col=vec_col, id_col=id_col,
                         max_queries=max_queries, exclude_self=False)
    bwd = knn_bruteforce(src, tgt, k=k, vec_col=vec_col, id_col=id_col,
                         max_queries=max_queries, exclude_self=False)
    fwd_avg = fwd.groupBy("query_id").agg(F.avg("cos").alias("_fa"))
    bwd_avg = bwd.groupBy("query_id").agg(F.avg("cos").alias("_ba"))
    best = fwd.filter(F.col("rank") == 1).select(
        F.col("query_id").alias("src_id"),
        F.col("neighbor_id").alias("tgt_id"),
        "cos",
    )
    out = (
        best.join(fwd_avg.withColumnRenamed("query_id", "src_id"), "src_id")
        .join(bwd_avg.withColumnRenamed("query_id", "tgt_id"), "tgt_id")
        .withColumn(
            "margin",
            F.floor(
                F.col("cos") / ((F.col("_fa") + F.col("_ba")) / 2) * 1e6
                + F.lit(0.5)
            )
            / 1e6,
        )
        .filter(F.col("margin") >= threshold)
        .select("src_id", "tgt_id", "cos", "margin")
    )
    return out


# -- IVF cluster analytics / semantic dedup ----------------------------------


def ivf_assign(
    corpus: DataFrame,
    codebook,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every corpus vector to its nearest codebook centroid
    (squared-L2 argmin; ties break to the lowest centroid id, matching
    numpy argmin and the oracle's row_number order). One Arrow-batched
    map over the scan — the vector rides through the batch, so there is
    NO join-back shuffle. Output: (id, vec, centroid)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    centers = np.asarray(codebook, dtype=np.float64)
    bc = corpus.sparkSession.sparkContext.broadcast(centers)
    # rows without a vector cannot be assigned — excluded, not silently
    # argmin'd over NaN distances (which lands them all in centroid 0)
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(vec_col, corpus.schema[vec_col].dataType),
            StructField("centroid", LongType()),
        ]
    )

    def batches(it):
        C = bc.value
        for pdf in it:
            if pdf.empty:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().astype(np.int64),
                    vec_col: pdf[vec_col],
                    "centroid": _nearest(V, C).astype(np.int64),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(batches, schema)


def ivf_cluster_profile(
    corpus: DataFrame,
    codebook,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-cluster corpus profile over an IVF partition: member count
    and mean cosine of members to their centroid (cluster tightness) —
    the inspection view behind SemDeDup-style curation (tight clusters ⇒
    semantic near-duplicates; loose ⇒ topical diversity).

    Plan: one assignment map + a broadcast join to the (tiny) centroid
    table + one partial-aggregated shuffle over num_centroids groups."""
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(codebook)],
        f"centroid long, _cv array<double>",
    )
    assigned = ivf_assign(corpus, codebook, vec_col, id_col)
    return (
        assigned.join(F.broadcast(cents), "centroid")
        .select(
            "centroid",
            cosine(F.col(vec_col), F.col("_cv")).alias("_cos"),
        )
        .groupBy("centroid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            prnd(F.avg("_cos"), 6).alias("mean_cos"),
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    codebook,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop a vector when an
    earlier (smaller-id) vector in the SAME IVF cluster has cosine ≥
    ``threshold``. Returns surviving corpus rows (all columns).

    This is the predecessor-pair rule — i is dropped iff ∃ j<i in its
    cluster with cos(i,j) ≥ threshold — which is order-deterministic and
    fully relational (no sequential greedy state), so the DuckDB oracle
    replicates it exactly. It drops a superset of the greedy-keeper
    variant's drops within each similarity clique, which is the safe
    direction for dedup.

    Plan: assignment map (no shuffle) → ONE shuffle grouping each
    cluster → per-cluster BLAS kernel (normalized Gram matrix, the same
    portable floor-rounding as ``embedding_dedup_pairs``) emitting
    dropped ids → anti join. The quadratic term is bounded to
    within-cluster pairs — size ``num_centroids`` so clusters fit a
    task's memory (m² matrix per cluster); the relational per-pair
    Catalyst-fold variant measured ~10× slower at 5k vectors because
    each 64-dim cosine re-evaluates as an interpreted expression per
    pair, while the kernel is one matmul per cluster. Only (id, vec,
    centroid) ever shuffles, never the corpus's other columns."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    assigned = ivf_assign(corpus, codebook, vec_col, id_col)
    out_schema = StructType([StructField(id_col, LongType())])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy().astype(np.int64)
        order = np.argsort(ids)  # predecessor rule is id-ordered
        ids = ids[order]
        V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)[order]
        n = np.linalg.norm(V, axis=1, keepdims=True)
        n[n == 0] = 1.0  # zero vectors: cos undefined -> never similar
        Vn = V / n
        m = len(ids)
        # blocked Gram: a skewed cluster (hash-plane codebooks do NOT
        # balance real text embeddings) can hold most of the corpus —
        # the full m×m similarity matrix then exceeds task memory. Row
        # blocks bound memory at B×m while keeping BLAS throughput;
        # FLOPs stay O(m²), which is why num_centroids must scale with
        # the corpus (√n rule) / the codebook should come from trained
        # KMeans for balance.
        B = 2048
        dropped = np.zeros(m, dtype=bool)
        cols = np.arange(m)
        for s in range(0, m, B):
            block = Vn[s : s + B] @ Vn.T
            block = np.floor(block * 1e6 + 0.5) / 1e6  # portable prnd(…, 6)
            gidx = np.arange(s, min(s + B, m))
            before = cols[None, :] < gidx[:, None]  # strictly-earlier ids
            dropped[gidx] |= ((block >= threshold) & before).any(axis=1)
        return pd.DataFrame({id_col: ids[dropped]})

    dropped = assigned.groupBy("centroid").applyInPandas(kernel, out_schema)
    return corpus.join(dropped, id_col, "left_anti")


def hashed_embedding(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    normalize: bool = True,
) -> DataFrame:
    """Model-free text embeddings via the feature-hashing trick: each
    token adds ±1 to one of ``dim`` buckets (bucket and sign both from
    the portable md5 hash), then the vector is L2-normalized — the
    classic hashing-trick sentence representation that needs no model
    download, is deterministic across engines, and feeds every ANN /
    semantic-dedup operator in this package (text → vector → IVF
    entirely in-engine).

    Plan: explode tokens → ONE groupBy(id) with ``dim`` codegen'd
    conditional-sum aggregates (the same relational shape SimHash uses;
    per-row interpreted array folds measured ~3× slower on the MinHash
    tier) → arrayization + norm as a narrow projection. Documents with
    zero tokens are absent from the output (no token rows to group).

    Components are integers pre-normalization, so normalized values are
    bit-identical across engines up to the shared sqrt/divide."""
    from ..operators.dedup import hash32, words

    toks = words(F.col(text_col))
    ex = df.select(
        F.col(id_col), F.explode(toks).alias("_tok")
    ).select(F.col(id_col), hash32(F.col("_tok")).alias("_h"))
    bucket = F.col("_h") % dim
    sign = F.when((F.floor(F.col("_h") / dim) % 2) == 0, 1.0).otherwise(-1.0)
    g = ex.groupBy(id_col).agg(
        *[
            F.sum(F.when(bucket == j, sign).otherwise(0.0)).alias(f"_e{j}")
            for j in range(dim)
        ]
    )
    emb = F.array(*[F.col(f"_e{j}") for j in range(dim)])
    if not normalize:
        return g.select(F.col(id_col), emb.alias("embedding"))
    nrm = F.sqrt(
        F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    unit = F.transform(
        emb, lambda x: F.when(nrm == 0, 0.0).otherwise(x / nrm)
    )
    return g.select(F.col(id_col), unit.alias("embedding"))


def _size_range(df: DataFrame, vec_col: str) -> DataFrame:
    """One-row frame (lo, hi): min and max vector size over non-null
    vectors."""
    size = F.size(F.col(vec_col))
    return df.filter(F.col(vec_col).isNotNull()).agg(
        F.min(size).alias("lo"), F.max(size).alias("hi")
    )


def _check_dim(lo, hi, op: str, vec_col: str) -> int:
    """The vector dimension from the min/max vector sizes ``lo`` and
    ``hi`` (``lo`` is None when no vector is non-null). Raises a
    ValueError naming ``op`` unless all vectors share one non-zero
    size."""
    if lo is None:
        raise ValueError(f"{op}: no non-null vectors in '{vec_col}'")
    lo, hi = int(lo), int(hi)
    if lo <= 0:
        raise ValueError(f"{op}: empty vectors present in '{vec_col}'")
    if lo != hi:
        raise ValueError(
            f"{op}: mixed vector sizes in '{vec_col}' ({lo}..{hi}); "
            "pass an explicit dim= to select one (rows of any other "
            "size are dropped)"
        )
    return lo


def _derive_dim(df: DataFrame, vec_col: str, op: str) -> int:
    """Deterministic vector-dimension derivation (ADVICE r12): a
    ``.first()`` on a distributed frame is plan/partition-order
    dependent, so on a mixed-dimension corpus the chosen dim — and
    therefore WHICH rows silently survive a size filter — would vary
    run to run. Instead aggregate min/max of size over non-null
    vectors and REFUSE a mixed corpus loudly; callers that genuinely
    hold ragged vectors must pass an explicit ``dim`` (and accept the
    documented drop of non-conforming rows)."""
    row = _size_range(df, vec_col).first()
    return _check_dim(row["lo"], row["hi"], op, vec_col)


def pca_power_scores(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 4,
    round_decimals: int = 6,
    score_decimals: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Top principal component by power iteration + per-vector PC1
    scores — the embedding-curation primitive behind whitening,
    dominant-direction removal (the "all embeddings share one huge
    component" pathology of contrastive encoders) and 1-D stratified
    sampling. Mean-centers, runs ``iters`` rounds of v ← Xᵀ(Xv) with
    L1 normalization, and returns (id, pc1) projections.

    Engine portability is the PageRank convention: the mean vector and
    every post-normalization iterate are rounded to ``round_decimals``
    with the portable floor(x·10ⁿ+½) form, so ~1e-15 float-association
    drift (partial-agg order, list-sum order) can't surface; L1
    normalization (no sqrt) keeps every op to +,×,÷,|·|.

    Plan per iteration: ONE distributed aggregate — a per-row dot
    fold over the vector column, then posexplode + a d-group partial
    aggregation — nothing shuffles but d rows per partition. The
    iterate itself is DRIVER-SIDE BOUNDED STATE (d floats, like
    mixture_resample's count map — never corpus-sized); the corpus is
    scanned once per iteration and never joined. At 100 TB: iters ×
    one-pass map-reduce aggregates, embarrassingly parallel, zero
    shuffles beyond each aggregate's partial→final reduce.

    r15-opt note: the aggregates fold over the ARRAY column instead of
    projecting d separate ``element_at`` columns — the 64-wide column
    plans paid a multi-second whole-stage-codegen compile PER ROUND
    (fresh literals each iteration force a recompile; measured 6-7s on
    the first aggregate at d=64), while the array fold's generated
    code is tiny and round-invariant. The dot product folds k=1..d
    sequentially, the exact order of the previous chained sum, so
    every rounded iterate and score is unchanged."""
    import math

    def rnd(x: float, n: int) -> float:
        scale = float(10**n)
        return math.floor(x * scale + 0.5) / scale

    vec = F.col(vec_col)
    if dim is None:
        # r16 (VERDICT r15 #9): dimension derivation and the mean
        # aggregate fused into ONE job — posexplode_outer carries the
        # row's size() alongside each (pos, val), so one groupBy(_pos)
        # yields the per-position means AND the global min/max size
        # (folded on the driver over d rows) and feed _check_dim
        # (posexplode_outer emits a NULL-pos row for size-0 arrays, so
        # lo==0 catches them). Saves one full corpus pass + one
        # serialized driver job.
        rows = (
            emb.filter(vec.isNotNull())
            .select(
                F.size(vec).alias("_sz"),
                F.posexplode_outer(vec).alias("_pos", "_val"),
            )
            .groupBy("_pos")
            .agg(
                F.avg(F.col("_val").cast("double")).alias("_m"),
                F.min("_sz").alias("_lo"),
                F.max("_sz").alias("_hi"),
            )
            .collect()
        )
        dim = _check_dim(
            min((r["_lo"] for r in rows), default=None),
            max((r["_hi"] for r in rows), default=None),
            "pca_power_scores",
            vec_col,
        )
        x = emb.filter(vec.isNotNull() & (F.size(vec) == dim))
        m = [0.0] * dim
        for r in rows:
            m[r["_pos"]] = rnd(float(r["_m"]), round_decimals)
    else:
        # rows whose vector is NULL or not dim-sized are dropped (the
        # documented explicit-dim drop contract)
        x = emb.filter(vec.isNotNull() & (F.size(vec) == dim))
        mean_rows = (
            x.select(F.posexplode(vec).alias("_pos", "_val"))
            .groupBy("_pos")
            .agg(F.avg(F.col("_val").cast("double")).alias("_m"))
            .collect()
        )
        m = [0.0] * dim
        for r in mean_rows:
            m[r["_pos"]] = rnd(float(r["_m"]), round_decimals)

    def dot_fold(m_arr, v_arr):
        # sequential k=1..d left fold — bitwise the same addition
        # order as a chained (x_k - m_k)*v_k sum. Scope (ADVICE r15):
        # the bitwise claim covers only this PER-ROW fold; the
        # cross-row avg/sum combine order (posexplode + groupBy) is
        # not order-pinned in either the fold or the 64-column form —
        # that drift is absorbed by round_decimals, and the actual
        # equivalence pin is the NumPy value-replay test
        # (test_scale_ops.py::test_pca_power_fold_matches_numpy_replay).
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)),
            F.lit(0.0),
            lambda acc, k: acc
            + (F.element_at(vec, k).cast("double") - F.element_at(m_arr, k))
            * F.element_at(v_arr, k),
        )

    v = [1.0 / dim] * dim
    for _ in range(iters):
        m_arr = F.array(*[F.lit(mk) for mk in m])
        v_arr = F.array(*[F.lit(vk) for vk in v])
        y_rows = (
            x.select(dot_fold(m_arr, v_arr).alias("_dot"), vec.alias("_vec"))
            .select(F.posexplode(F.col("_vec")).alias("_pos", "_val"), "_dot")
            .groupBy("_pos")
            .agg(
                F.sum(
                    (
                        F.col("_val").cast("double")
                        - F.element_at(m_arr, F.col("_pos") + 1)
                    )
                    * F.col("_dot")
                ).alias("_y")
            )
            .collect()
        )
        y = [0.0] * dim
        for r in y_rows:
            y[r["_pos"]] = float(r["_y"])
        s = 0.0
        for yk in y:
            s += abs(yk)
        if s == 0.0:  # degenerate corpus (all rows equal the mean)
            break
        v = [rnd(yk / s, round_decimals) for yk in y]

    m_arr = F.array(*[F.lit(mk) for mk in m])
    v_arr = F.array(*[F.lit(vk) for vk in v])
    keep = [c for c in emb.columns]
    return x.select(*keep, prnd(dot_fold(m_arr, v_arr), score_decimals).alias("pc1"))


def ann_recall(
    truth: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    round_decimals: int = 4,
) -> DataFrame:
    """Recall report for an approximate kNN tier against exact ground
    truth — the eval every ANN deployment runs before trusting a
    bucketed/quantized index at scale: per query, how many of the true
    top-k did the approximate tier return. Input: two (query, neighbor)
    frames (extra columns ignored); output one row per TRUTH query:
    (query, n_true, n_approx, n_hit, recall). Queries the approximate
    tier returned nothing for (empty LSH bucket, unlucky probe set)
    stay in the report with recall 0 — silently dropping them is how
    recall numbers lie.

    Plan: two key-keyed aggregates and one equi-join on (query,
    neighbor) — truth is |queries|×k rows, tiny by construction, so
    AQE broadcasts freely; nothing corpus-sized moves.

    Eager: calling this runs Spark jobs while the plan is built
    (``materialize`` of the candidate list), and the pinned blocks live
    until GC or unpersist unless ``set_checkpoint_dir`` was called."""
    # Enforce the eval's own contract (ADVICE r12): a duplicated
    # (query, neighbor) row in EITHER input would fan the left join out
    # and inflate n_true/n_hit — recall could exceed 1. The kNN tiers
    # all emit distinct pairs, but the eval must not depend on that.
    from ..session import materialize

    t = truth.select(
        F.col(query_col).alias("_q"), F.col(neighbor_col).alias("_n")
    ).distinct()
    # The approx frame feeds TWO consumers (the hit join and the
    # n_approx aggregate). ReuseExchange does NOT deduplicate the two
    # subtrees (r16 measured: the whole approximate-kNN pipeline —
    # windows, scans and all — appeared twice in the executed plan, 0
    # ReusedExchange), so pin the |queries|×k candidate list once.
    # Bounded state: k rows per query by the kNN contract — never
    # corpus-sized. A/B, plan build + collect on 4 vCPUs, medians
    # pinned vs lazy: at sf0.1 (20 alternating pairs) 1.66/1.48 s for
    # ann_recall_lsh, 1.91/1.86 s for ann_recall_ivf and 2.53/2.52 s
    # for ann_recall_jl; on a 50k x 64 corpus (6 pairs) 2.81/2.78,
    # 3.48/3.30 and 4.99/5.38 s. Lazy re-runs the approximate tier, a
    # cost that grows with the corpus; the pin costs one job.
    a = materialize(
        approx.select(
            F.col(query_col).alias("_q"), F.col(neighbor_col).alias("_n")
        ).distinct()
    )
    # both frames are |queries| x k by the kNN contract, but they
    # often arrive from mapInPandas lineages with no size stats — AQE
    # then defaults the joins to sort-merge; broadcast explicitly
    hits = (
        t.join(
            F.broadcast(a.withColumn("_hit", F.lit(1))),
            ["_q", "_n"],
            "left",
        )
        .groupBy("_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
    )
    ap = a.groupBy("_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_approx")
    )
    return (
        hits.join(F.broadcast(ap), "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            "n_true",
            F.coalesce(F.col("n_approx"), F.lit(0))
            .cast("long")
            .alias("n_approx"),
            "n_hit",
            prnd(F.col("n_hit") / F.col("n_true"), round_decimals).alias(
                "recall"
            ),
        )
    )


def jl_project(
    df: DataFrame,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    out_col: str = "jl",
    dim: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: map each vector onto
    ``out_dim`` md5-derived dense random directions (``plane_matrix``,
    the LSH hyperplane generator — deterministic, seedable, no stored
    model object) — the dimensionality-reduction lever that makes
    100 TB ANN/dedup affordable: an 8-d sketch of a 64-d embedding is
    an 8× I/O and memory cut on every downstream distance computation,
    with cosine distortion bounded by the JL lemma (measured, not
    assumed — see the distortion gate). Cosines need no JL scaling
    constant (it cancels in the ratio).

    Pure Catalyst: each output component is one ``F.aggregate``
    zip-multiply fold — a narrow scan-side projection, zero shuffles,
    zero Python, composable with every array-input operator
    downstream."""
    if dim is None:
        dim = _derive_dim(df, vec_col, "jl_project")
    else:
        # explicit dim on a possibly-ragged corpus: drop non-conforming
        # rows (zip_with against the dim-sized plane rows would NULL-pad
        # them into silent garbage sketches otherwise)
        df = df.filter(
            F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
        )
    M = plane_matrix(out_dim, dim, seed=seed)
    comps = [
        F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.array(*[F.lit(float(x)) for x in M[j]]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"_jl{j}")
        for j in range(out_dim)
    ]
    keep = list(df.columns)
    return df.select(*keep, *comps).select(
        *keep,
        F.array(*[F.col(f"_jl{j}") for j in range(out_dim)]).alias(
            out_col
        ),
    )


def knn_jl_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    out_dim: int = 8,
    shortlist_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Two-stage ANN: shortlist in the ``out_dim``-d JL sketch space
    (cosine over 8 doubles instead of 64 — the cheap scan), then exact
    full-space rerank of only ``shortlist_factor × k`` candidates per
    query. The economics at 100 TB: the corpus-wide pass touches the
    8× smaller sketch, and the expensive full-width cosine runs on a
    bounded per-query shortlist — the classic sketch-then-verify
    shape, fully relational (broadcast queries, window top-n per
    query, no Python).

    Both ranking stages order by PORTABLY ROUNDED cosine (1e-6, id
    tie-break), so shortlists and final ranks are identical across
    engines — the property the differential twin checks. Output:
    (query_id, neighbor_id, cos, rank) — same contract as the other
    kNN tiers, so ``ann_recall`` evaluates it unchanged."""
    # The corpus-wide pass must touch ONLY the out_dim-d sketch (ADVICE
    # r12): carrying the full-width vectors through the crossJoin and
    # the shortlist window shuffle would move 64-d payloads corpus-wide
    # and void the 8× I/O win the sketch exists for. So: sketch-only
    # shortlist, then join the full vectors back for just the
    # shortlist_factor×k rerank rows per query.
    # Derive the full-space dim ONCE from the corpus and feed it to
    # both projections (ADVICE r13): letting each jl_project call run
    # its own _derive_dim min/max aggregate costs an extra corpus-wide
    # pass per invocation, and independent per-side derivation would
    # silently accept a corpus/queries dim mismatch — whose sketches
    # are incomparable (different plane matrices). The queries-side
    # check is queries-sized, so the only corpus-wide cost is the one
    # unavoidable derivation.
    # ONE Spark job for both sides' derivation (r16): the corpus and
    # queries min/max-size aggregates are independent 1-row frames, so
    # a crossJoin evaluates them in a single action instead of two
    # serialized driver jobs (~0.3-0.5 s of fixed job-launch latency
    # each). Corpus-side errors are raised first.
    both = (
        _size_range(corpus, vec_col)
        .crossJoin(_size_range(queries, vec_col).toDF("qlo", "qhi"))
        .first()
    )
    dim = _check_dim(both["lo"], both["hi"], "knn_jl_rerank(corpus)", vec_col)
    qdim = _check_dim(
        both["qlo"], both["qhi"], "knn_jl_rerank(queries)", vec_col
    )
    if qdim != dim:
        raise ValueError(
            f"knn_jl_rerank: corpus dim {dim} != queries dim {qdim}; "
            "their JL sketches would be incomparable"
        )
    cp = jl_project(
        corpus, out_dim=out_dim, vec_col=vec_col, id_col=id_col,
        seed=seed, dim=dim,
    ).select(F.col(id_col).alias("neighbor_id"), F.col("jl").alias("cv"))
    qp = jl_project(
        queries, out_dim=out_dim, vec_col=vec_col, id_col=id_col,
        seed=seed, dim=dim,
    ).select(F.col(id_col).alias("query_id"), F.col("jl").alias("qv"))
    pairs = cp.crossJoin(F.broadcast(qp))
    if exclude_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    short = _cosine_rerank(pairs, shortlist_factor * k).select(
        "query_id", "neighbor_id"
    )
    # full vectors rejoin the BOUNDED shortlist (|queries|×sf×k rows):
    # broadcast the shortlist against the corpus so the wide vectors
    # are read once, shuffle-free, for only the surviving candidates.
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    pairs = cv.join(F.broadcast(short), "neighbor_id").join(
        F.broadcast(qv), "query_id"
    )
    return _cosine_rerank(pairs, k)
