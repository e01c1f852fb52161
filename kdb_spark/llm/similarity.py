"""Similarity search over embedding columns (SURVEY.md §2.K).

Dot products are `zip_with` + `aggregate` (a sequential double fold —
deterministic and Catalyst-visible; SURVEY.md:489-490 commits to built-ins
over Python UDFs here). Elements are cast float→double (exact) before any
arithmetic so oracle comparison is bit-stable.

Scale paths:
- brute-force top-k: broadcast the (small) query side, per-query window
  top-k — the exact baseline;
- sign-LSH (random hyperplanes): bucket corpus + queries, search only same
  bucket — the ANN path when the corpus side no longer fits a crossJoin.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kdb_spark.analytics.exact import floor_div_sql


def _vec_d(col: str) -> F.Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _nrows(M: "np.ndarray") -> "np.ndarray":
    """Row-wise L2 normalization with the shared 1e-30 zero-vector guard."""
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)


def _pq_codebooks(
    embeddings: DataFrame, m: int, ksub: int
) -> tuple[int, int, list[tuple["np.ndarray", "np.ndarray"]]]:
    """Product-quantization codebook training shared by `pq_search_topk`
    and `ivfpq_search_topk`: seeded init (subvectors of the ksub lowest
    vec_ids, normalized) + ONE Lloyd step as map-only `mapInPandas`
    partials (k·m bounded rows per partition to the driver — the
    `emb_kmeans` pattern, no corpus shuffle). Empty codewords are DROPPED
    (mirrors the oracle's GROUP BY — an unused init centroid must not win
    an argmin later). Returns (dim, subdim, books) where books[s] =
    (surviving cids, codeword matrix) per subspace."""
    init = sorted(
        embeddings.filter(F.col("vec_id") < ksub)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    V = np.stack([np.asarray(r.embedding, dtype="float64") for r in init])
    dim = V.shape[1]
    subdim = dim // m
    C0 = _nrows(V).reshape(ksub, m, subdim)  # [cid, sub, :]

    def partials(batches):
        counts = np.zeros((m, ksub), dtype="int64")
        sums = np.zeros((m, ksub, subdim), dtype="float64")
        for pdf in batches:
            if not len(pdf):
                continue
            E = _nrows(np.stack(pdf["embedding"].to_numpy()).astype("float64"))
            S = E.reshape(len(E), m, subdim)
            for s in range(m):
                d2 = ((S[:, s, None, :] - C0[None, :, s, :]) ** 2).sum(-1)
                a = d2.argmin(1)  # first minimum = lowest cid, the SQL tie
                np.add.at(sums[s], a, S[:, s, :])
                counts[s] += np.bincount(a, minlength=ksub)
        out_s, out_c, out_n, out_v = [], [], [], []
        for s in range(m):
            nz = np.nonzero(counts[s])[0]
            out_s += [s] * len(nz)
            out_c += [int(c) for c in nz]
            out_n += [int(x) for x in counts[s][nz]]
            out_v += list(sums[s][nz])
        if out_s:
            yield pd.DataFrame(
                {"sub": out_s, "cid": out_c, "n": out_n, "s": out_v}
            )

    # NOTE deliberately NOT repartitioned: the per-partition float64
    # partial sums fold in row order and are combined on the driver in
    # partition order — the oracle pins the single-split fold exactly, so an
    # exchange would change codeword bits. Parallelism here must come from
    # the input layout.
    agg = embeddings.select("embedding").mapInPandas(
        partials, "sub long, cid long, n long, s array<double>"
    ).collect()
    counts = np.zeros((m, ksub), dtype="int64")
    sums = np.zeros((m, ksub, subdim), dtype="float64")
    for r in agg:
        counts[r.sub][r.cid] += r.n
        sums[r.sub][r.cid] += np.asarray(r.s)
    books: list[tuple["np.ndarray", "np.ndarray"]] = []
    for s in range(m):
        nz = np.nonzero(counts[s])[0]
        books.append((nz, sums[s][nz] / counts[s][nz, None]))
    return dim, subdim, books


def with_norm(embeddings: DataFrame, out: str = "nrm") -> DataFrame:
    return embeddings.withColumn(out, _norm(_vec_d("embedding")))


_Q24 = 16777216.0  # 2^24 — float32-mantissa-width quantization grid


def _qmean(col: F.Column, n: F.Column, grid: float = _Q24) -> F.Column:
    """Exact-moment mean of a double aggregate input: quantize each element
    to a fixed grid (round → integer-valued double, exact), SUM in
    decimal(38,0) (associative-exact, so the result is invariant to
    partitioning / partial-merge order), and divide back out as one double
    expression shared verbatim with the oracle SQL.

    ``F.avg`` over doubles merges partials in partition order — two runs of
    the same data at different parallelism can differ in the last ulps,
    which flips near-tie argmaxes downstream (nearest-centroid, z-thresholds).
    This is the same exact-sums convention the cents-domain ops use
    (win_bollinger/agg_autocorr), applied to float32 embeddings: 2^24 is the
    full float32 mantissa, so for the unit-scale values these tables hold the
    quantization is at (or below) the input's own precision.
    """
    s = F.sum(F.round(col * F.lit(grid)).cast("decimal(38,0)"))
    return s.cast("double") / (n * F.lit(grid))


def sim_search_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 5
) -> DataFrame:
    """Brute-force cosine top-k: queries × corpus, rank per query.

    The query side is broadcast (n_queries rows); the corpus is scanned once
    — at 100 TB this is the exact-baseline plan: one pass, no corpus
    shuffle, per-query heap via window row_number. Ties broken by vec_id.
    """
    q = with_norm(embeddings.filter(F.col("vec_id") < n_queries)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = with_norm(embeddings).select("vec_id", "embedding", "nrm")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos", _dot(_vec_d("q_emb"), _vec_d("embedding")) / (F.col("q_nrm") * F.col("nrm"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("vec_id").alias("match_id"),
                F.round("cos", 6).alias("cos"), "rn")
    )


def emb_near_dup(embeddings: DataFrame, tau: float = 0.4, n_blocks: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= tau, a < b) — exact,
    via distributed block-GEMM.

    All-pairs cosine is inherently O(n²) *flops*, but it does not have to be
    O(n²) *rows*: vectors are split into ``n_blocks`` row-blocks; each vector
    is replicated to the ``n_blocks`` block-pairs it participates in
    (shuffle volume n × n_blocks rows, never n² pairs), and each block-pair
    group computes one vectorized numpy matmul in ``applyInPandas``
    (Arrow-batched), emitting only qualifying pairs. Scale by setting
    ``n_blocks ≈ sqrt(cluster parallelism)``; for approximate-but-linear,
    use ann_buckets() as the candidate generator instead.
    """
    import numpy as np
    import pandas as pd

    n = with_norm(embeddings).select(
        "vec_id", _vec_d("embedding").alias("v"), "nrm"
    )
    # replicate each row to every block-pair (min(blk,j), max(blk,j))
    blk = F.pmod(F.col("vec_id"), F.lit(n_blocks))
    pairs = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.least(blk, F.lit(j)).alias("ba"),
                    F.greatest(blk, F.lit(j)).alias("bb"),
                )
                for j in range(n_blocks)
            ]
        )
    )
    rep = (
        n.withColumn("blk", blk)
        .withColumn("bp", F.explode(pairs))
        .select(
            "vec_id", "v", "nrm", "blk",
            F.col("bp.ba").alias("ba"), F.col("bp.bb").alias("bb"),
        )
    )

    # no annotations: partial hints make applyInPandas warn while inferring
    # the (key, pdf) -> pdf eval type
    def gemm(key, pdf):
        ba, bb = key
        left = pdf[pdf["blk"] == ba]
        right = pdf[pdf["blk"] == bb] if bb != ba else left
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos": "float64"}
            )
        A = np.stack(left["v"].to_numpy()) / left["nrm"].to_numpy()[:, None]
        B = np.stack(right["v"].to_numpy()) / right["nrm"].to_numpy()[:, None]
        S = A @ B.T
        ia, ib = np.nonzero(S >= tau)
        va = left["vec_id"].to_numpy()[ia]
        vb = right["vec_id"].to_numpy()[ib]
        lo, hi = np.minimum(va, vb), np.maximum(va, vb)
        if ba == bb:
            keep = va < vb  # diagonal block: each pair appears twice + self
        else:
            keep = lo < hi  # cross block: once; just orient (a < b)
        return pd.DataFrame(
            {"vec_a": lo[keep], "vec_b": hi[keep], "cos": S[ia, ib][keep]}
        )

    out = rep.groupBy("ba", "bb").applyInPandas(
        gemm, "vec_a long, vec_b long, cos double"
    )
    return out.select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))


def ivf_assign(embeddings: DataFrame, centroids: DataFrame, nprobe: int = 1) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (by cosine).

    Map-only: the centroid table (√n-ish rows, driver-bounded) is collected
    and closed over by an Arrow-batched pandas UDF that evaluates all k
    cosines per batch as ONE numpy matmul and takes the top-``nprobe``
    stable argsort (ties → lowest cid, matching the SQL
    `ORDER BY sim DESC, cid` convention). No shuffle of the corpus —
    the earlier formulation (crossJoin + row_number window) re-shuffled
    every vector per assignment round, which at 100 TB is k extra
    full-corpus shuffles per Lloyd iteration. Output has one row per
    (vector, probed centroid).
    """
    from pyspark.sql.functions import pandas_udf

    rows = sorted(centroids.select("cid", "cv").collect(), key=lambda r: r.cid)
    cids = [int(r.cid) for r in rows]
    C = np.stack([np.asarray(r.cv, dtype="float64") for r in rows])
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
    np_ = min(nprobe, len(cids))

    @pandas_udf("array<long>")
    def probe(emb: pd.Series) -> pd.Series:
        if not len(emb):  # empty Arrow batch (empty file split at scale)
            return pd.Series([], dtype=object)
        E = np.stack(emb.to_numpy()).astype("float64")
        E /= np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-30)
        # stable sort on -sim keeps centroid-index (== cid) order on ties
        top = np.argsort(-(E @ Cn.T), axis=1, kind="stable")[:, :np_]
        lut = np.asarray(cids, dtype="int64")
        return pd.Series(list(lut[top]))

    return embeddings.withColumn("_prbs", probe("embedding")).select(
        *embeddings.columns, F.explode("_prbs").alias("cid")
    )


def ivf_centroids(embeddings: DataFrame, n_clusters: int = 16, iters: int = 1) -> DataFrame:
    """IVF-flat centroid training, fully in DataFrame ops.

    Deterministic init (the first ``n_clusters`` vectors by vec_id) +
    ``iters`` Lloyd refinements: assign (broadcast centroids, one scan) →
    recompute means element-wise (posexplode → avg per (cluster, dim) →
    re-assemble ordered). Each refinement is one scan + one bounded shuffle
    of n·dim scalar rows — no all-pairs anything.
    """
    cents = embeddings.filter(F.col("vec_id") < n_clusters).select(
        F.col("vec_id").alias("cid"), _vec_d("embedding").alias("cv")
    )
    for _ in range(iters):
        assigned = ivf_assign(embeddings, cents, nprobe=1)
        cents = (
            assigned.select("cid", F.posexplode(_vec_d("embedding")).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("x"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "x"))),
                    lambda s: s["x"],
                ).alias("cv")
            )
        )
    return cents


def ivf_search_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flat ANN top-k: probe the ``nprobe`` nearest inverted lists only.

    The 100 TB shape: the corpus is scanned once at index-build (assignment),
    and each query touches nprobe/n_clusters of the data instead of all of
    it. Approximate vs brute force (a true neighbor can live in an unprobed
    list) but deterministic end-to-end — seeded init, one Lloyd step,
    stable ties — so the DuckDB oracle value-checks it exactly.
    """
    cents = ivf_centroids(embeddings, n_clusters)
    corpus = ivf_assign(with_norm(embeddings), cents, nprobe=1)
    queries = ivf_assign(
        with_norm(embeddings.filter(F.col("vec_id") < n_queries)), cents, nprobe=nprobe
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "cid",
    )
    scored = (
        corpus.join(F.broadcast(queries), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos", _dot(_vec_d("q_emb"), _vec_d("embedding")) / (F.col("q_nrm") * F.col("nrm"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("vec_id").alias("match_id"),
                F.round("cos", 6).alias("cos"), "rn")
    )


def emb_kmeans(
    embeddings: DataFrame, n_clusters: int = 8, iters: int = 3
) -> DataFrame:
    """Distributed Lloyd k-means over the embedding column — the clustering
    step of corpus curation (topic balancing, stratified dedup, coreset
    selection). The fixed iteration count unrolls into a generated CTE
    chain, so even this op gets an exact DuckDB value check.

    Classic scale shape — ONE map-only job per iteration: every partition
    computes its local (count, sum-vector) per cluster against the closed-
    over centroids (one numpy matmul per Arrow batch), and only k rows per
    partition come back to the driver, which finishes the mean. No corpus
    shuffle at any point; driver state is k·dim floats. Assignment is by
    cosine (stable argsort, ties → lowest cluster id); means are of the raw
    vectors, as in `ivf_centroids`. Empty clusters keep their previous
    centroid. Init = the ``n_clusters`` lowest vec_ids (deterministic).

    Output: each vector's final cluster + the cluster population
    (broadcast-joined back — k rows).
    """
    init = sorted(
        embeddings.filter(F.col("vec_id") < n_clusters)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    C = np.stack([np.asarray(r.embedding, dtype="float64") for r in init])
    k, dim = C.shape

    def _normed(M: "np.ndarray") -> "np.ndarray":
        return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)

    emb_only = embeddings.select("embedding")
    for _ in range(iters):
        Cn = _normed(C)

        def partials(batches, Cn=Cn):
            counts = np.zeros(k, dtype="int64")
            sums = np.zeros((k, dim), dtype="float64")
            for pdf in batches:
                if not len(pdf):  # empty Arrow batch (empty split at scale)
                    continue
                E = np.stack(pdf["embedding"].to_numpy()).astype("float64")
                a = np.argsort(-(_normed(E) @ Cn.T), axis=1, kind="stable")[:, 0]
                np.add.at(sums, a, E)
                counts += np.bincount(a, minlength=k)
            nz = np.nonzero(counts)[0]
            if len(nz):  # an all-empty partition yields nothing — an empty
                # frame's untyped float64 "s" column breaks Arrow's
                # list<double> conversion, and contributes no partial anyway
                yield pd.DataFrame(
                    {"cluster": nz, "n": counts[nz], "s": list(sums[nz])}
                )

        agg = emb_only.mapInPandas(
            partials, "cluster long, n long, s array<double>"
        ).collect()
        counts = np.zeros(k, dtype="int64")
        sums = np.zeros((k, dim), dtype="float64")
        for r in agg:
            counts[r.cluster] += r.n
            sums[r.cluster] += np.asarray(r.s)
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]

    cents = embeddings.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in C[i]]) for i in range(k)], "cid long, cv array<double>"
    )
    assigned = ivf_assign(embeddings, cents, nprobe=1).select(
        "vec_id", F.col("cid").alias("cluster")
    )
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return assigned.join(F.broadcast(sizes), "cluster").select(
        "vec_id", F.col("cluster").cast("long").alias("cluster"),
        F.col("n_members").cast("long").alias("n_members"),
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (plan-time constants)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def ann_buckets(embeddings: DataFrame, dim: int = 64, n_planes: int = 8) -> DataFrame:
    """Sign-LSH bucket id per vector: bit i = sign(v · plane_i).

    Vectors in the same bucket are cosine-close with high probability; ANN
    search joins on the bucket id (2^n_planes buckets) instead of scanning
    the corpus. Plane components are literal arrays — the dot products stay
    whole-stage-codegen expressions.
    """
    planes = hyperplanes(dim, n_planes)
    v = _vec_d("embedding")
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = _dot(v, F.array(*[F.lit(x) for x in p]))
        bucket = bucket + F.when(d > 0, F.lit(1 << i)).otherwise(0)
    return embeddings.withColumn("bucket", bucket)


def _lsh_tables(df: DataFrame, dim: int, n_tables: int, n_bits: int) -> DataFrame:
    """One row per (vector, hash table): bucket id = n_bits sign bits against
    that table's independent hyperplanes. Multi-table LSH — the standard
    recall lever: a neighbor is a candidate if it collides in ANY table
    (P(miss) = (1 - p^bits)^tables, p = 1 - θ/π)."""
    v = _vec_d("embedding")
    tables = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_bits, seed=42 + 1000 * t)
        bucket = F.lit(0).cast("long")
        for i, p in enumerate(planes):
            d = _dot(v, F.array(*[F.lit(x) for x in p]))
            bucket = bucket + F.when(d > 0, F.lit(1 << i)).otherwise(0)
        tables.append(F.struct(F.lit(t).alias("tbl"), bucket.alias("bkt")))
    return df.withColumn("tb", F.explode(F.array(*tables))).select(
        *df.columns, F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt")
    )


def ann_search_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_tables: int = 4,
    n_bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """ANN cosine top-k via multi-table sign-LSH.

    Candidates = union over ``n_tables`` independent 4-bit sign hashes of
    the query's bucket (deduped per pair before scoring). Each table's
    bucket join touches ~1/2^bits of the corpus; recall ≈
    1-(1-p^bits)^tables with p = 1 - θ/π. Recall is DATA-dependent: on the
    driver's near-random synthetic embeddings (true top-5 cos ≈ 0.3-0.37,
    p ≈ 0.6) measured recall@5 is ~0.5 at the defaults — that is the
    information-theoretic regime where no sub-linear index does well; on
    clustered real embeddings (cos ≥ 0.7, p ≥ 0.75) the same defaults give
    ≥ 0.9. Approximate vs brute force but deterministic given the seeded
    plane literals, so the DuckDB oracle value-checks it exactly.
    """
    b = _lsh_tables(with_norm(embeddings), dim, n_tables, n_bits)
    q = b.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "tbl",
        "bkt",
    )
    cand = b.join(F.broadcast(q), ["tbl", "bkt"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    # Score BEFORE the cross-table dedup: the cos of a (query, vec) pair is
    # the same expression over the same two vectors in every table it
    # collides in, so max(cos) over the pair group IS the pair's score and
    # the dedup becomes a fixed-width two-phase HashAggregate. The naive
    # dropDuplicates here kept both 64-dim arrays through first() buffers —
    # a SortAggregate (variable-width buffers don't hash-agg) whose Exchange
    # carried ~1 KB/row of embedding payload instead of 24 B of
    # (query_id, vec_id, cos); a duplicate collision re-computes one dot
    # map-side, far cheaper than shuffling its vectors (≤ n_tables-1 extra
    # dots per pair).
    scored = cand.withColumn(
        "cos", _dot(_vec_d("q_emb"), _vec_d("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    ).groupBy("query_id", "vec_id").agg(F.max("cos").alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("vec_id").alias("match_id"),
                F.round("cos", 6).alias("cos"), "rn")
    )


def emb_normalize(embeddings: DataFrame) -> DataFrame:
    """L2-normalize + symmetric int8 quantization — the embedding
    preprocessing every ANN/dedup pipeline runs before indexing (unit
    vectors make cosine = dot; int8 shrinks the index 4×).

    Map-only JVM expressions: ``aggregate`` for the squared sum (sequential
    fold, deterministic order), ``transform`` for the per-component ops.
    Everything is cast to double FIRST so both engines run identical IEEE
    arithmetic on the float32 input. Zero vectors pass through as zeros
    (guarded divisions). At 100 TB this pipelines into the scan: no
    shuffle, no Python.

    The quantized vector is emitted as a canonical CSV string (``q8_csv``)
    rather than a raw ``array<int>``: the values are identical and fully
    checkable, but the column stays hashable/sortable for any downstream
    consumer that canonicalizes rows (pandas can't sort list cells).
    """
    # Pin each stage behind a Generate barrier (explode(array(e)) — same
    # trick as dedup._doc_shingles): CollapseProject would otherwise inline
    # the cast vector into every reference and the nrm/amax aggregates into
    # every q8 LAMBDA ELEMENT, making per-row work O(d²) (measured 4×
    # end-to-end on 64-dim vectors).
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    pinned = embeddings.select(
        "vec_id", F.explode(F.array(dvec)).alias("v")
    )
    stats = F.struct(
        F.sqrt(
            F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("nrm"),
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))).alias("amax"),
    )
    with_stats = pinned.select(
        "vec_id", "v", F.explode(F.array(stats)).alias("st")
    )
    nrm, amax = F.col("st.nrm"), F.col("st.amax")
    return with_stats.select(
        "vec_id",
        F.round(nrm, 4).alias("l2_norm"),
        F.round(
            F.when(nrm > 0, F.element_at(F.col("v"), 1) / nrm).otherwise(0.0), 4
        ).alias("u0"),
        F.concat_ws(
            ",",
            F.transform(
                F.col("v"),
                lambda x: F.when(
                    amax > 0, F.round(F.lit(127.0) * x / amax).cast("int")
                ).otherwise(F.lit(0)).cast("string"),
            ),
        ).alias("q8_csv"),
    )


def pq_search_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    m: int = 16,
    ksub: int = 32,
) -> DataFrame:
    """Product-quantization ANN top-k — the memory-bound scale path that
    completes the ANN family (brute force → sign-LSH → IVF-flat → PQ).

    The 100 TB rationale: a PQ code is ``m`` small ints (here 16 bytes)
    per vector instead of d floats (256 bytes) — the corpus index fits in
    RAM at sizes where even IVF lists of raw vectors don't, and scoring is
    table lookups (ADC: asymmetric distance computation), not d-dim dots.
    Operating point on the near-random synthetic embeddings: recall@5 ≈
    0.44 vs brute force at m=16 × 4-dim subspaces, 32 codewords
    (tests/test_ann_recall.py pins the floor).

    Deterministic end-to-end, so the DuckDB oracle value-checks it exactly
    (same construction mirrored in SQL): normalize → split into m=4
    4-dim subspaces → per-subspace codebook = seeded init (lowest vec_ids)
    + ONE Lloyd step, empty codewords dropped → encode corpus (argmin L2,
    ties → lowest codeword) → per-query ADC tables → score every vector by
    m lookups. Spark shape: codebook training is the `emb_kmeans` map-only
    partials pattern per subspace (k·m rows per partition to the driver);
    encode+score+local-prune is ONE `mapInPandas` scan closing over the
    tiny codebooks and ADC tables (only ≤ n_queries·k candidate rows per
    batch survive to the global top-k window) — the corpus is never
    shuffled and never scored against raw query vectors.
    """
    dim, subdim, books = _pq_codebooks(embeddings, m, ksub)

    qrows = sorted(
        embeddings.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    qids = np.array([r.vec_id for r in qrows])
    Q = _nrows(np.stack([np.asarray(r.embedding, dtype="float64") for r in qrows]))
    QS = Q.reshape(len(Q), m, subdim)
    # adc[q][s][j] = dot(query subvector, surviving codeword j of subspace s)
    adc = [QS[:, s, :] @ books[s][1].T for s in range(m)]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vid = pdf["vec_id"].to_numpy()
            E = _nrows(np.stack(pdf["embedding"].to_numpy()).astype("float64"))
            S = E.reshape(len(E), m, subdim)
            total = np.zeros((len(qids), len(E)))
            for s in range(m):
                d2 = ((S[:, s, None, :] - books[s][1][None, :, :]) ** 2).sum(-1)
                code = d2.argmin(1)
                total += adc[s][:, code]  # ascending s: the oracle sum order
            qcol, mcol, scol = [], [], []
            for qi in range(len(qids)):
                mask = vid != qids[qi]
                cand_v, cand_s = vid[mask], total[qi][mask]
                order = np.lexsort((cand_v, -cand_s))[:k]
                qcol += [int(qids[qi])] * len(order)
                mcol += [int(x) for x in cand_v[order]]
                scol += [float(x) for x in cand_s[order]]
            yield pd.DataFrame(
                {"query_id": qcol, "match_id": mcol, "score_pq": scol}
            )

    cand = embeddings.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, match_id long, score_pq double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_pq"), "match_id")
    return (
        cand.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select(
            "query_id", "match_id", F.round("score_pq", 6).alias("score_pq"), "rn"
        )
    )


def ivfpq_search_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    m: int = 16,
    ksub: int = 32,
    n_clusters: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ composite ANN top-k — the production index shape (FAISS
    ``IVFx,PQy``): a coarse quantizer prunes WHICH vectors are scored, PQ
    codes decide HOW CHEAPLY. The two halves already exist separately
    (`ivf_search_topk` prunes but stores raw vectors; `pq_search_topk`
    compresses but scans everything); composed, the scan touches only
    ~nprobe/n_clusters of the corpus AND scores it by table lookups.

    Byte-identical reuse of both parents, so the DuckDB oracle is their
    two oracle constructions joined: coarse centroids from
    `ivf_centroids` (seeded init + one Lloyd round, the `_ivf_oracle`
    CTEs) pick each query's ``nprobe`` lists; PQ codebooks from
    `_pq_codebooks` (the `_pq_oracle` CTEs) score candidates by ADC.
    No-residual variant: codes quantize the vectors themselves, not the
    vector-minus-centroid residuals — residuals would need per-list
    codebooks and break the shared-construction oracle for ~0 recall
    gain on near-random synthetic data.

    Spark shape: ONE `mapInPandas` corpus scan closing over the tiny
    coarse-centroid matrix, codebooks, ADC tables, and per-query probe
    sets; each batch assigns its vectors to coarse lists (one matmul),
    masks out unprobed vectors per query, ADC-scores the survivors, and
    emits only ≤ n_queries·k local winners to the global top-k window —
    the corpus is never shuffled. At 100 TB the same scan runs over
    `ivf_index_search`'s list-partitioned layout and prunes at the
    directory level instead of in-batch.
    """
    cents = ivf_centroids(embeddings, n_clusters=n_clusters)
    crows = sorted(cents.collect(), key=lambda r: r.cid)
    cids = np.asarray([int(r.cid) for r in crows], dtype="int64")
    C = np.stack([np.asarray(r.cv, dtype="float64") for r in crows])
    Cn = _nrows(C)

    queries = embeddings.filter(F.col("vec_id") < n_queries)
    probes: dict[int, set[int]] = {}
    for r in ivf_assign(queries, cents, nprobe=nprobe).collect():
        probes.setdefault(int(r.vec_id), set()).add(int(r.cid))

    dim, subdim, books = _pq_codebooks(embeddings, m, ksub)

    qrows = sorted(
        queries.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id
    )
    qids = np.array([r.vec_id for r in qrows])
    Q = _nrows(np.stack([np.asarray(r.embedding, dtype="float64") for r in qrows]))
    QS = Q.reshape(len(Q), m, subdim)
    adc = [QS[:, s, :] @ books[s][1].T for s in range(m)]
    probe_sets = [probes.get(int(q), set()) for q in qids]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vid = pdf["vec_id"].to_numpy()
            E = _nrows(np.stack(pdf["embedding"].to_numpy()).astype("float64"))
            # coarse list per vector: stable argsort keeps lowest cid on
            # ties — identical to ivf_assign / the oracle's ORDER BY
            coarse = cids[
                np.argsort(-(E @ Cn.T), axis=1, kind="stable")[:, 0]
            ]
            S = E.reshape(len(E), m, subdim)
            total = np.zeros((len(qids), len(E)))
            for s in range(m):
                d2 = ((S[:, s, None, :] - books[s][1][None, :, :]) ** 2).sum(-1)
                code = d2.argmin(1)
                total += adc[s][:, code]  # ascending s: the oracle sum order
            qcol, mcol, scol = [], [], []
            for qi in range(len(qids)):
                in_probe = np.isin(coarse, list(probe_sets[qi]))
                mask = in_probe & (vid != qids[qi])
                cand_v, cand_s = vid[mask], total[qi][mask]
                order = np.lexsort((cand_v, -cand_s))[:k]
                qcol += [int(qids[qi])] * len(order)
                mcol += [int(x) for x in cand_v[order]]
                scol += [float(x) for x in cand_s[order]]
            if qcol:
                yield pd.DataFrame(
                    {"query_id": qcol, "match_id": mcol, "score_pq": scol}
                )

    cand = embeddings.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, match_id long, score_pq double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_pq"), "match_id")
    return (
        cand.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select(
            "query_id", "match_id", F.round("score_pq", 6).alias("score_pq"), "rn"
        )
    )


def emb_pca(embeddings: DataFrame, n_components: int = 2, iters: int = 8) -> DataFrame:
    """Distributed PCA projection of the embedding column — the dimension-
    reduction step a curation pipeline runs before clustering / visualizing
    / cheap-ANN-ing a corpus.

    Scale shape: ONE map-only pass computes per-partition moment partials
    (count, sum-vector, d×d raw second-moment matrix) — d²+d+1 floats per
    partition to the driver, never a shuffle of the corpus; the driver
    assembles the covariance C = E[xxᵀ] − μμᵀ and runs ``iters`` power-
    iteration steps per component (64×64 numpy, microseconds), deflating
    between components. The projection back over the corpus is a map-only
    JVM dot product against literal component vectors: pc = x·w − μ·w.

    Deterministic construction (fixed e₁ init, fixed iteration count,
    deflation by the iterated λ) mirrored symbolically in the DuckDB
    oracle, so the projections are exact-value-checked like the other
    approximate ops.
    """
    emb_only = embeddings.select("embedding")

    def partials(batches):
        n = 0
        s = None
        S = None
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            if s is None:
                s = np.zeros(E.shape[1])
                S = np.zeros((E.shape[1], E.shape[1]))
            n += len(E)
            s += E.sum(0)
            S += E.T @ E
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "s": [list(s)],
                    "m": [list(S.reshape(-1))],
                }
            )

    rows = emb_only.mapInPandas(
        partials, "n long, s array<double>, m array<double>"
    ).collect()
    n = sum(r.n for r in rows)
    d = len(rows[0].s)
    s = np.zeros(d)
    M = np.zeros((d, d))
    for r in rows:
        s += np.asarray(r.s)
        M += np.asarray(r.m).reshape(d, d)
    mu = s / n
    C = M / n - np.outer(mu, mu)

    comps = []
    Cw = C.copy()
    for _ in range(n_components):
        v = np.zeros(d)
        v[0] = 1.0
        for _ in range(iters):
            v = Cw @ v
            v = v / np.sqrt((v * v).sum())
        lam = float(v @ Cw @ v)
        comps.append(v)
        Cw = Cw - lam * np.outer(v, v)

    cols = [F.col("vec_id")]
    for ci, v in enumerate(comps, start=1):
        w_lit = F.array(*[F.lit(float(x)) for x in v])
        shift = float(mu @ v)
        cols.append(
            F.round(
                _dot(_vec_d("embedding"), w_lit) - F.lit(shift), 4
            ).alias(f"pc{ci}")
        )
    return embeddings.select(*cols)


def emb_cluster(embeddings: DataFrame, tau: float = 0.45) -> DataFrame:
    """Embedding-space near-duplicate clustering: connected components over
    the exact cosine pair graph (`emb_near_dup`), canonical vector = min
    vec_id per component — the semantic-dedup counterpart of the text-side
    `dedup_cluster`, sharing its Pregel core (`dedup.connected_components`).

    Default tau is a notch above `emb_near_dup`'s pair threshold: at 0.40
    the synthetic corpus's pair graph turns into ~100-deep chains of
    barely-similar vectors (12 propagation rounds — transitive chaining of
    near-threshold cosines is the classic semantic-dedup over-merge), while
    0.45 keeps genuinely-near components with ~half the rounds.
    """
    from kdb_spark.llm.dedup import connected_components

    pairs = emb_near_dup(embeddings, tau).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return connected_components(
        pairs, embeddings.select("vec_id")
    ).select(F.col("doc_id").alias("vec_id"), "canonical_id")


def emb_outliers(embeddings: DataFrame, dim: int = 64, z_thresh: float = 2.0) -> DataFrame:
    """Embedding-space outlier detection: distance of every vector to the
    corpus centroid, z-scored against the distance distribution — the
    curation gate that catches mis-embedded / off-distribution documents
    before they pollute a training mix (complements the text-side
    quality_score/text_repetition filters).

    Three scan-bound passes, no shuffle: (1) one aggregate for the d
    centroid means, (2) one aggregate for the distance moments, (3) a
    map-only scoring scan — each aggregate is map-side-combined JVM code
    and only d (resp. 3) doubles reach the broadcast, never data. The
    un-squared mean distance can't be recovered from raw moments, so the
    second pass is irreducible; at 100 TB three scans still beat
    persisting the corpus (same trade the kernel zscore makes).
    Distances use the engine's sequential-fold dot discipline (module
    header): identical IEEE order both engines, round(4) ends the contract.

    Both global aggregates follow the exact-moments convention (`_qmean`):
    centroid means from decimal sums on the 2^-24 grid, and the z-score's
    mean/stddev from exact integer moments of the µ-unit-quantized distance
    — so the result is invariant to partitioning (F.avg/stddev_samp partial
    merges are partition-order-sensitive; tested in
    tests/test_parallelism_invariance.py). The 1e-6 grid is part of the
    contract: a corpus whose entire distance spread is below 1µ-unit
    (every dq identical — degenerate near-duplicate input) is treated as
    zero variance and yields null z / null is_outlier via the var>0
    guard, rather than the exploding z-scores a raw stddev near 0 would
    produce.
    """
    v = embeddings.select(
        "vec_id", _vec_d("embedding").alias("v")
    )
    nn = F.count(F.lit(1)).cast("double")
    cent = v.agg(
        F.array(*[_qmean(F.col("v")[i], nn) for i in range(dim)]).alias("c")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
    )
    scored = v.crossJoin(F.broadcast(cent)).select("vec_id", dist.alias("dist"))
    # distance moments on the exact 1e-6 grid: dq ≈ 1e7 max, dq² ≤ 1e14 —
    # exact in double per row, exact in decimal(38,0) across any row count
    dq = F.round(F.col("dist") * F.lit(1e6))
    stats = scored.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dq.cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((dq * dq).cast("decimal(38,0)")).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    mu_q = s1 / n
    var_q = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    sd_q = F.when((n > 1.0) & (var_q > 0.0), F.sqrt(var_q))
    z = (dq - mu_q) / sd_q  # quantized-domain z: the 1e6 scale cancels
    return scored.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.round("dist", 4).alias("dist"),
        F.round(z, 4).alias("z"),
        (z > z_thresh).alias("is_outlier"),
    )


def ivf_index_search(
    embeddings: DataFrame,
    index_path: str,
    n_queries: int = 5,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF as a PERSISTED index: the corpus is written ONCE partitioned by
    inverted-list id, and a search reads only the ``nprobe`` probed lists —
    the layout-as-index move (SCALE.md) applied to ANN. Where
    `ivf_search_topk` holds assignments in memory for one query batch, this
    is the deployment shape: pay one assignment scan + clustered write,
    then every future query batch scans nprobe/n_clusters of the BYTES ON
    DISK (directory-level partition pruning, asserted in tests — not a
    post-scan filter).

    The probed list ids are collected driver-side to form the pruning
    predicate — n_queries·nprobe ints, query-side metadata, never corpus
    data (the documented scale-safe collect shape). Centroids, assignment,
    scoring, and tie rules are byte-identical to `ivf_search_topk`, so the
    search result — and therefore its DuckDB oracle — is exactly the same.
    """
    spark = embeddings.sparkSession
    cents = ivf_centroids(embeddings, n_clusters)
    corpus = ivf_assign(with_norm(embeddings), cents, nprobe=1)
    corpus.write.mode("overwrite").partitionBy("cid").parquet(index_path)

    queries = ivf_assign(
        with_norm(embeddings.filter(F.col("vec_id") < n_queries)), cents, nprobe=nprobe
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "cid",
    )
    probed = sorted({int(r.cid) for r in queries.select("cid").distinct().collect()})
    index = spark.read.parquet(index_path).filter(F.col("cid").isin(probed))
    scored = (
        index.join(F.broadcast(queries), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            _dot(_vec_d("q_emb"), _vec_d("embedding")) / (F.col("q_nrm") * F.col("nrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("vec_id").alias("match_id"),
                F.round("cos", 6).alias("cos"), "rn")
    )


def emb_mmr_rerank(
    embeddings: DataFrame,
    n_queries: int = 5,
    m: int = 10,
    k_sel: int = 3,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance rerank — the diversity pass a retrieval
    stack runs AFTER top-k: greedily pick results that are relevant to the
    query but dissimilar to what's already picked
    (score = λ·rel − (1−λ)·max_sim_to_selected), killing the
    near-duplicate result lists raw cosine top-k produces.

    Two-phase plan: the exact top-m shortlist per query (one corpus scan,
    broadcast queries — same shape as sim_search_topk), then everything
    downstream operates on n_queries·m rows: one bounded self-join for
    candidate-pair sims and ``k_sel`` unrolled greedy rounds (window argmax
    + anti-join), all inside one Catalyst plan. The greedy loop is
    DATA-bounded, not corpus-bounded — at 100 TB only the shortlist stage
    touches the corpus. Round 1's uniform formula (λ·rel − (1−λ)·0) picks
    the same argmax as pure relevance, so no special case. All doubles
    derive from the engine's sequential-fold dot — identical cross-engine,
    ties by vec_id.
    """
    q = with_norm(embeddings.filter(F.col("vec_id") < n_queries)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = with_norm(embeddings).select("vec_id", "embedding", "nrm")
    wm = Window.partitionBy("query_id").orderBy(F.desc("rel"), "vec_id")
    cand = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "rel",
            _dot(_vec_d("q_emb"), _vec_d("embedding")) / (F.col("q_nrm") * F.col("nrm")),
        )
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= m)
        .select("query_id", "vec_id", "embedding", "nrm", "rel")
    )
    # the shortlist feeds the pair self-join plus every greedy round —
    # persist its n_queries·m rows or the corpus scan re-executes per ref
    from kdb_spark.llm.dedup import _reused

    cand = _reused("mmr_cand", cand)
    a = cand.select(
        "query_id", F.col("vec_id").alias("a"),
        F.col("embedding").alias("ea"), F.col("nrm").alias("na"),
    )
    b = cand.select(
        "query_id", F.col("vec_id").alias("b"),
        F.col("embedding").alias("eb"), F.col("nrm").alias("nb"),
    )
    # r16: every per-round join side below is bounded by n_queries*m (or
    # n_queries*k_sel) rows — broadcast them explicitly so the unrolled
    # rounds plan as BroadcastHashJoins instead of 10 sort-merge joins
    # (each SMJ = 2 exchanges + sorts of ~50-row tables, pure scheduling
    # overhead; guide §3.1 — estimates are wrong after windows/unions, so
    # the planner missed these on its own).
    pair = (
        a.join(F.broadcast(b), "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id", "a", "b",
            (_dot(_vec_d("ea"), _vec_d("eb")) / (F.col("na") * F.col("nb"))).alias("sim"),
        )
    )
    remaining = cand.select("query_id", "vec_id", "rel")
    sel = cand.select("query_id", F.col("vec_id").alias("b")).limit(0)
    picks = []
    wp = Window.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
    for rnd in range(1, k_sel + 1):
        max_prev = (
            pair.join(F.broadcast(sel), ["query_id", "b"])
            .groupBy("query_id", F.col("a").alias("vec_id"))
            .agg(F.max("sim").alias("mp"))
        )
        scored = remaining.join(
            F.broadcast(max_prev), ["query_id", "vec_id"], "left"
        ).select(
            "query_id", "vec_id", "rel",
            (F.lit(lam) * F.col("rel")
             - F.lit(1.0 - lam) * F.coalesce(F.col("mp"), F.lit(0.0))).alias("score"),
        )
        pick = (
            scored.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") == 1)
            .select("query_id", "vec_id", "rel", "score", F.lit(rnd).alias("round"))
        )
        picks.append(pick)
        sel = sel.unionByName(pick.select("query_id", F.col("vec_id").alias("b")))
        remaining = remaining.join(
            F.broadcast(pick.select("query_id", "vec_id")),
            ["query_id", "vec_id"],
            "left_anti",
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        "query_id",
        F.col("vec_id").alias("match_id"),
        F.col("round").cast("long").alias("round"),
        F.round("rel", 6).alias("rel"),
        F.round("score", 6).alias("mmr"),
    )


def emb_centroid_classify(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """Nearest-centroid classification with a confusion-matrix rollup — the
    cheapest embedding-quality eval a curation pipeline runs: if per-label
    centroids can't separate the labels, the embeddings (or labels) are
    suspect before any model sees them.

    Train = one aggregate for the per-label per-dim means (labels are a
    bounded key; d·|labels| doubles total); classify = broadcast the
    centroid table and score every vector against all centroids by cosine
    in ONE map-only pass (explode over the broadcast row — |labels| rows
    per vector, never a corpus shuffle); rollup = the bounded
    (true, predicted) confusion matrix. Ties break to the lowest label.
    Distances use the module's sequential-fold dot — identical doubles
    cross-engine, so even the argmax replays exactly. Centroid means come
    from `_qmean` exact decimal sums (not F.avg, whose partial-merge order
    varies with partitioning and can flip a near-tie argmax — tested in
    tests/test_parallelism_invariance.py).
    """
    v = embeddings.select(
        "vec_id", F.col("label").cast("long").alias("label"),
        _vec_d("embedding").alias("v"),
    )
    nn = F.count(F.lit(1)).cast("double")
    cents = v.groupBy("label").agg(
        F.array(*[_qmean(F.col("v")[i], nn) for i in range(dim)]).alias("cv")
    ).select(
        F.col("label").alias("clabel"), "cv",
        _norm(F.col("cv")).alias("cnrm"),
    )
    # argmax as an aggregate, not a window: max(struct(cos, -clabel)) picks
    # highest cos then LOWEST clabel (the window's tiebreak), and the
    # map-side partial absorbs the |labels| fanout before the shuffle —
    # the n·|labels| scored table never crosses an Exchange (r16; the
    # row_number window shuffled+sorted all of it on vec_id). Struct max
    # plans as SortAggregate (not hash), but the sort is map-side over the
    # join product and only n rows reach the Exchange. max is
    # order-independent, so the partition-invariance contract holds.
    #
    # Two r16 rewrites of this tail were MEASURED AND REJECTED (isolated
    # sf0.1 A/B, warm medians): (a) map-only array_max(transform(...)) over
    # a collected-to-one-row centroid array — 1.9–2.4 s vs 1.6–1.9 s here:
    # higher-order lambdas never enter whole-stage codegen, so the per-row
    # interpreted fold costs more than this shape's map-side sort at any
    # |labels| that broadcasts; (b) collecting the bounded centroids and
    # inlining each cos as an 800-node literal expression with
    # greatest(struct…) — 7–8 s: the tree exceeds the codegen method
    # budget and the whole projection falls back to interpreted eval.
    # This aggregate form stays the fastest measured AND shuffles only n
    # rows; both rejects are recorded in OPTIMIZATION_r16.md.
    scored = (
        v.withColumn("nrm", _norm(F.col("v")))
        .join(F.broadcast(cents))
        .withColumn("cos", _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")))
    )
    best = scored.groupBy("vec_id", "label").agg(
        F.max(F.struct(F.col("cos"), (-F.col("clabel")).alias("negl"))).alias("b")
    )
    return (
        best.groupBy(
            F.col("label").alias("true_label"),
            (-F.col("b.negl")).alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def emb_dim_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension embedding diagnostics (the drift/collapse monitor a
    100 TB embedding pipeline runs before training): n, mean, std, min,
    max for each of the d coordinates.

    posexplode fans each row into d (pos, value) pairs, then ONE
    partial+final hash agg on pos — the shuffle carries |d| rows per map
    task (map-side combine), never the n·d explosion. Mean/std derive
    from exact micro-unit integer sums (round(v·1e6) — float32 inputs are
    exact in double, the scaled sums are order-independent bigints), so
    the moments are bit-identical at any parallelism; min/max are exact
    picks of stored values.
    """
    v6 = F.round(F.col("v") * F.lit(1.0e6)).cast("long")
    flat = embeddings.select(
        F.posexplode("embedding").alias("pos", "v")
    ).select(F.col("pos").cast("long").alias("pos"), "v", v6.alias("v6"))
    g = flat.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v6").cast("long").alias("s1"),
        F.sum(
            F.col("v6").cast("decimal(19,0)") * F.col("v6").cast("decimal(19,0)")
        ).alias("s2"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    # mean = s1/n (micro-units) rounded 6 dp IN INTEGER SPACE, sign-aware
    # half-away-from-zero — a double round() on this exact integer ratio
    # is the cross-engine half-boundary trap agg_seasonality documents;
    # std keeps the double sqrt (irrational — never lands on a boundary)
    mean_e6 = F.expr(
        "(CASE WHEN s1 < 0 THEN -1 ELSE 1 END) * "
        + floor_div_sql(
            "2 * abs(CAST(s1 AS DECIMAL(38,0))) + CAST(n AS DECIMAL(38,0))",
            "2 * CAST(n AS DECIMAL(38,0))",
        )
    )
    nd = F.col("n").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    var = s2d / nd - (s1d / nd) * (s1d / nd)
    return g.select(
        "pos",
        "n",
        (mean_e6.cast("double") / F.lit(1.0e6)).alias("mean"),
        F.round(
            F.sqrt(F.greatest(var, F.lit(0.0))) / F.lit(1.0e6), 6
        ).alias("std"),
        "lo",
        "hi",
    ).orderBy("pos")


def emb_quantize_sq8(embeddings: DataFrame) -> DataFrame:
    """Per-vector int8 scalar quantization (the SQ8 storage codec every
    vector store ships — 4x smaller than float32): min/max-scaled 0..255
    codes plus the reconstruction-error report that decides whether SQ8
    is safe for a corpus.

    Entirely map-side — array_min/max picks, a transform lambda for the
    codes, and two sequential per-row folds (code checksum in exact
    integers; squared-error in doubles, left-to-right so both engines
    fold in list order). No shuffle at all: at 100 TB this runs at scan
    speed and the output partitioning inherits the input's. Lambdas are
    cast to double before arithmetic so float promotion rules can't
    diverge across engines.

    Parity hardening (r10): every quantization/rounding step is
    floor(x·grid + 0.5) — exact given identical doubles, which the
    deterministic op order guarantees — never round(double, k) (Spark
    HALF_UPs the shortest decimal string, DuckDB C-rounds the binary
    double; the exact local gate caught mse flipping a 1e-10 boundary).
    """
    lo = F.array_min("embedding").cast("double")
    hi = F.array_max("embedding").cast("double")
    rng = hi - lo
    codes = F.transform(
        "embedding",
        lambda x: F.when(
            rng > 0,
            F.floor(
                (x.cast("double") - lo) / rng * F.lit(255.0) + F.lit(0.5)
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )
    q = embeddings.select(
        "vec_id", F.col("embedding").alias("emb"), codes.alias("codes"),
        lo.alias("lo"), hi.alias("hi"), rng.alias("rng"),
    )
    dequant_err = F.zip_with(
        "emb",
        "codes",
        lambda v, c: v.cast("double")
        - (
            F.col("lo")
            + c.cast("double") * F.col("rng") / F.lit(255.0)
        ),
    )
    d = F.size("emb").cast("double")
    sse = F.aggregate(
        dequant_err, F.lit(0.0), lambda acc, e: acc + e * e
    )
    code_sum = F.aggregate(
        "codes", F.lit(0).cast("long"), lambda acc, c: acc + c.cast("long")
    )
    # TWO selects, deliberately: putting `....alias("lo")` in the same
    # select list as the mse expression makes Spark's LATERAL COLUMN ALIAS
    # resolution bind the mse lambda's F.col("lo") to the freshly rounded
    # alias instead of q's raw column — the reconstruction error was being
    # measured against the 1e-6-rounded lo (caught by the r10 exact gate;
    # the old 1e-9-tolerant checker hid it). Stage 1 computes everything
    # from RAW lo/rng; stage 2 only rounds the reported bounds.
    t = q.select(
        "vec_id",
        "lo",
        "hi",
        code_sum.alias("code_sum"),
        (F.floor(sse / d * F.lit(1e10) + F.lit(0.5)).cast("double")
         / F.lit(1e10)).alias("mse"),
    )
    return t.select(
        "vec_id",
        (F.floor(F.col("lo") * F.lit(1e6) + F.lit(0.5)).cast("double")
         / F.lit(1e6)).alias("lo"),
        (F.floor(F.col("hi") * F.lit(1e6) + F.lit(0.5)).cast("double")
         / F.lit(1e6)).alias("hi"),
        "code_sum",
        "mse",
    )


def emb_hamming_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 5) -> DataFrame:
    """Binary-hash similarity search (the 32×-compression end of the
    quantization ladder after SQ8/PQ): each vector binarizes to 64 sign
    bits against the PER-DIMENSION corpus mean, packed into two 32-bit
    words, and neighbors rank by exact integer Hamming distance.

    Every decision is integer-exact: the sign test is v6·n > Σv6 (both
    bigints — no float mean ever materializes, so a coordinate exactly
    at the mean can't flip across engines), distances are
    popcount(xor) sums, and the top-k orders by (distance, vec_id). The
    signature build is one posexplode + per-dim agg (d rows broadcast
    back) + one bit_or rollup per vector; the search scans |corpus|
    two-word signatures per query — at 100 TB the signature table is
    ~16 bytes/vector, the whole point of binary hashing. Ranking is
    window row_number ≤ k per query (TakeOrdered-shaped, no global sort).
    """
    v6 = F.round(F.col("v") * F.lit(1.0e6)).cast("long")
    flat = embeddings.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", v6.alias("v6"))
    dims = flat.groupBy("pos").agg(
        F.sum("v6").alias("s1"), F.count(F.lit(1)).alias("n")
    )
    bits = flat.join(F.broadcast(dims), "pos").select(
        "vec_id",
        "pos",
        # the v6·n product is taken in decimal, not long: at corpus scale
        # the long multiply would wrap (the oracle widens to int128)
        (
            F.col("v6").cast("decimal(19,0)") * F.col("n").cast("decimal(19,0)")
            > F.col("s1").cast("decimal(38,0)")
        ).cast("int").alias("bit"),
    )
    word = F.when(
        F.col("pos") < 32, F.expr("shiftleft(CAST(bit AS BIGINT), CAST(pos AS INT))")
    ).otherwise(F.lit(0))
    word_hi = F.when(
        F.col("pos") >= 32,
        F.expr("shiftleft(CAST(bit AS BIGINT), CAST(pos - 32 AS INT))"),
    ).otherwise(F.lit(0))
    sigs = bits.groupBy("vec_id").agg(
        F.bit_or(word).alias("sig_lo"), F.bit_or(word_hi).alias("sig_hi")
    )
    queries = sigs.orderBy("vec_id").limit(n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
    )
    dist = F.bit_count(
        F.col("sig_lo").bitwiseXOR(F.col("q_lo"))
    ) + F.bit_count(F.col("sig_hi").bitwiseXOR(F.col("q_hi")))
    scored = (
        sigs.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", dist.cast("int").alias("hamming"))
    )
    w = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "vec_id", "hamming", F.col("rk").cast("int").alias("rk"))
    )


def emb_matryoshka_report(embeddings: DataFrame, k: int = 16) -> DataFrame:
    """Matryoshka (MRL) truncation report: if vectors were cut to their
    first ``k`` dimensions, how much does each keep? energy_kept =
    Σ_{i<k} v_i² / Σ v_i², and the cosine between the full vector and its
    zero-padded truncation is exactly sqrt of that ratio — the number
    that decides whether a prefix-truncated index is safe to serve.

    Engine-exact arithmetic: components quantize to micro-units
    (round(v·1e6) — the emb_dim_stats device; float32 inputs are exact in
    double), both energies are exact bigint folds, energy_kept is an
    integer-rounded exact ratio, and cos_kept = sqrt(exact ratio) on the
    floor grid (IEEE sqrt is correctly rounded on both engines). Entirely
    map-side: no shuffle, scan-speed at any corpus size, like the other
    per-vector codecs.
    """
    v6 = lambda x: F.round(x.cast("double") * F.lit(1.0e6)).cast("long")  # noqa: E731
    s_all = F.aggregate(
        "embedding", F.lit(0).cast("long"), lambda a, x: a + v6(x) * v6(x)
    )
    s_k = F.aggregate(
        F.slice("embedding", 1, k),
        F.lit(0).cast("long"),
        lambda a, x: a + v6(x) * v6(x),
    )
    t = embeddings.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim_full"),
        s_k.alias("sk"),
        s_all.alias("sa"),
    )
    return t.select(
        "vec_id",
        "dim_full",
        F.lit(k).cast("long").alias("k"),
        F.when(
            F.col("sa") > 0,
            F.expr(
                floor_div_sql(
                    "2000000 * CAST(sk AS DECIMAL(38,0))"
                    " + CAST(sa AS DECIMAL(38,0))",
                    "2 * CAST(sa AS DECIMAL(38,0))",
                )
            ).cast("double")
            / F.lit(1e6),
        ).alias("energy_kept"),
        F.when(
            F.col("sa") > 0,
            F.floor(
                F.sqrt(F.col("sk").cast("double") / F.col("sa").cast("double"))
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("double")
            / F.lit(1e6),
        ).alias("cos_kept"),
    )


def emb_recall_eval(embeddings: DataFrame) -> DataFrame:
    """Recall@k of the LSH ANN path against the exact brute-force
    baseline, per query — the evaluation loop every vector-index rollout
    gates on (the test-suite recall floors pin a minimum; this op makes
    the measurement itself a first-class, oracle-checked query).

    EXACT cross-engine: both rankings are deterministic (sign-LSH
    bucketing and brute-force scoring share the md5-seeded hyperplanes /
    exact tie orders their own oracles pin), so the hit count is an
    exact integer join-count and recall rides the unsigned device at
    6 dp. Queries whose ANN candidate set came back empty still emit a
    row (recall 0) via the left join from the brute side.

    Scale shape: two dimension-sized top-k tables (n_queries·k rows
    each) joined on (query, match) — trivially broadcastable; all heavy
    lifting happens inside the two parent operators, whose scale
    postures are documented on them.
    """
    from kdb_spark.analytics.exact import iround_col

    brute = sim_search_topk(embeddings).select("query_id", "match_id")
    ann = ann_search_topk(embeddings).select(
        "query_id", "match_id", F.lit(1).alias("hit")
    )
    # both sides are n_queries·k by construction — pin the broadcast so
    # the planner (blind to post-operator sizes) can't fall back to a
    # sort-merge join of two shortlist tables (r16: the static plan showed
    # exactly that SMJ; AQE usually rescued it at runtime, but the pin
    # costs nothing and holds at any corpus scale because the shortlists
    # are parameter-bounded, not data-bounded)
    j = brute.join(F.broadcast(ann), ["query_id", "match_id"], "left")
    g = j.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
    )
    return g.select(
        "query_id",
        "k",
        "n_hit",
        iround_col("n_hit", "CAST(k AS DECIMAL(38,0))", 6, signed=False).alias(
            "recall"
        ),
    )


def emb_label_drift(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding drift: split each label's vectors into two
    deterministic halves (even vs odd vec_id — the stand-in for
    train-time vs serve-time batches) and report the L2 distance between
    the halves' centroids — the representation-drift monitor an
    embedding pipeline runs per class before trusting a refreshed
    encoder (emb_dim_stats watches single coordinates corpus-wide; this
    watches whole-class centroids move).

    EXACT cross-engine: per (label, parity, dim) the coordinate sums are
    exact micro-unit bigints (round(v·1e6) — float32 inputs exact in
    double, order-independent integer folds), each side's centroid
    coordinate is the sign-aware integer-rounded mean in micro-units,
    the squared gap sums in decimal(38,0), and the single sqrt + /1e6 at
    the end is the same IEEE double op on both engines. Labels missing a
    parity surface null drift (n counts expose why).

    Scale shape: posexplode fans to (label, parity, dim) — ONE hash agg
    with map-side combine (shuffle rows = |labels|·2·d, never n·d), a
    second ≤|labels|·d agg for the gap fold, then a ≤|labels| reduce.
    """
    from kdb_spark.analytics.exact import iround_grid_sql

    v6 = F.round(F.col("v") * F.lit(1.0e6)).cast("long")
    flat = embeddings.select(
        "label",
        (F.col("vec_id") % 2 == 0).cast("int").alias("even"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select("label", "even", "pos", v6.alias("v6"))
    g = flat.groupBy("label", "even", "pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v6").cast("decimal(38,0)")).alias("s"),
    )
    m = g.select(
        "label",
        "even",
        "pos",
        "n",
        F.expr(iround_grid_sql("s", "CAST(n AS DECIMAL(38,0))", 0, signed=True))
        .alias("m6"),
    )
    sides = m.groupBy("label", "pos").agg(
        F.sum(F.when(F.col("even") == 1, F.col("n"))).alias("n_even"),
        F.sum(F.when(F.col("even") == 0, F.col("n"))).alias("n_odd"),
        F.max(F.when(F.col("even") == 1, F.col("m6"))).alias("me"),
        F.max(F.when(F.col("even") == 0, F.col("m6"))).alias("mo"),
    )
    per_label = sides.groupBy("label").agg(
        F.min("n_even").cast("long").alias("n_even"),
        F.min("n_odd").cast("long").alias("n_odd"),
        F.sum(
            (F.col("me") - F.col("mo")) * (F.col("me") - F.col("mo"))
        ).alias("ss"),
        F.count(F.lit(1)).cast("long").alias("d"),
    )
    return per_label.select(
        F.col("label").cast("long").alias("label"),
        "n_even",
        "n_odd",
        "d",
        F.when(
            (F.col("n_even") > 0) & (F.col("n_odd") > 0),
            F.round(F.sqrt(F.col("ss").cast("double")) / F.lit(1e6), 6),
        ).alias("centroid_l2_drift"),
    )


def emb_label_spread(embeddings: DataFrame) -> DataFrame:
    """Within-label scatter per class: the trace of the per-label
    covariance (Σ over dims of population variance) and its RMS radius —
    the representation-collapse detector (a label whose spread → 0 has
    collapsed to a point; one whose spread explodes has fractured), the
    compactness complement to `emb_label_drift`'s between-half centroid
    motion.

    EXACT cross-engine: per (label, dim) the micro-unit sums s1/s2 are
    exact integer folds (v6² in decimal — the emb_dim_stats discipline);
    the per-dim population variance numerator n·s2 − s1² is an exact
    decimal, summed over dims EXACTLY, and divided ONCE by n² through the
    unsigned device at the 1e-12 grid (micro-units squared); rms =
    sqrt(trace) is one IEEE double op, round(6).

    Scale shape: posexplode → ONE hash agg to |labels|·d rows (map-side
    combine), a ≤|labels| reduce — never an n·d shuffle.
    """
    from kdb_spark.analytics.exact import floor_div_sql

    v6 = F.round(F.col("v") * F.lit(1.0e6)).cast("long")
    flat = embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", "pos", v6.alias("v6"))
    g = flat.groupBy("label", "pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v6").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            F.col("v6").cast("decimal(19,0)") * F.col("v6").cast("decimal(19,0)")
        ).alias("s2"),
    )
    per_label = g.groupBy("label").agg(
        F.min("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum(
            F.col("n").cast("decimal(38,0)") * F.col("s2") - F.col("s1") * F.col("s1")
        ).alias("num"),
    )
    # trace in value units²: num/(n²·10¹²), device-rounded at 12 dp in
    # integer space, one exact cast to double
    tr = F.expr(
        floor_div_sql(
            "2 * CAST(num AS DECIMAL(38,0))"
            " + CAST(n AS DECIMAL(38,0)) * n",
            "2 * CAST(n AS DECIMAL(38,0)) * n",
        )
    )
    out = per_label.select(
        F.col("label").cast("long").alias("label"),
        "n",
        "d",
        F.when(F.col("n") > 0, tr).alias("trace_e12"),
    )
    return out.select(
        "label",
        "n",
        "d",
        (F.col("trace_e12").cast("double") / F.lit(1e12)).alias("trace_var"),
        F.round(
            F.sqrt(F.col("trace_e12").cast("double") / F.lit(1e12)), 6
        ).alias("rms_spread"),
    )


def emb_label_affinity(embeddings: DataFrame) -> DataFrame:
    """Label-affinity matrix: cosine similarity between every pair of
    class centroids — the confusion-risk map (two labels whose centroids
    point the same way are the ones a linear probe will mix up;
    emb_label_drift/spread watch one class over time, this ranks class
    PAIRS against each other).

    EXACT cross-engine: centroid coordinates are the micro-unit
    integer-rounded means (the emb_label_drift device), the dot product
    and both squared norms fold those integers exactly in decimal, and
    cos = dot / sqrt(na2·nb2) is ONE IEEE sqrt of an exact product and
    one divide — identical doubles both engines — rounded 6.

    Scale shape: posexplode → |labels|·d combine; the pair matrix is a
    |labels|²-sized join of a |labels|·d table with itself on dim —
    dimension-bounded, never corpus-sized.
    """
    from kdb_spark.analytics.exact import iround_grid_sql

    v6 = F.round(F.col("v") * F.lit(1.0e6)).cast("long")
    flat = embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", "pos", v6.alias("v6"))
    m = flat.groupBy("label", "pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v6").cast("decimal(38,0)")).alias("s"),
    ).select(
        "label",
        "pos",
        F.expr(iround_grid_sql("s", "CAST(n AS DECIMAL(38,0))", 0, signed=True))
        .alias("m6"),
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = (
        a.join(b, (F.col("a.pos") == F.col("b.pos")) & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(
            F.sum(F.col("a.m6") * F.col("b.m6")).alias("dot"),
            F.sum(F.col("a.m6") * F.col("a.m6")).alias("na2"),
            F.sum(F.col("b.m6") * F.col("b.m6")).alias("nb2"),
        )
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        (F.col("na2") * F.col("nb2")).cast("double")
    )
    return pairs.select(
        F.col("label_a").cast("long").alias("label_a"),
        F.col("label_b").cast("long").alias("label_b"),
        F.when((F.col("na2") > 0) & (F.col("nb2") > 0), F.round(cos, 6)).alias(
            "cosine"
        ),
    )


def emb_hard_negatives(
    embeddings: DataFrame, n_queries: int = 5, k: int = 3
) -> DataFrame:
    """Hard-negative mining: for each query vector, the top-k most
    cosine-similar vectors with a DIFFERENT label — the contrastive-
    training staple (easy negatives teach nothing; the highest-similarity
    wrong-label items are the batch a retrieval/embedding trainer wants;
    `sim_search_topk` is the unconstrained form of the same scan).

    Same exact-baseline plan: query side broadcast, ONE corpus pass, the
    label-mismatch filter applied before ranking, per-query top-k via
    window row_number with the vec_id tiebreak; cosine rounded 6 (same
    doubles both engines — same dot/norm/divide).
    """
    q = with_norm(embeddings.filter(F.col("vec_id") < n_queries)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("label").alias("q_label"),
    )
    c = with_norm(embeddings).select("vec_id", "embedding", "nrm", "label")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .withColumn(
            "cos",
            _dot(_vec_d("q_emb"), _vec_d("embedding"))
            / (F.col("q_nrm") * F.col("nrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("negative_id"),
            F.col("label").cast("long").alias("negative_label"),
            F.round("cos", 6).alias("cos"),
            "rn",
        )
    )


def emb_label_exemplars(embeddings: DataFrame, k: int = 3, dim: int = 64) -> DataFrame:
    """Per-label exemplar mining: the ``k`` vectors closest (cosine) to
    their OWN label's centroid — the canonical examples a labeling-QA or
    few-shot-prompt pipeline pulls per class (emb_centroid_classify asks
    "do centroids separate labels"; this surfaces WHICH rows define each
    label, and emb_hard_negatives its boundary cases).

    Same exactness contract as the classify op: centroids from `_qmean`
    exact decimal sums (partition-order-invariant), the module's
    sequential-fold dot so the doubles — and therefore the rank order —
    replay identically cross-engine; ties break to the lowest vec_id.

    Scale shape: one bounded-key aggregate (|labels|·dim doubles), a
    broadcast join back, and a per-label top-k window over |labels|
    partitions — no corpus shuffle, no pairwise work.
    """
    v = embeddings.select(
        "vec_id", F.col("label").cast("long").alias("label"),
        _vec_d("embedding").alias("v"),
    )
    nn = F.count(F.lit(1)).cast("double")
    cents = v.groupBy("label").agg(
        F.array(*[_qmean(F.col("v")[i], nn) for i in range(dim)]).alias("cv")
    ).select("label", "cv", _norm(F.col("cv")).alias("cnrm"))
    scored = (
        v.withColumn("nrm", _norm(F.col("v")))
        .join(F.broadcast(cents), "label")
        .withColumn(
            "cos", _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "label",
            F.col("rank").cast("long").alias("rank"),
            "vec_id",
            F.round("cos", 6).alias("cos"),
        )
    )


def emb_text_agreement(
    documents: DataFrame, embeddings: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Text/embedding agreement audit: for every exact-Jaccard near-dup
    TEXT pair (the dedup_ngram_jaccard device, jaccard ≥ ``threshold``),
    the embedding cosine of the same ids — the cross-modal consistency
    check a curation pipeline runs on its embedding supplier (texts that
    are near-copies but embed far apart mean the embeddings, the ids, or
    the pipeline are wrong). Ids join on doc_id = vec_id.

    Exactness: jaccard is an int/int division and cosine the module's
    sequential-fold dot — both bit-identical cross-engine; cos surfaces
    through round(6) like every similarity op.

    Scale shape: the pair list is dedup_ngram_jaccard's output (blocked,
    df-capped — linear in shingles, never |docs|²) and is FAR smaller
    than the corpus, so the two embedding joins hash on vec_id without a
    corpus self-join.
    """
    from kdb_spark.llm.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(documents, threshold=threshold)
    e = embeddings.select(
        "vec_id", _vec_d("embedding").alias("v"),
    ).withColumn("nrm", _norm(F.col("v")))
    ea = e.select(
        F.col("vec_id").alias("doc_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    eb = e.select(
        F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    j = pairs.join(ea, "doc_a").join(eb, "doc_b")
    return j.select(
        "doc_a",
        "doc_b",
        F.round("jaccard", 6).alias("jaccard"),
        F.round(
            _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
        ).alias("cos"),
    )


def emb_random_projection(
    embeddings: DataFrame, k: int = 8, grid: int = 1 << 20
) -> DataFrame:
    """Deterministic integer Johnson–Lindenstrauss sketch: project each
    embedding onto ``k`` fixed ±1 sign vectors — the classic random-
    projection compression (Achlioptas signs), done on an exact integer
    grid so the sketch is bit-reproducible and oracle-checkable. This
    completes the repo's compression ladder (sq8 = per-component
    quantization, matryoshka = prefix truncation, hamming = 1-bit signs;
    JL = dimension REDUCTION that preserves pairwise distances within
    1±ε whp) — downstream, candidate generation runs on the k-dim
    sketch and only survivors touch full vectors.

    Determinism device: the sign matrix s[i][j] = +1 iff the first hex
    char of md5("i:j") ≤ '7' — both engines evaluate the SAME md5 string
    (pytest-pinned), so the "random" matrix is a pure function, not RNG
    state. Components land on the integer grid floor(x·2^20 + 0.5)
    first; projections and the norm diagnostics (q·q and p·p, the JL
    distortion evidence: E[‖p‖²] = k·‖q‖²·E[s²] with exact ints) are
    then pure bigint sums.

    Scale shape: MAP-ONLY — the d×k sign matrix is driver-computed
    (hashlib, 512 literals at d=64) and embedded in the plan as column
    literals; every row folds its own array with zip_with + aggregate
    inside whole-stage codegen. No shuffle, no UDF, no state: at 100 TB
    this runs at scan speed. (The one-row schema probe below reads d —
    bounded, like the audited centroid collects.)
    """
    import hashlib

    probe = embeddings.select(F.size("embedding")).limit(1).collect()
    if not probe:
        raise ValueError(
            "emb_random_projection: embeddings table is empty — cannot "
            "probe dimensionality"
        )
    d = probe[0][0]
    # uniform-dim contract: the sign matrix is d×k; a ragged row with a
    # different dim would zip_with-pad to NULL projections silently, so
    # fail loudly instead (one map-side reduction, no extra shuffle)

    def sign(i: int, j: int) -> int:
        return 1 if hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0] <= "7" else -1

    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(float(grid)) + F.lit(0.5)).cast(
            "long"
        ),
    )
    guarded_q = F.when(F.size("embedding") == F.lit(d), q).otherwise(
        F.raise_error(
            F.concat(
                F.lit("emb_random_projection: ragged embedding dim "),
                F.size("embedding").cast("string"),
                F.lit(f" != probed {d}"),
            )
        )
    )
    base = embeddings.select("vec_id", guarded_q.alias("q"))
    projs = [
        F.aggregate(
            F.zip_with(
                "q",
                F.array(*[F.lit(sign(i, j)) for i in range(d)]),
                lambda qi, s: qi * s.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias(f"p{j}")
        for j in range(k)
    ]
    qnorm = F.aggregate(
        "q", F.lit(0).cast("long"), lambda acc, v: acc + v * v
    ).alias("qnorm2")
    wide = base.select("vec_id", qnorm, *projs)
    pnorm = sum(
        (F.col(f"p{j}") * F.col(f"p{j}") for j in range(k)),
        F.lit(0).cast("long"),
    )
    # scalar p0..p{k-1} columns (NOT an array) — the driver's pandas
    # canonicalization cannot hash list cells (r15 harness FAIL)
    return wide.select(
        "vec_id",
        *[F.col(f"p{j}") for j in range(k)],
        "qnorm2",
        pnorm.cast("long").alias("pnorm2"),
    )


def emb_dispersion(embeddings: DataFrame, grid: int = 1 << 20) -> DataFrame:
    """Corpus/label embedding dispersion WITHOUT a pairwise join: the mean
    pairwise dot product over all n(n−1) ordered pairs via the exact
    identity  Σ_{i≠j} qᵢ·qⱼ = ‖Σq‖² − Σ‖q‖²  — per label, the cohesion
    number behind "are this label's vectors collapsing?" (high mean dot =
    tight cluster, near zero = dispersed). `emb_label_spread` measures
    spread AROUND THE CENTROID; this is the pairwise view, and the
    identity is what makes it computable at 100 TB — the naive form is
    an n² self-join, this is ONE aggregate.

    EXACT: components land on the integer grid (the emb_random_projection
    device), the elementwise vector sum S and the norm sum ride
    posexplode → (label, dim) hash agg (map-side partials; |labels|·d
    rows shuffle), ‖S‖² and the final rational go through decimal(38,0)
    and the signed device at 6 dp (scaled by grid² to stay readable).

    Output per label: n and mean_pair_dot (the identity ratio, 6 dp,
    grid²-normalized to raw embedding units). The grid²-scaled norm
    sums stay internal — they exceed int64 for large labels and
    decimal final columns break the cross-engine hash contract.
    """
    from kdb_spark.analytics.exact import iround_col

    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(float(grid)) + F.lit(0.5)).cast(
            "long"
        ),
    )
    base = embeddings.select("label", q.alias("q"))
    norm = base.select(
        "label",
        F.aggregate(
            "q",
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, v: acc + v.cast("decimal(38,0)") * v,
        ).alias("n2"),
    ).groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n2").alias("sum_norm2"),
    )
    dims = base.select("label", F.posexplode("q").alias("pos", "v"))
    svec = (
        dims.groupBy("label", "pos")
        .agg(F.sum("v").cast("decimal(38,0)").alias("s"))
        .groupBy("label")
        .agg(F.sum(F.col("s") * F.col("s")).alias("sumvec_norm2"))
    )
    g = norm.join(svec, "label")
    # mean pairwise dot in RAW units: (‖S‖²−Σ‖q‖²) / (n(n−1)·grid²)
    mean6 = iround_col(
        "(sumvec_norm2 - sum_norm2)",
        f"CAST(n AS DECIMAL(38,0)) * (n - 1) * {grid}L * {grid}L",
        6,
        signed=True,
    )
    # the grid²-scaled norms (≈2^40·Σx²) stay INTERNAL decimals; the
    # output carries only n and the normalized ratio — decimal(38,0)
    # final columns hash differently at the driver (r15 FAIL class) and
    # can genuinely exceed int64 for n ≳ 3k vectors per label
    return g.filter(F.col("n") > 1).select(
        F.col("label").cast("long").alias("label"),
        "n",
        mean6.alias("mean_pair_dot"),
    )


def emb_triplet_eval(embeddings: DataFrame, margin: float = 0.1) -> DataFrame:
    """Triplet-margin evaluation of the embedding space per label: for
    every anchor, a deterministic positive (same label) and negative
    (next label ring) are picked, and the label's violation rate counts
    triplets where cos(a,pos) − cos(a,neg) < ``margin`` — the retrieval
    contract a metric-learning embedding is supposed to satisfy, as a
    label-level scoreboard (`emb_label_affinity` measures centroid
    separation; this measures the INSTANCE-level ranking the training
    loss actually optimizes).

    Deterministic triplet device (no RNG, repartition-stable): pos =
    the anchor's cyclic successor within its label (lead by vec_id,
    wrap to the label's min); neg = the first vec_id after the anchor
    in the NEXT label ring (cyclic over distinct labels; as-of-forward
    pick with wrap to the ring's min). Labels with one vector emit no
    triplets. Violation is a per-row comparison of two fixed
    double chains (the zip_with dot device both engines share) — no
    accumulation across rows ever compares to the margin.

    Scale shape: pos is one per-label window; neg is the union-and-
    carry as-of device (one window over anchors+candidates interleaved
    on the ring key) plus a |labels|-row broadcast fallback — never a
    per-anchor scan; then three id-equi joins to fetch vectors and one
    label rollup. All shuffles key on vec_id/label.
    """
    e = embeddings.select("vec_id", F.col("label").cast("long").alias("label"),
                          _vec_d("embedding").alias("v"))
    labels = e.select("label").distinct()
    wl = Window.orderBy("label")
    wl_all = wl.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ring = labels.select(
        "label",
        F.coalesce(F.lead("label").over(wl), F.first("label").over(wl_all)).alias(
            "target"
        ),
    )
    wp = Window.partitionBy("label").orderBy("vec_id")
    wp_all = wp.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    anchors = (
        e.select("vec_id", "label")
        .withColumn(
            "pos_id",
            F.coalesce(
                F.lead("vec_id").over(wp), F.first("vec_id").over(wp_all)
            ),
        )
        .filter(F.col("pos_id") != F.col("vec_id"))
        .join(F.broadcast(ring), "label")
    )
    # as-of-forward pick of the negative: anchors and candidates
    # interleave on (ring, id); each anchor takes the first candidate id
    # at-or-after its own (ids are globally unique, so ties are impossible
    # and at-or-after IS strictly-after)
    cand = e.select(
        F.col("label").alias("ring"),
        F.col("vec_id").alias("pos_key"),
        F.col("vec_id").alias("cid"),
        F.lit(None).cast("long").alias("vec_id"),
        F.lit(None).cast("long").alias("label"),
        F.lit(None).cast("long").alias("pos_id"),
    )
    anch = anchors.select(
        F.col("target").alias("ring"),
        F.col("vec_id").alias("pos_key"),
        F.lit(None).cast("long").alias("cid"),
        "vec_id",
        "label",
        "pos_id",
    )
    wr = Window.partitionBy("ring").orderBy("pos_key").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    carried = (
        anch.unionByName(cand)
        .withColumn("nxt", F.first("cid", ignorenulls=True).over(wr))
        .filter(F.col("vec_id").isNotNull())
    )
    ring_min = e.groupBy(F.col("label").alias("ring")).agg(
        F.min("vec_id").alias("ring_min")
    )
    trip = (
        carried.join(F.broadcast(ring_min), "ring")
        .select(
            "label",
            "vec_id",
            "pos_id",
            F.coalesce("nxt", "ring_min").alias("neg_id"),
        )
        .filter(F.col("neg_id") != F.col("vec_id"))
    )
    ea = e.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"))
    ep = e.select(F.col("vec_id").alias("p_id"), F.col("v").alias("vp"))
    en = e.select(F.col("vec_id").alias("n_id"), F.col("v").alias("vn"))
    j = (
        trip.join(ea, trip.vec_id == ea.a_id)
        .join(ep, trip.pos_id == ep.p_id)
        .join(en, trip.neg_id == en.n_id)
    )
    cosp = _dot(F.col("va"), F.col("vp")) / (
        _norm(F.col("va")) * _norm(F.col("vp"))
    )
    cosn = _dot(F.col("va"), F.col("vn")) / (
        _norm(F.col("va")) * _norm(F.col("vn"))
    )
    viol = (cosp - cosn < F.lit(margin)).cast("int")
    g = j.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_triplets"),
        F.sum(viol).cast("long").alias("n_violations"),
    )
    from kdb_spark.analytics.exact import iround_col

    rate = iround_col(
        "n_violations", "CAST(n_triplets AS DECIMAL(38,0))", 6, signed=False
    )
    return g.select("label", "n_triplets", "n_violations", rate.alias("viol_rate"))
