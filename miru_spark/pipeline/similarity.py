"""Similarity search over an embedding column (array<float>).

* ``cosine_topk_bruteforce`` — exact top-k by cosine: JVM-side
  ``F.zip_with``/``F.aggregate`` dot product (whole-stage codegen, no
  Python), the correctness baseline; oracle-checked against DuckDB's
  ``list_cosine_similarity``.
* ``build_lsh_index`` / ``ann_lsh_query`` — random-hyperplane LSH with the
  signature table PERSISTED partitioned by bucket prefix: a probe reads only
  the directories whose prefix can contain a bucket within ``max_hamming``
  of the query's, then re-ranks candidates exactly. Queries never scan the
  corpus (round 1 filtered ``bit_count(bucket ^ q)`` over every signature
  row — a full scan per query).
* ``build_ivf_index`` / ``ann_ivf_query`` — IVF: k-means centroids (numpy,
  seeded, trained on a deterministic bounded sample), assignments computed
  ONCE and persisted partitioned by cluster; a probe prunes to the
  ``n_probe`` nearest clusters' directories and re-ranks within (round 1
  re-assigned the whole corpus per query).
* ``ann_lsh_topk`` / ``ann_ivf_topk`` — one-shot wrappers over
  build-then-query (test/driver convenience; real deployments build once).
* ``cosine_near_pairs`` — all pairs >= threshold (brute force at test scale;
  the LSH bucket join is the scale path).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """(vec_id, cos) top-k by cosine to the query vector; ties by vec_id."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = F.round(cosine_col(F.col("embedding"), q), round_digits)
    return (
        embeddings.select("vec_id", cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_topk_filtered(
    embeddings: DataFrame,
    query_vec: list[float],
    label_in: list[int],
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """A87 — filtered kNN (ES ``knn`` with ``filter`` / Lucene
    ``KnnFloatVectorQuery`` with a pre-filter): the metadata predicate is
    applied BEFORE top-k selection, so the result always holds k survivors
    FROM THE FILTERED SET. The contrast that makes pre-filtering the
    correct semantics: post-filtering a global top-k returns however many
    of those k happen to satisfy the predicate — with a 10%-selective
    filter, usually ~k/10 rows and arbitrarily poor recall. Exact
    brute-force: codegen filter (pushes to the parquet scan) -> cosine ->
    TakeOrderedAndProject; the int8 variant below is the compressed-domain
    scale path with the same pre-filter placement."""
    if not label_in:
        raise ValueError("label_in must be non-empty")
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = F.round(cosine_col(F.col("embedding"), q), round_digits)
    return (
        embeddings.filter(F.col("label").isin([int(x) for x in label_in]))
        .select("vec_id", cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def filtered_knn_oracle_sql(
    label_in: list[int], k: int = 10, round_digits: int = 6
) -> str:
    """Twin of :func:`cosine_topk_filtered` (query vector = vec_id 0's
    embedding, resolved inside the SQL)."""
    if not label_in:
        raise ValueError("label_in must be non-empty")
    labels = ", ".join(str(int(x)) for x in label_in)
    return f"""
SELECT vec_id,
       ROUND(list_cosine_similarity(embedding::DOUBLE[],
             (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)),
             {round_digits}) AS cos
FROM embeddings WHERE label IN ({labels})
ORDER BY cos DESC, vec_id ASC LIMIT {k}
""".strip()


def cosine_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.5,
    round_digits: int = 6,
    block: int = 1024,
    within: str | None = None,
) -> DataFrame:
    """All (a < b) pairs with cosine >= threshold — exact, via BLOCK-MATRIX
    multiplication: vectors get block_id = vec_id // block, every
    (block_a <= block_b) pair becomes one pandas group whose full cosine
    matrix is ONE BLAS matmul, and only above-threshold pairs are emitted.

    Same O(n^2) mathematics as the naive cross join (the LSH bucket join is
    the sub-quadratic scale path) but the constant drops ~50x: per-pair
    work is a fused matmul cell instead of a JVM higher-order-function
    expression, and each group is bounded at block^2 doubles (~8 MB)
    regardless of corpus size, so executors never see an unbounded task.

    ``within``: optional column name — pairs are generated only between
    vectors sharing that column's value (block enumeration and the
    block-pair join both carry the key), turning the global n^2 into a
    sum of per-group squares. SemDeDup's within-cluster restriction
    (:func:`semantic_dedup`) rides this.
    """
    return _near_pairs_blocked(embeddings, threshold, round_digits, block, within)


def _near_pairs_blocked(
    embeddings: DataFrame,
    threshold: float,
    round_digits: int,
    block: int,
    within: str | None,
) -> DataFrame:
    spark = embeddings.sparkSession
    wcols = [within] if within else []
    blocks = embeddings.select(
        *wcols, "vec_id", "embedding",
        (F.col("vec_id") / block).cast("long").alias("blk"),
    )
    if within:
        rows = blocks.select(within, "blk").distinct().collect()
        groups: dict = {}
        for r in rows:
            groups.setdefault(r[within], []).append(r["blk"])
        # key type comes from the input schema (not hardcoded int), so any
        # groupable column type works as the restriction key
        wtype = embeddings.schema[within].dataType.simpleString()
        pairs = spark.createDataFrame(
            [
                (w, a, b)
                for w, bl in groups.items()
                for a in sorted(bl)
                for b in sorted(bl)
                if a <= b
            ],
            f"{within} {wtype}, ba long, bb long",
        )
        jl, jr = [within, "ba"], [within, "bb"]
    else:
        bids = sorted(r.blk for r in blocks.select("blk").distinct().collect())
        pairs = spark.createDataFrame(
            [(a, b) for a in bids for b in bids if a <= b], "ba long, bb long"
        )
        jl, jr = ["ba"], ["bb"]
    left = pairs.join(blocks.withColumnRenamed("blk", "ba"), jl).select(
        *wcols, "ba", "bb", F.lit(0).alias("side"), "vec_id", "embedding"
    )
    right = (
        pairs.filter(F.col("ba") != F.col("bb"))
        .join(blocks.withColumnRenamed("blk", "bb"), jr)
        .select(*wcols, "ba", "bb", F.lit(1).alias("side"), "vec_id", "embedding")
    )

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == 0].sort_values("vec_id")
        b = pdf[pdf["side"] == 1].sort_values("vec_id")
        diag = b.empty  # ba == bb: the group holds one copy of the block
        if diag:
            b = a
        ids_a = a["vec_id"].to_numpy()
        ids_b = b["vec_id"].to_numpy()
        A = np.stack(a["embedding"].to_numpy()).astype(np.float64)
        B = np.stack(b["embedding"].to_numpy()).astype(np.float64)
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        cos = np.round((A @ B.T) / np.outer(na, nb), round_digits)
        ii, jj = np.nonzero(cos >= threshold)
        if diag:
            keep = ids_a[ii] < ids_b[jj]
        else:
            keep = np.ones(ii.size, dtype=bool)
        return pd.DataFrame(
            {
                "id_a": ids_a[ii[keep]],
                "id_b": ids_b[jj[keep]],
                "cos": cos[ii[keep], jj[keep]],
            }
        )

    return (
        left.unionByName(right)
        .groupBy(*wcols, "ba", "bb")
        .applyInPandas(emit, "id_a long, id_b long, cos double")
        .orderBy("id_a", "id_b")
    )


def cosine_near_pairs_oracle_sql(threshold: float = 0.5, round_digits: int = 6) -> str:
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
             {round_digits}) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
            {round_digits}) >= {threshold}
ORDER BY id_a, id_b
""".strip()


def embedding_dedup(
    embeddings: DataFrame, threshold: float = 0.4, round_digits: int = 6
) -> DataFrame:
    """Embedding-cosine near-duplicate dedup, keep-min-id: a vector is
    dropped iff some SMALLER-id vector is within cosine >= threshold (the
    greedy representative rule, same keep policy as exact_dedup). This is
    the exact O(n^2) twin; at corpus scale the candidate pairs come from
    the LSH-banding path (``lsh_signature_df`` buckets) feeding the same
    keep rule — banding bounds the pair generation, the rule is unchanged."""
    dup_ids = (
        cosine_near_pairs(embeddings, threshold, round_digits)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        embeddings.join(dup_ids, "vec_id", "left_anti")
        .select("vec_id")
        .orderBy("vec_id")
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.4,
    round_digits: int = 6,
    n_iter: int = 5,
    seed: int = 42,
    block: int = 1024,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    embedding space, then near-duplicate-dedup WITHIN each cluster
    (keep-min-vec_id, the repo's greedy representative rule). The
    within-cluster restriction turns the global O(n^2) pair generation
    into a sum of per-cluster squares — the semantic analogue of LSH
    banding, and the shape that scales: cluster count grows with the
    corpus so per-cluster work stays bounded.

    Plan: seeded Lloyd on a bounded deterministic sample (driver) ->
    broadcast centroid assignment (one Arrow pass) -> per-(cluster,
    block-pair) exact cosine via the blocked matmul -> keep-min-id
    anti-join. With ``n_clusters=1`` the cluster restriction is vacuous
    and the result EQUALS :func:`embedding_dedup` — the identity the
    driver oracle checks; multi-cluster recall vs the exact twin is
    pytest-pinned (near-duplicates nearly always share a cluster; pairs
    split across a centroid boundary are the documented recall loss,
    exactly as in the paper)."""
    cents = kmeans_centroids(
        embeddings, n_clusters, n_iter=n_iter, seed=seed
    )
    assigned = ivf_assign(embeddings, cents)
    dup_ids = (
        _near_pairs_blocked(assigned, threshold, round_digits, block, "cluster")
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        embeddings.join(dup_ids, "vec_id", "left_anti")
        .select("vec_id")
        .orderBy("vec_id")
    )


def embedding_dedup_oracle_sql(
    threshold: float = 0.4, round_digits: int = 6
) -> str:
    return f"""
SELECT vec_id FROM embeddings e
WHERE NOT EXISTS (
  SELECT 1 FROM embeddings o
  WHERE o.vec_id < e.vec_id
    AND ROUND(list_cosine_similarity(o.embedding::DOUBLE[], e.embedding::DOUBLE[]),
              {round_digits}) >= {threshold})
ORDER BY vec_id
""".strip()


# -------------------------------------------------------------------- LSH --

def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).standard_normal((n_bits, dim))


def lsh_signature_df(
    embeddings: DataFrame, dim: int = 64, n_bits: int = 16, seed: int = 42
) -> DataFrame:
    """(vec_id, embedding, bucket) — sign-bit bucket of the random-hyperplane
    projection; vectorized matrix multiply per Arrow batch."""
    H = _hyperplanes(dim, n_bits, seed)

    @F.pandas_udf(T.LongType())
    def bucket_udf(emb: pd.Series) -> pd.Series:
        M = np.stack(emb.to_numpy())
        proj = M @ H.T  # (n, bits)
        bits = (proj > 0).astype(np.uint64)
        weights = np.uint64(1) << np.arange(n_bits, dtype=np.uint64)
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return embeddings.withColumn("bucket", bucket_udf(F.col("embedding")))


LSH_PREF_BITS = 8  # top bits of the bucket used as the partition directory


def _cache_path(prefix: str, embeddings: DataFrame, *params) -> str:
    """Per-process temp path for one-shot build-then-query wrappers, keyed on
    the input's files + parameters so distinct corpora never share an index."""
    import hashlib
    import tempfile

    try:
        ident = "|".join(sorted(embeddings.inputFiles()))
    except Exception:
        ident = ""
    key = hashlib.sha1(
        ("|".join(map(str, params)) + "#" + ident).encode()
    ).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"{prefix}_{os.getpid()}_{key}")


def _query_bucket(query_vec, dim: int, n_bits: int, seed: int) -> int:
    H = _hyperplanes(dim, n_bits, seed)
    qbits = (H @ np.asarray(query_vec, dtype=np.float64) > 0).astype(np.uint64)
    return int((qbits * (np.uint64(1) << np.arange(n_bits, dtype=np.uint64))).sum())


def _buckets_within_hamming(bucket: int, n_bits: int, max_hamming: int) -> list[int]:
    """All bucket values within ``max_hamming`` bit flips (enumeration is
    over bucket IDs, never data: sum of C(n_bits, i) values)."""
    from itertools import combinations

    out = []
    for h in range(max_hamming + 1):
        for pos in combinations(range(n_bits), h):
            b = bucket
            for p in pos:
                b ^= 1 << p
            out.append(b)
    return sorted(set(out))


def build_lsh_index(
    embeddings: DataFrame,
    path: str,
    dim: int = 64,
    n_bits: int = 16,
    seed: int = 42,
) -> None:
    """Persist (vec_id, embedding, bucket) partitioned by the bucket's top
    ``LSH_PREF_BITS`` bits: probes prune to matching directories at plan
    time + a pushed ``bucket`` filter inside them (2^pref_bits directories
    regardless of corpus size — same flat-directory design as the posting
    index's term_pref)."""
    sig = lsh_signature_df(embeddings, dim, n_bits, seed).withColumn(
        "bucket_pref", F.shiftright(F.col("bucket"), n_bits - LSH_PREF_BITS)
    )
    sig.write.mode("overwrite").partitionBy("bucket_pref").parquet(
        f"{path}/vectors"
    )
    with open(f"{path}/lsh.json", "w") as f:
        json.dump({"dim": dim, "n_bits": n_bits, "seed": seed}, f)


def ann_lsh_query(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    max_hamming: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Probe a persisted LSH index: scan ONLY directories that can hold a
    bucket within ``max_hamming`` of the query's, re-rank exactly."""
    with open(f"{path}/lsh.json") as f:
        params = json.load(f)
    n_bits = params["n_bits"]
    qbucket = _query_bucket(query_vec, params["dim"], n_bits, params["seed"])
    cand_buckets = _buckets_within_hamming(qbucket, n_bits, max_hamming)
    prefs = sorted({b >> (n_bits - LSH_PREF_BITS) for b in cand_buckets})
    cand = spark.read.parquet(f"{path}/vectors").filter(
        F.col("bucket_pref").isin(prefs)
    )
    if len(cand_buckets) <= 512:  # small IN list pushes into the parquet scan
        cand = cand.filter(F.col("bucket").isin(cand_buckets))
    else:  # wide radius: popcount filter beats a giant literal list
        cand = cand.filter(
            F.expr(f"bit_count(bucket ^ {qbucket}l)") <= max_hamming
        )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = F.round(cosine_col(F.col("embedding"), q), round_digits)
    return (
        cand.select("vec_id", cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    dim: int = 64,
    n_bits: int = 16,
    seed: int = 42,
    max_hamming: int = 2,
    round_digits: int = 6,
    index_path: str | None = None,
) -> DataFrame:
    """One-shot wrapper: build (or reuse) the persisted LSH index, probe it."""
    spark = embeddings.sparkSession
    path = index_path or _cache_path("miru_lsh", embeddings, dim, n_bits, seed)
    if not os.path.exists(f"{path}/lsh.json"):
        build_lsh_index(embeddings, path, dim, n_bits, seed)
    return ann_lsh_query(spark, path, query_vec, k, max_hamming, round_digits)


# -------------------------------------------------------------------- IVF --

def kmeans_centroids(
    embeddings: DataFrame,
    n_clusters: int = 16,
    n_iter: int = 5,
    seed: int = 42,
    sample_limit: int = 100_000,
    normalize: bool = False,
) -> np.ndarray:
    """Seeded numpy Lloyd iterations on a bounded driver-side sample (at
    10^12 scale the sample, not the corpus, bounds driver memory).

    The sample is the ``sample_limit`` smallest vec_ids — deterministic
    across runs and partition layouts (a bare ``limit`` is not), and Spark
    plans orderBy+limit as TakeOrderedAndProject: per-partition top-K +
    driver merge, no global sort shuffle."""
    X = _sample_vectors(embeddings, sample_limit, normalize)
    return _lloyd(X, n_clusters, n_iter, seed)


def _sample_vectors(
    embeddings: DataFrame, sample_limit: int, normalize: bool
) -> np.ndarray:
    """The deterministic bounded training sample as one ndarray — collected
    ONCE per build; every trainer that needs it takes the array, not the
    DataFrame, so no build pays the TakeOrderedAndProject twice."""
    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample_limit)
        .toPandas()["embedding"]
    )
    X = np.stack(rows.to_numpy()).astype(np.float64)
    if normalize:  # unit-sphere training space (the IVF-PQ cosine setup)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
    return X


def _lloyd(X: np.ndarray, n_clusters: int, n_iter: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    centroids = X[rng.choice(X.shape[0], size=n_clusters, replace=False)]
    for _ in range(n_iter):
        d = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_clusters):
            m = assign == c
            if m.any():
                centroids[c] = X[m].mean(axis=0)
    return centroids


def ivf_assign(embeddings: DataFrame, centroids: np.ndarray) -> DataFrame:
    C = centroids

    @F.pandas_udf(T.IntegerType())
    def assign_udf(emb: pd.Series) -> pd.Series:
        M = np.stack(emb.to_numpy()).astype(np.float64)
        d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return embeddings.withColumn("cluster", assign_udf(F.col("embedding")))


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_clusters: int = 16,
    n_iter: int = 5,
    seed: int = 42,
    sample_limit: int = 100_000,
) -> None:
    """Train centroids once, assign every vector ONCE, and persist the
    assignments partitioned by cluster: probes prune to ``n_probe``
    directories instead of re-assigning the corpus per query."""
    centroids = kmeans_centroids(embeddings, n_clusters, n_iter, seed, sample_limit)
    assigned = ivf_assign(embeddings, centroids)
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(
        f"{path}/vectors"
    )
    with open(f"{path}/centroids.json", "w") as f:
        json.dump({"centroids": centroids.tolist()}, f)


def ann_ivf_query(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """Probe a persisted IVF index: read only the ``n_probe`` nearest
    clusters' directories, exact re-rank within."""
    with open(f"{path}/centroids.json") as f:
        centroids = np.asarray(json.load(f)["centroids"], dtype=np.float64)
    qv = np.asarray(query_vec, dtype=np.float64)
    order = (((centroids - qv[None, :]) ** 2).sum(axis=1)).argsort()[:n_probe]
    probe = [int(c) for c in order]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = F.round(cosine_col(F.col("embedding"), q), round_digits)
    return (
        spark.read.parquet(f"{path}/vectors")
        .filter(F.col("cluster").isin(probe))
        .select("vec_id", cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    round_digits: int = 6,
    index_path: str | None = None,
) -> DataFrame:
    """One-shot wrapper: build (or reuse) the persisted IVF index, probe it."""
    spark = embeddings.sparkSession
    path = index_path or _cache_path("miru_ivf", embeddings, n_clusters, seed)
    if not os.path.exists(f"{path}/centroids.json"):
        build_ivf_index(embeddings, path, n_clusters, seed=seed)
    return ann_ivf_query(spark, path, query_vec, k, n_probe, round_digits)


# ---------------------------------------------------------------------------
# IVF-PQ (Jegou/Douze/Schmid 2011: product quantization for ANN)


def train_pq_codebooks(
    embeddings: "DataFrame | np.ndarray",
    centroids: np.ndarray,
    m: int = 8,
    n_codes: int = 16,
    n_iter: int = 5,
    seed: int = 42,
    sample_limit: int = 100_000,
) -> np.ndarray:
    """Per-subspace k-means codebooks over coarse RESIDUALS (the IVF-PQ
    formulation: quantize ``x/|x| - centroid[assign(x)]``, which has far
    lower variance than raw vectors). Pass the already-collected normalized
    sample ndarray to avoid re-running the sample query (build_ivfpq_index
    does); a DataFrame is accepted for standalone use.
    -> (m, n_codes, dim//m)."""
    dim = centroids.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    X = (
        embeddings
        if isinstance(embeddings, np.ndarray)
        else _sample_vectors(embeddings, sample_limit, normalize=True)
    )
    assign = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    R = X - centroids[assign]
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, dsub))
    for j in range(m):
        S = R[:, j * dsub : (j + 1) * dsub]
        cb = S[rng.choice(S.shape[0], size=n_codes, replace=False)].copy()
        for _ in range(n_iter):
            d = ((S[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(n_codes):
                msk = a == c
                if msk.any():
                    cb[c] = S[msk].mean(axis=0)
        books[j] = cb
    return books


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_clusters: int = 16,
    m: int = 8,
    n_codes: int = 16,
    n_iter: int = 5,
    seed: int = 42,
    sample_limit: int = 100_000,
) -> None:
    """IVF-PQ build: coarse centroids + PQ codebooks train driver-side on a
    bounded sample; ENCODING is fully distributed — one mapInPandas pass
    per vector emits (vec_id, cluster, m uint8 codes), shipped to executors
    as a closure (centroids + codebooks are a few KB). The coded table
    persists partitioned by cluster, so probes prune directories exactly
    like plain IVF while storing m bytes instead of dim floats per vector
    (64-dim float32 -> 8 bytes = 32x). Vectors are unit-normalized at
    encode time, making PQ's L2 metric rank-equivalent to cosine
    (||a-b||^2 = 2 - 2cos on the unit sphere)."""
    X = _sample_vectors(embeddings, sample_limit, normalize=True)
    centroids = _lloyd(X, n_clusters, n_iter, seed)
    books = train_pq_codebooks(X, centroids, m, n_codes, n_iter, seed)
    C, B = centroids, books
    dim = C.shape[1]
    dsub = dim // m

    def encode(batches):
        for pdf in batches:
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            X /= np.linalg.norm(X, axis=1, keepdims=True)
            assign = (
                ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            )
            R = X - C[assign]
            codes = np.empty((X.shape[0], m), dtype=np.int64)
            for j in range(m):
                S = R[:, j * dsub : (j + 1) * dsub]
                d = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster": assign,
                    "codes": list(codes),
                }
            )

    coded = embeddings.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id long, cluster int, codes array<tinyint>"
        if n_codes <= 128
        else "vec_id long, cluster int, codes array<smallint>",
    )
    coded.write.mode("overwrite").partitionBy("cluster").parquet(f"{path}/codes")
    with open(f"{path}/pq_meta.json", "w") as f:
        json.dump(
            {
                "centroids": C.tolist(),
                "codebooks": B.tolist(),
                "m": m,
                "n_codes": n_codes,
            },
            f,
        )


def ann_ivfpq_query(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 100,
    embeddings: DataFrame | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Probe an IVF-PQ index with asymmetric distance computation (ADC):
    per probed cluster, ONE (m x n_codes) lookup table of subspace
    distances from the query residual to every codebook entry; each coded
    vector's approx distance is m table lookups (a fancy-index + row sum
    in numpy — no decode, no float vectors read). ``rerank`` > 0 re-scores
    the ADC top-``rerank`` candidates with exact cosine against the raw
    embeddings (the standard two-stage recall fix); ``rerank=0`` returns
    pure-ADC approximations (cos ~ 1 - d^2/2 on the unit sphere)."""
    with open(f"{path}/pq_meta.json") as f:
        meta = json.load(f)
    C = np.asarray(meta["centroids"], dtype=np.float64)
    B = np.asarray(meta["codebooks"], dtype=np.float64)
    m, dim = B.shape[0], C.shape[1]
    dsub = dim // m
    qv = np.asarray(query_vec, dtype=np.float64)
    qv = qv / np.linalg.norm(qv)
    order = ((C - qv[None, :]) ** 2).sum(axis=1).argsort()[:n_probe]
    probe = [int(c) for c in order]
    # per-cluster LUTs, shipped as a closure (n_probe * m * n_codes floats)
    luts = {}
    for c in probe:
        r = qv - C[c]
        luts[c] = np.stack(
            [
                ((B[j][None, :, :] - r[j * dsub : (j + 1) * dsub][None, None, :]) ** 2)
                .sum(axis=2)[0]
                for j in range(m)
            ]
        )  # (m, n_codes)

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            dist = np.zeros(len(pdf))
            clusters = pdf["cluster"].to_numpy()
            for c in np.unique(clusters):
                msk = clusters == c
                lut = luts[int(c)]
                sub = codes[msk]
                dist[msk] = lut[np.arange(m)[:, None], sub.T].sum(axis=0)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "dist": dist}
            )

    scored = (
        spark.read.parquet(f"{path}/codes")
        .filter(F.col("cluster").isin(probe))
        .mapInPandas(adc, "vec_id long, dist double")
    )
    if rerank and embeddings is not None:
        cand = [
            int(r["vec_id"])
            for r in scored.orderBy(F.asc("dist"), F.asc("vec_id"))
            .limit(rerank)
            .collect()
        ]
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        cos = F.round(cosine_col(F.col("embedding"), q), round_digits)
        return (
            embeddings.filter(F.col("vec_id").isin(cand))
            .select("vec_id", cos.alias("cos"))
            .orderBy(F.desc("cos"), F.asc("vec_id"))
            .limit(k)
        )
    approx = F.round(1.0 - F.col("dist") / 2.0, round_digits)
    return (
        scored.select("vec_id", approx.alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    m: int = 8,
    n_codes: int = 16,
    n_probe: int = 4,
    rerank: int = 100,
    seed: int = 42,
    round_digits: int = 6,
    index_path: str | None = None,
) -> DataFrame:
    """One-shot wrapper: build (or reuse) the persisted IVF-PQ index, probe."""
    spark = embeddings.sparkSession
    path = index_path or _cache_path(
        "miru_ivfpq", embeddings, n_clusters, m, n_codes, seed
    )
    if not os.path.exists(f"{path}/pq_meta.json"):
        build_ivfpq_index(
            embeddings, path, n_clusters, m=m, n_codes=n_codes, seed=seed
        )
    return ann_ivfpq_query(
        spark, path, query_vec, k, n_probe, rerank,
        embeddings=embeddings if rerank else None, round_digits=round_digits,
    )


# ------------------------------------------------------- int8 quantization --

def quantize_int8(embeddings: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """Scalar int8 quantization (the Lucene 9.x ``int8_hnsw`` storage
    trade): vectors L2-normalize, then quantize symmetrically per vector —
    ``scale = max|v|/127, codes = round(v/scale)`` — 4x smaller than
    float32 with ~1e-3 cosine error (pytest pins cos > 0.999 against the
    originals). Encode is one Arrow-batched
    mapInPandas pass; output (vec_id, codes binary, scale) is the
    compressed vector table a 100-TB embedding store would persist.
    ``keep_cols`` passes metadata columns (e.g. ``label``) through beside
    the codes so filtered kNN can pre-filter the compressed scan without
    joining back to the float table."""
    import pyspark.sql.types as T

    keep_cols = tuple(keep_cols)
    in_schema = {f.name: f.dataType for f in embeddings.schema.fields}
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("codes", T.BinaryType()),
            T.StructField("scale", T.DoubleType()),
        ]
        + [T.StructField(c, in_schema[c]) for c in keep_cols]
    )

    def encode(batches):
        for pdf in batches:
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            mat /= norms[:, None]
            scale = np.abs(mat).max(axis=1) / 127.0
            scale[scale == 0] = 1.0
            codes = np.rint(mat / scale[:, None]).astype(np.int8)
            out = {
                "vec_id": pdf["vec_id"].astype("int64"),
                "codes": [c.tobytes() for c in codes],
                "scale": scale,
            }
            for c in keep_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return embeddings.select("vec_id", "embedding", *keep_cols).mapInPandas(
        encode, schema
    )


def ann_int8_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int = 0,
    round_digits: int = 6,
    label_in: list[int] | None = None,
) -> DataFrame:
    """(vec_id, cos) top-k by cosine computed in the COMPRESSED domain:
    approx_cos = scale_v * dot(q_normalized, codes_v) — one broadcast of
    the float query + a streaming scan of the int8 table, no shuffle
    before the TakeOrdered. ``rerank > 0`` re-scores that many compressed
    candidates with exact float cosine (the standard two-phase shape
    shared with IVF-PQ); the window must cover k. ``label_in`` is the
    PRE-FILTER (A87 — ES knn filter): the predicate lands on the quantized
    table's metadata column BEFORE scoring, so k survivors always come
    from the filtered set and the scan stays compressed-domain — no join
    back to the float table on the hot path."""
    if rerank and rerank < k:
        raise ValueError(f"rerank window ({rerank}) must be >= k ({k})")
    import pyspark.sql.types as T

    spark = embeddings.sparkSession
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q)) or 1.0
    q = q / qn
    bq = spark.sparkContext.broadcast(q)
    # None = no filter; [] is a caller bug (matching cosine_topk_filtered's
    # contract) — an accidental empty list must not silently return
    # UNfiltered results.
    if label_in is not None and not label_in:
        raise ValueError("label_in must be non-empty")
    qt = quantize_int8(
        embeddings, keep_cols=("label",) if label_in is not None else ()
    )
    if label_in is not None:
        qt = qt.filter(
            F.col("label").isin([int(x) for x in label_in])
        ).select("vec_id", "codes", "scale")
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    def score(batches):
        qv = bq.value
        for pdf in batches:
            codes = np.stack([
                np.frombuffer(b, dtype=np.int8) for b in pdf["codes"]
            ]).astype(np.float64)
            approx = (codes @ qv) * pdf["scale"].to_numpy()
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].astype("int64"), "cos": approx
            })

    scored = qt.mapInPandas(score, schema)
    if rerank:
        cand = [
            int(r["vec_id"])
            for r in scored.orderBy(F.desc("cos"), F.asc("vec_id"))
            .limit(int(rerank)).collect()
        ]
        qcol = F.array(*[F.lit(float(x)) for x in query_vec])
        exact = F.round(cosine_col(F.col("embedding"), qcol), round_digits)
        return (
            embeddings.filter(F.col("vec_id").isin(cand))
            .select("vec_id", exact.alias("cos"))
            .orderBy(F.desc("cos"), F.asc("vec_id"))
            .limit(k)
        )
    return (
        scored.select("vec_id", F.round("cos", round_digits).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )
