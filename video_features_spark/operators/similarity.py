"""Similarity search over embedding columns: brute-force cosine top-k (the
exact baseline), hyperplane-LSH bucketed ANN, and IVF (inverted-file)
partitioned ANN — two independent 10^12-row scale paths.

The reference's closest analog is CLIP's zero-shot image×text matmul
(``/root/reference/models/clip/extract_clip.py:86-108``) — a dense all-pairs
similarity; here generalized to keyed top-k retrieval. Pure DataFrame: dot
products via ``zip_with``/``aggregate`` (JVM, codegen), ranking via window
top-k. Queries are broadcast (small side); the corpus never moves except the
one shuffle the window ranking needs — and in the LSH variant, candidates are
co-partitioned by bucket so even that shuffle shrinks to bucket-local work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, IntegerType

from .._worker import cache_zip_directories


def _l2(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _embedding_side(df: DataFrame, id_col: str, emb_col: str, tag: str, *extra) -> DataFrame:
    """(id, ``__<tag>e`` embedding, ``__<tag>n`` L2 norm, extra...): one side
    of a cosine join — ``tag`` is ``c`` for the corpus, ``q`` for queries."""
    return df.select(
        id_col, F.col(emb_col).alias(f"__{tag}e"), _l2(emb_col).alias(f"__{tag}n"), *extra
    )


def _cosine(pairs: DataFrame, query_id_col: str, id_col: str) -> DataFrame:
    """(query_id, id, cos) over joined corpus × query sides, self-matches
    dropped."""
    return pairs.filter(F.col(id_col) != F.col(query_id_col)).select(
        query_id_col,
        id_col,
        (_dot("__ce", "__qe") / (F.col("__cn") * F.col("__qn"))).alias("cos"),
    )


def _top_k(sims: DataFrame, query_id_col: str, id_col: str, k: int) -> DataFrame:
    """Rank each query's matches by cos desc, id asc; keep rank <= k."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine for every query vector (brute force). Queries are
    broadcast; corpus scans once. Output (query_id, vec_id, cos, rank)."""
    c = _embedding_side(corpus, id_col, emb_col, "c")
    q = _embedding_side(queries, query_id_col, emb_col, "q")
    # no join key: Catalyst folds _cosine's self-match filter into the join
    return _top_k(_cosine(c.join(F.broadcast(q)), query_id_col, id_col), query_id_col, id_col, k)


# ---------------------------------------------------------------------------
# IVF (inverted file) ANN — k-means cells, probe the nearest nprobe cells
# ---------------------------------------------------------------------------


def kmeans_fit_sample(x: np.ndarray, n_centroids: int, iters: int = 10) -> np.ndarray:
    """Deterministic spherical k-means over an ORDERED float32 sample —
    farthest-point init (k-means++ greedy flavor: spreads the seeds across the
    sphere instead of gambling on a random draw) then ``iters`` Lloyd rounds.
    Bit-deterministic for a given sample order, so an external oracle that
    reproduces the sample reproduces the centroids exactly."""
    x = np.asarray(x, dtype=np.float32)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    k = min(n_centroids, len(x))
    cents = np.empty((k, x.shape[1]), np.float32)
    cents[0] = x[0]
    best_sim = x @ cents[0]
    for c in range(1, k):
        i = int(np.argmin(best_sim))  # least similar to every chosen seed
        cents[c] = x[i]
        best_sim = np.maximum(best_sim, x @ cents[c])
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents.astype(np.float32)


def ivf_fit_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_centroids: int = 32,
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 7,
) -> np.ndarray:
    """Deterministic spherical k-means on a fixed sample → (n_centroids, dim)
    float32, L2-normalized. The sample is the ``sample_size`` rows with the
    smallest ``(xxhash64(id), id)`` — a deterministic pseudo-random draw that
    is stable under any partitioning and compiles to TakeOrderedAndProject
    (per-partition top-k, k rows to the driver), NOT a full global sort; the
    centroids only need to be representative, the assignment pass below is
    what scales. The draw + fit are reproducible outside Spark (xxhash64 is a
    published algorithm), which is how the driver oracle re-derives the same
    centroid literals."""
    rows = (
        corpus.select(F.xxhash64(id_col).alias("__h"), F.col(id_col), F.col(emb_col))
        .orderBy("__h", id_col)
        .limit(sample_size)
        .select(emb_col)
        .collect()
    )
    x = np.array([r[0] for r in rows], dtype=np.float32)
    return kmeans_fit_sample(x, n_centroids, iters)


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    emb_col: str = "embedding",
    nprobe: int = 1,
    out_col: str = "ivf_cell",
) -> DataFrame:
    """Attach the ``nprobe`` nearest-centroid cell ids (exploded: one row per
    probed cell). Centroids ride to executors inside the UDF closure (same
    mechanism as broadcast for this size); the matmul is one Arrow batch at a
    time — no per-row Python. Ranking uses the RAW dot product in float64:
    dividing by the row's own norm cannot change its per-row ordering, and
    float64 raw dots are what a SQL oracle computes — rounding-level parity
    keeps near-tie cell assignments identical across engines."""
    cents = np.asarray(centroids, dtype=np.float64)  # ~n_centroids×dim

    @F.pandas_udf(ArrayType(IntegerType()))
    def _cells(embs: pd.Series) -> pd.Series:
        cache_zip_directories()
        x = np.array(embs.tolist(), dtype=np.float64)
        sims = x @ cents.T
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype(int).tolist() for row in top])

    return df.withColumn(out_col, F.explode(_cells(F.col(emb_col))))


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_centroids: int = 32,
    nprobe: int = 4,
    sample_size: int = 4096,
    seed: int = 7,
) -> DataFrame:
    """IVF ANN: corpus rows live in exactly one k-means cell (the inverted
    file); each query probes its ``nprobe`` nearest cells and ranks only those
    cells' members. Complements LSH: cells adapt to the data distribution
    (hyperplanes don't), at the cost of the small centroid-fit pass. Recall
    rises with nprobe → n_centroids (exact when nprobe == n_centroids)."""
    cents = ivf_fit_centroids(
        corpus, id_col, emb_col, n_centroids=n_centroids, sample_size=sample_size, seed=seed
    )
    c = ivf_assign(corpus.select(id_col, emb_col), cents, emb_col, nprobe=1)
    c = _embedding_side(c, id_col, emb_col, "c", "ivf_cell")
    q = ivf_assign(queries.select(query_id_col, emb_col), cents, emb_col, nprobe=nprobe)
    q = _embedding_side(q, query_id_col, emb_col, "q", "ivf_cell")
    sims = _cosine(c.join(F.broadcast(q), "ivf_cell"), query_id_col, id_col)
    return _top_k(sims, query_id_col, id_col, k)


def _planes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float32).tolist()


def hyperplane_buckets(
    df: DataFrame,
    emb_col: str,
    dim: int,
    n_planes: int = 12,
    seed: int = 7,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane LSH signature: bit i = sign(emb · plane_i). Planes are
    seeded literals baked into the plan — deterministic across engines/runs.
    Cosine-similar vectors collide with probability (1 - θ/π)^n_planes."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(_planes(dim, n_planes, seed)):
        lit_plane = F.array(*[F.lit(float(v)) for v in plane])
        bit = F.when(
            _dot(F.col(emb_col), lit_plane) > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sig = sig.bitwiseOR(bit)
    return df.withColumn(out_col, sig)


def _multi_table_buckets(df: DataFrame, emb_col: str, dim: int, n_planes: int,
                         n_tables: int, seed: int) -> DataFrame:
    """Adds exploded (lsh_table, lsh_bucket) rows — one per hash table. A
    vector appears n_tables times; candidates are any same-(table, bucket)
    collision. Recall = 1 − (1 − p)^L for per-table collision prob p."""
    buckets = []
    out = df
    for t in range(n_tables):
        out = hyperplane_buckets(out, emb_col, dim, n_planes, seed + 1009 * t, out_col=f"__b{t}")
        buckets.append(F.struct(F.lit(t).alias("lsh_table"), F.col(f"__b{t}").alias("lsh_bucket")))
    out = out.withColumn("__tb", F.explode(F.array(*buckets)))
    return out.select(
        *[c for c in df.columns], F.col("__tb.lsh_table").alias("lsh_table"),
        F.col("__tb.lsh_bucket").alias("lsh_bucket"),
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: hyperplane-bucket both sides in ``n_tables``
    independent hash tables, rank only within colliding buckets. Recall < 1 by
    construction (tests measure it vs the exact baseline); cost drops from
    O(|corpus|·|queries|) to bucket-local work. Tune n_planes↑ for selectivity
    (bigger corpora), n_tables↑ for recall — the standard LSH trade."""
    keys = ("lsh_table", "lsh_bucket")
    c = _multi_table_buckets(corpus.select(id_col, emb_col), emb_col, dim, n_planes, n_tables, seed)
    c = _embedding_side(c, id_col, emb_col, "c", *keys)
    q = _multi_table_buckets(queries.select(query_id_col, emb_col), emb_col, dim, n_planes, n_tables, seed)
    q = _embedding_side(q, query_id_col, emb_col, "q", *keys)
    # score BEFORE the candidate dedup: the dropDuplicates shuffle then
    # carries (query_id, vec_id, cos) scalars instead of two embedding
    # vectors + norms per row (guide §2.3). Multi-table duplicates of a pair
    # hold identical vectors, hence identical cos.
    sims = _cosine(c.join(F.broadcast(q), list(keys)), query_id_col, id_col)
    return _top_k(sims.dropDuplicates([query_id_col, id_col]), query_id_col, id_col, k)
