"""Similarity search over embedding columns (array<float>).

- ``cosine_similarity``: pure-Catalyst zip_with/aggregate dot product —
  codegen'd, no Python;
- ``brute_force_topk``: exact top-k vs one query vector (broadcast scalar
  literals, single scan + top-k sort);
- ``knn_join_brute``: exact k-NN for a small query set via crossJoin
  (broadcast) — the correctness baseline;
- ``random_hyperplane_lsh`` + ``ann_topk_lsh``: the scale path — sign-of-
  projection LSH buckets (Charikar) so candidate generation is a bucket
  equi-join instead of a full cross product; embedding-cosine near-dup
  detection reuses the dedup engine's bucket-min star edges.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (JVM, codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def _vec_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against one query vector: one scan, local top-k per
    partition then global merge (Spark's sort+limit does exactly this —
    TakeOrderedAndProject, no full sort materialization)."""
    emb = F.col(vec_col).cast("array<double>")
    q = _vec_lit(query)
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_similarity(emb, q), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def knn_join_brute(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact k-NN join for a SMALL query set: broadcast queries × corpus scan,
    per-query top-k via window rank. (q_id, vec_id, cosine, rank)."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col(id_col))
        .select(
            "q_id",
            id_col,
            F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def random_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).randn(n_planes, dim)


def random_hyperplane_bucket(
    vec: Column, planes: np.ndarray
) -> Column:
    """Sign-of-projection LSH bucket id (int): bit j = sign(vec · plane_j).

    Built as a Catalyst expression tree (n_planes dot products per row, all
    codegen'd) — no Python in the scoring path."""
    emb = vec.cast("array<double>")
    bucket = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        d = dot(emb, _vec_lit(list(plane)))
        bucket = bucket + F.when(d > 0, F.lit(1 << j).cast("bigint")).otherwise(F.lit(0))
    return bucket


def ann_topk_lsh(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: scan only rows whose LSH bucket matches the query's
    (partition-prunable if the table is written bucketed by lsh_bucket)."""
    dim = len(query)
    planes = random_hyperplanes(dim, n_planes, seed)
    qbits = int(
        sum((1 << j) for j, p in enumerate(planes) if float(np.dot(p, query)) > 0)
    )
    bucketed = df.withColumn("_bucket", random_hyperplane_bucket(F.col(vec_col), planes))
    return brute_force_topk(
        bucketed.where(F.col("_bucket") == qbits), query, k, vec_col, id_col
    )


def ivf_centroids(dim: int, n_lists: int = 16, seed: int = 7) -> np.ndarray:
    """Seeded random unit centroids (k-means-free IVF coarse quantizer —
    deterministic, no training pass; adequate for bucketing, and the
    assignment expression is identical once real trained centroids exist)."""
    c = np.random.RandomState(seed).randn(n_lists, dim)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_list_id(vec: Column, centroids: np.ndarray) -> Column:
    """argmax-dot coarse assignment as a Catalyst expression tree."""
    emb = vec.cast("array<double>")
    best = F.struct(F.lit(-1e18).alias("score"), F.lit(-1).alias("list_id"))
    scored = [
        F.struct(dot(emb, _vec_lit(list(c))).alias("score"), F.lit(i).alias("list_id"))
        for i, c in enumerate(centroids)
    ]
    return F.greatest(best, *scored)["list_id"]


def ann_topk_ivf(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-style ANN: scan only the ``n_probe`` inverted lists nearest the
    query (struct-greatest argmax assignment; partition-prunable when the
    table is written partitioned/bucketed by ``ivf_list``)."""
    centroids = ivf_centroids(len(query), n_lists, seed)
    q = np.asarray(query, dtype=float)
    qn = q / (np.linalg.norm(q) or 1.0)
    probe = np.argsort(-(centroids @ qn))[:n_probe].tolist()
    bucketed = df.withColumn("_ivf", ivf_list_id(F.col(vec_col), centroids))
    return brute_force_topk(
        bucketed.where(F.col("_ivf").isin(probe)), query, k, vec_col, id_col
    )


# Above this many plane-coefficient literals, the per-plane Catalyst
# expression tree (dim literals × planes) gets slow to analyze — switch to
# one Arrow-batched matmul UDF (planes matrix ships once in the closure).
_EXPR_PATH_MAX_CELLS = 512


def hyperplane_band_bits(
    vec: Column,
    planes: np.ndarray,
    n_bands: int,
    rows_per_band: int,
) -> Column:
    """``array<bigint>`` of length ``n_bands``: element i packs the
    ``rows_per_band`` sign-of-projection bits of planes[i·r:(i+1)·r].

    Two physical strategies behind one signature:
    - small dim×planes: pure Catalyst (codegen'd dot per plane);
    - large (e.g. 768-dim embeddings): a single pandas-UDF matmul —
      (batch, dim) @ (dim, B·r) then bit-pack, no per-row Python.
    Sign is scale-invariant, so both paths bucket identically for any
    positive rescaling of the input vector.
    """
    assert planes.shape[0] == n_bands * rows_per_band
    dim = planes.shape[1]
    if planes.size <= _EXPR_PATH_MAX_CELLS:
        emb = vec.cast("array<double>")
        bands = []
        for bi in range(n_bands):
            acc = F.lit(0).cast("bigint")
            for j in range(rows_per_band):
                d = dot(emb, _vec_lit(list(planes[bi * rows_per_band + j])))
                acc = acc + F.when(d > 0, F.lit(1 << j).cast("bigint")).otherwise(F.lit(0))
            bands.append(acc)
        # NULL or wrong-dimension vectors yield NULL (not all-zero bands) —
        # identical to the pandas path, so malformed rows never collect into
        # one xxhash64(band_idx, 0) hot bucket
        return F.when(F.size(vec) == dim, F.array(*bands))

    P = planes.astype(np.float64)  # (B*r, dim)
    weights = (np.int64(1) << np.arange(rows_per_band, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _bits(vecs: pd.Series) -> pd.Series:
        # wrong-dimension vectors → None, like the expression path (and so
        # np.vstack can't raise on ragged input)
        mask = vecs.map(lambda v: v is not None and len(v) == dim).to_numpy()
        if not mask.any():
            return pd.Series([None] * len(vecs), dtype=object)
        M = np.vstack(vecs[mask].to_numpy()).astype(np.float64)  # (n, dim)
        S = (M @ P.T) > 0  # (n, B*r)
        packed = (
            S.reshape(len(M), n_bands, rows_per_band).astype(np.int64) * weights
        ).sum(axis=2)
        it = iter(packed)
        return pd.Series(
            [next(it) if ok else None for ok in mask], dtype=object
        )

    return _bits(vec)


def embedding_band_buckets(
    df: DataFrame,
    n_bands: int = 8,
    rows_per_band: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """(band_key, node) bucket rows — the MinHash band-table shape, so the
    dedup engine's edge/CC machinery applies unchanged to embeddings."""
    if dim is None:
        row = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
        if row is None:  # empty/all-null input → no buckets
            return df.select(
                F.lit(None).cast("bigint").alias("band_key"),
                F.col(id_col).alias("node"),
            ).where(F.lit(False))
        dim = len(row[0])
    planes = random_hyperplanes(dim, n_bands * rows_per_band, seed)
    bits = hyperplane_band_bits(F.col(vec_col), planes, n_bands, rows_per_band)
    # posexplode_outer + null filter: inner posexplode's inferred size()>0
    # filter would re-run the band-bits UDF on the raw vector expression
    return (
        df.select(
            F.col(id_col).alias("node"),
            F.posexplode_outer(bits).alias("band_idx", "band_val"),
        )
        .where(F.col("band_val").isNotNull())
        .select(F.xxhash64("band_idx", "band_val").alias("band_key"), "node")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    min_cosine: float = 0.95,
    n_bands: int = 8,
    rows_per_band: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket_pairwise: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (u < v), exact-cosine verified.

    Multi-band hyperplane LSH exactly like the MinHash pipeline: B bands of r
    sign bits each; a pair is a candidate if ANY band bucket matches. A single
    16-plane bucket has ~8% pair recall at cosine 0.9 (P(all bits agree) =
    (1−θ/π)^16); 8×8 banding lifts that to 1−(1−p^8)^8 ≈ 0.94, and pairs at
    cosine ≈ 1 are caught with near-certainty. Candidates come from pairwise
    within-bucket edges (capped, star fallback) so verification cannot orphan
    a true pair whose bucket min is dissimilar to both endpoints.
    """
    from daft_minhash_dedupe_spark.operators.edges import build_pair_edges_from_buckets

    buckets = embedding_band_buckets(
        df, n_bands, rows_per_band, seed, vec_col=vec_col, id_col=id_col
    )
    edges = build_pair_edges_from_buckets(buckets, max_bucket_pairwise)
    ea = df.select(F.col(id_col).alias("u"), F.col(vec_col).cast("array<double>").alias("_ea"))
    eb = df.select(F.col(id_col).alias("v"), F.col(vec_col).cast("array<double>").alias("_eb"))
    return (
        edges.join(ea, "u")
        .join(eb, "v")
        .where(cosine_similarity(F.col("_ea"), F.col("_eb")) >= min_cosine)
        .select("u", "v")
    )


def embedding_dedupe(
    df: DataFrame,
    min_cosine: float = 0.95,
    n_bands: int = 8,
    rows_per_band: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate CLUSTERS: verified near-dup pairs fed
    through the dedup engine's connected components, min-id keep-rule.

    Returns every input row with (id_col, component, is_survivor) — the same
    contract as the MinHash flagship's cluster assignment, so a corpus can be
    deduped on semantic similarity with one call."""
    from daft_minhash_dedupe_spark.operators.components import connected_components

    pairs = embedding_near_dup_pairs(
        df, min_cosine, n_bands, rows_per_band, seed, vec_col, id_col
    )
    assigns = connected_components(pairs)
    return (
        df.join(assigns.withColumnRenamed("u", id_col), id_col, "left")
        .withColumn("component", F.coalesce("rep", F.col(id_col)))
        .withColumn("is_survivor", F.col("component") == F.col(id_col))
        .drop("rep")
    )
