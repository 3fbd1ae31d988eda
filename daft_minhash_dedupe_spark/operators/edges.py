"""Edge construction + edge-list utilities.

Candidate edges are star edges to each LSH bucket's minimum node — not the
full clique (reference workload/minhash_dedupe.py:265-277; rationale in
references/chengmao_minhash_spark.py:41-45: same connected components,
O(bucket) instead of O(bucket²) edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.operators.banding import salted_bucket_min


def build_edges(grouped: DataFrame) -> DataFrame:
    """Reference-shaped: bucket rows with a ``nodes`` array → (u, v) star edges.

    Mirrors _build_edges (workload/minhash_dedupe.py:265-277): u = min(nodes),
    explode, drop self-loops and nulls, distinct.
    """
    return (
        grouped.withColumn("u", F.array_min("nodes"))
        .select("u", F.explode("nodes").alias("v"))
        .where(F.col("u") != F.col("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )


def build_edges_from_buckets(
    buckets: DataFrame, num_salts: int = 16
) -> DataFrame:
    """Scale-path star edges straight from (band_key, node) rows.

    Avoids the reference's collect_list entirely: bucket minima come from the
    salted two-phase min aggregation (skew-proof), then one equi-join on the
    8-byte band_key attaches every member to its bucket min. AQE skew-join
    splits any residual hot band_key partitions at runtime.
    """
    mins = salted_bucket_min(buckets, num_salts=num_salts)
    return (
        buckets.join(mins, "band_key")
        .where(F.col("u") != F.col("node"))
        .select("u", F.col("node").alias("v"))
        .distinct()
    )


def build_pair_edges_from_buckets(
    buckets: DataFrame, max_bucket_pairwise: int = 64, num_salts: int = 16
) -> DataFrame:
    """Candidate edges for VERIFIED paths: pairwise within small buckets,
    star edges for hot buckets.

    Star edges alone lose recall under downstream verification: when a
    bucket's min node is sub-threshold against two genuinely-similar members,
    BOTH star edges fail the verify filter and the true pair disconnects
    (unless another band rescues it). Full within-bucket pairs fix that
    exactly, at O(s²) per bucket — affordable for the overwhelming majority
    of buckets (near-dup buckets are small by construction) and capped at
    ``max_bucket_pairwise``: bigger buckets (boilerplate clusters whose
    members are near-identical anyway, so min-vs-member verification is
    representative) fall back to skew-safe star edges.

    Output is canonical: u < v always (pairwise via self-join inequality,
    star via u = bucket min).
    """
    # the bucket table is referenced three times below (sizes, small-bucket
    # self-join, large-bucket star) — sever lineage once so an expensive
    # upstream (e.g. the embedding matmul UDF + posexplode) isn't re-run 3×
    buckets = buckets.localCheckpoint(eager=False)
    sizes = buckets.groupBy("band_key").agg(F.count("*").alias("_n"))
    with_n = buckets.join(sizes, "band_key")
    small = with_n.where(F.col("_n") <= max_bucket_pairwise)
    a = small.select("band_key", F.col("node").alias("u"))
    b = small.select("band_key", F.col("node").alias("v"))
    pairwise = (
        a.join(b, "band_key")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
    )
    large = with_n.where(F.col("_n") > max_bucket_pairwise).select("band_key", "node")
    star = build_edges_from_buckets(large, num_salts=num_salts)
    return pairwise.unionByName(star).distinct()


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: emit both (u,v) and (v,u) (reference :370-377)."""
    return edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )

