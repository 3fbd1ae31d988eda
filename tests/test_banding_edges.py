"""LSH banding + edge construction (reference tests:232-300)."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.operators.banding import (
    lsh_band_buckets,
    lsh_banding,
    salted_bucket_min,
)
from daft_minhash_dedupe_spark.operators.edges import (
    build_edges,
    build_edges_from_buckets,
    symmetrize,
)


def test_band_generation_and_grouping(spark):
    # reference pin (tests:232-253): two identical signatures, R=2, B=3 →
    # 3 buckets, each containing both nodes
    mh = [1, 2, 3, 4, 5, 6]
    df = spark.createDataFrame(
        [(0, mh), (1, mh)], "node_id long, min_hashes array<bigint>"
    )
    out = lsh_banding(df, R=2, B=3).collect()
    assert len(out) == 3
    for row in out:
        assert sorted(row["nodes"]) == [0, 1]


def test_band_buckets_digest_groups_same_bands(spark):
    mh = [1, 2, 3, 4, 5, 6]
    df = spark.createDataFrame(
        [(0, mh), (1, mh), (2, [9, 9, 9, 9, 9, 9])],
        "node_id long, min_hashes array<bigint>",
    )
    buckets = lsh_band_buckets(df, R=2, B=3)
    counts = (
        buckets.groupBy("band_key")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    # nodes 0,1 share 3 bucket keys of size 2; node 2 alone in 3 buckets
    sizes = sorted(r["n"] for r in counts)
    assert sizes == [1, 1, 1, 2, 2, 2]


@given(st.integers(2, 8), st.integers(1, 20))
@settings(max_examples=10, deadline=None)
def test_banding_row_bound(spark, R, k):
    # reference property (tests:256-271): ≤ B bucket rows for a single doc
    B = k if k * R <= 64 else max(1, 64 // R)
    sig = list(range(B * R))
    df = spark.createDataFrame([(0, sig)], "node_id long, min_hashes array<bigint>")
    assert lsh_banding(df, R, B).count() <= B


def test_salted_bucket_min_equals_plain_min(spark):
    rows = [(k, n) for k in range(5) for n in range(k * 10, k * 10 + 7)]
    df = spark.createDataFrame(rows, "band_key long, node long")
    got = {r["band_key"]: r["u"] for r in salted_bucket_min(df, num_salts=4).collect()}
    want = {k: k * 10 for k in range(5)}
    assert got == want


def test_build_edges_reference_shape(spark):
    # reference pin (tests:282-300): clusters [1,2,3] and [4,5]
    grouped = spark.createDataFrame(
        [([1, 2, 3],), ([4, 5],)], "nodes array<bigint>"
    )
    pairs = {(r["u"], r["v"]) for r in build_edges(grouped).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs and (4, 5) in pairs
    assert all(u != v for u, v in pairs)
    assert len(pairs) == 3


def test_build_edges_from_buckets_matches_reference_shape(spark):
    rows = [(100, 1), (100, 2), (100, 3), (200, 4), (200, 5), (300, 7)]
    df = spark.createDataFrame(rows, "band_key long, node long")
    pairs = {(r["u"], r["v"]) for r in build_edges_from_buckets(df).collect()}
    assert pairs == {(1, 2), (1, 3), (4, 5)}  # singleton bucket → no edges


def test_build_pair_edges_small_buckets_pairwise(spark):
    from daft_minhash_dedupe_spark.operators.edges import build_pair_edges_from_buckets

    rows = [(100, 3), (100, 1), (100, 2), (200, 5), (200, 4), (300, 7)]
    df = spark.createDataFrame(rows, "band_key long, node long")
    pairs = {(r["u"], r["v"]) for r in build_pair_edges_from_buckets(df).collect()}
    # full within-bucket pairs, canonical u < v; singleton bucket → no edges
    assert pairs == {(1, 2), (1, 3), (2, 3), (4, 5)}


def test_build_pair_edges_hot_bucket_falls_back_to_star(spark):
    from daft_minhash_dedupe_spark.operators.edges import build_pair_edges_from_buckets

    rows = [(100, n) for n in range(10, 20)] + [(200, 1), (200, 2)]
    df = spark.createDataFrame(rows, "band_key long, node long")
    pairs = {
        (r["u"], r["v"])
        for r in build_pair_edges_from_buckets(df, max_bucket_pairwise=4).collect()
    }
    # bucket 100 (10 members > cap 4) → star edges to min only
    assert {(10, v) for v in range(11, 20)}.issubset(pairs)
    assert (11, 12) not in pairs
    # bucket 200 (2 members ≤ cap) → pairwise
    assert (1, 2) in pairs
    assert len(pairs) == 10


def test_singleton_buckets_produce_no_edges(spark):
    grouped = spark.createDataFrame([([7],), ([9],)], "nodes array<bigint>")
    assert build_edges(grouped).count() == 0


def test_symmetrize(spark):
    e = spark.createDataFrame([(1, 2), (3, 2)], "u long, v long")
    sym = {(r["u"], r["v"]) for r in symmetrize(e).collect()}
    assert sym == {(1, 2), (2, 1), (3, 2), (2, 3)}
