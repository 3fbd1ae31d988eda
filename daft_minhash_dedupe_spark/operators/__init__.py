from daft_minhash_dedupe_spark.operators.banding import (
    lsh_band_buckets,
    lsh_banding,
    salted_bucket_min,
)
from daft_minhash_dedupe_spark.operators.edges import (
    build_edges,
    build_edges_from_buckets,
    build_pair_edges_from_buckets,
    symmetrize,
)
from daft_minhash_dedupe_spark.operators.components import connected_components
from daft_minhash_dedupe_spark.operators.incremental import (
    incremental_assignments,
    merge_assignment_tables,
)
from daft_minhash_dedupe_spark.operators.merge import merge_results
from daft_minhash_dedupe_spark.operators.verify import verify_pairs_exact_jaccard

__all__ = [
    "lsh_band_buckets",
    "lsh_banding",
    "salted_bucket_min",
    "build_edges",
    "build_edges_from_buckets",
    "build_pair_edges_from_buckets",
    "symmetrize",
    "connected_components",
    "incremental_assignments",
    "merge_assignment_tables",
    "merge_results",
    "verify_pairs_exact_jaccard",
]
