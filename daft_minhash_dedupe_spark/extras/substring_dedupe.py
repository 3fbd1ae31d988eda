"""Verbatim-substring duplicate detection (the third dedup family the north
rule names alongside MinHash and SimHash).

Exact suffix-array construction is inherently sequential; the standard
distributed approximation (Lee et al., "Deduplicating Training Data Makes
Language Models Better", ACL'22 — public method) detects documents sharing a
verbatim run of >= k tokens: hash every k-token window, bucket-join on the
window hash. Any pair sharing a bucket shares a verbatim k-token substring
(modulo 64-bit hash collision). This reuses the engine's shingle machinery
with ngram_size = k and NO minhash/banding — the window hash IS the key.

Scale shape: identical to LSH banding (groupBy 8-byte digest, bucket-min star
edges, AQE skew-join), so everything said there about hot buckets applies;
``max_posting`` drops degenerate ultra-common windows (boilerplate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.functions.minhash import add_shingles
from daft_minhash_dedupe_spark.operators.edges import build_edges_from_buckets


def substring_window_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", window_tokens: int = 50
) -> DataFrame:
    """(window_hash, doc) — one row per distinct k-token window per doc.

    The window arrays are materialized (lazy localCheckpoint) before the
    explode: Catalyst's CollapseProject otherwise inlines the chained
    token→hash→window transforms into the Generate and re-evaluates them
    (measured 10× at 2k docs)."""
    shingled = (
        add_shingles(df, text_col, window_tokens, "_w")
        .select(F.col(id_col).alias("node"), "_w")
        .localCheckpoint(eager=False)
    )
    return shingled.select("node", F.explode("_w").alias("band_key"))


def substring_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 50,
    max_posting: int | None = 10_000,
) -> DataFrame:
    """(u, v) pairs of docs sharing at least one verbatim k-token run."""
    postings = substring_window_postings(df, text_col, id_col, window_tokens)
    if max_posting is not None:
        hot = (
            postings.groupBy("band_key")
            .count()
            .where(F.col("count") > max_posting)
            .select("band_key")
        )
        postings = postings.join(F.broadcast(hot), "band_key", "left_anti")
    return build_edges_from_buckets(postings.select("band_key", "node"))


def substring_dedupe_components(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 50,
) -> DataFrame:
    """(doc_id, component) clusters of substring-duplicates via the same
    hash-to-min CC used by the MinHash pipeline."""
    from daft_minhash_dedupe_spark.operators.components import connected_components

    edges = substring_dup_pairs(df, text_col, id_col, window_tokens)
    assigns = connected_components(edges)
    return (
        df.select(id_col)
        .join(assigns.withColumnRenamed("u", id_col), id_col, "left")
        .select(id_col, F.coalesce("rep", F.col(id_col)).alias("component"))
    )
