"""Iterative DataFrame-based connected components: min-label propagation
with parent-connect and pointer jumping (Stergiou et al., "Shortcutting Label
Propagation for Distributed Connected Components", WSDM 2018; Liu & Tarjan,
"Simple Concurrent Labeling Algorithms for Connected Components", SOSA 2019).

Output contract (the reference's, workload/minhash_dedupe.py:507-557): one
``(u, rep)`` row per node that appears in the edge list, self rows included,
with ``rep`` the MINIMUM node id of u's component — the invariant every
downstream keep-rule depends on.

The loop, over the symmetrized edges ``sym`` plus the pointer edges
``(u, label(u))``:

- initial label: ``label(u) = least(u, min N(u))``;
- each round, every edge ``(u, v)`` sends ``label(v)`` to ``u`` (pull) and
  to ``label(u)`` (parent-connect), and each node takes the minimum it
  receives — two joins with the labels and one ``groupBy.min``.

Why it is exact: every label is a member of its node's component and ≤ the
node, so the pointer edge sends ``label(label(u)) ≤ label(u)`` to ``u`` and
labels never increase. An unchanged Σlabel therefore means no label moved —
an exact fixed-point test with no join. At the fixed point each label equals
every neighbour's label, so it is the component minimum.

Why it is fast: the pointer edge lets a label jump along the chain of labels
(pointer jumping), and parent-connect hands a smaller label found anywhere
under a local minimum straight to that minimum, which every node pointing at
it then pulls. Pull plus pointer jumping alone is not enough: on a path whose
ids fall towards a local minimum at the far end from the global one, every
pointer leads to the local minimum and the global minimum moves one hop per
round. No round bound is proven for this exact variant; measured rounds grow
with log n on every shape in tests/test_components.py and on random-id paths
(1k / 10k nodes: 14 / 20 rounds). This one loop replaces the
reference's large-star/small-star contraction plus its global-min label
propagation pass (friction/connected_components_reasoning.md), which exists
only because star contraction can stall at local minima.

Physical choices: every round's labels pass through ``checkpoint`` to sever
lineage (localCheckpoint by default, parquet round-trip when a checkpoint
dir is configured) — without it the plan depth grows per round and Catalyst
analysis time dominates. A run that has not converged after ``max_loops``
rounds raises instead of returning partial labels.
"""

from __future__ import annotations

import logging
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.operators.edges import symmetrize

logger = logging.getLogger(__name__)

Checkpoint = Callable[[DataFrame, str], DataFrame]


def _local_checkpoint(df: DataFrame, _name: str) -> DataFrame:
    # lazy: the Σlabel aggregation that immediately follows is the action
    # that materializes (and caches) the checkpoint — one job instead of two
    # per round
    return df.localCheckpoint(eager=False)


def _labels_sum(labels: DataFrame):
    """Σ label as exact decimal, one aggregation job. Labels are monotone
    non-increasing, so an unchanged sum ⟺ a fixed point."""
    return labels.agg(F.sum(F.col("label").cast("decimal(38,0)")).alias("s")).first()["s"]


def connected_components(
    edges: DataFrame,
    max_loops: int = 100,
    checkpoint: Checkpoint = _local_checkpoint,
    driver_fallback_edges: int | None = None,
) -> DataFrame:
    """(u, rep) for every node in ``edges``; rep = its component's minimum id.

    Raises ``RuntimeError`` when the labels still change after ``max_loops``
    rounds.

    ``driver_fallback_edges``: scale-adaptive execution (the AQE-broadcast
    analogue for the iterative CC loop): when the edge set fits under this
    bound, a bounded ``limit(N+1).collect()`` + driver union-find replaces
    the multi-job distributed loop — identical output, tested for DataFrame
    equality against the distributed path. Big edge sets take the
    distributed loop untouched.
    """
    if driver_fallback_edges:
        head = edges.select("u", "v").limit(driver_fallback_edges + 1).collect()
        if len(head) <= driver_fallback_edges:
            mapping = union_find_components([(r["u"], r["v"]) for r in head])
            spark = edges.sparkSession
            return spark.createDataFrame(
                sorted(mapping.items()) or [], "u long, rep long"
            )

    sym = checkpoint(symmetrize(edges), "lp_edges")
    labels = checkpoint(
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("u", "_mn").alias("label")),
        "lp_labels_0",
    )
    prev_sum = _labels_sum(labels)
    for i in range(1, max_loops + 1):
        # a checkpoint keeps the plan's size estimate but not the fact that u
        # is unique, so each join would multiply the estimate by the label
        # table's: its digits triple per round and after ~12 rounds computing
        # it takes minutes. Grouping by u restores the key (and the hash
        # partitioning both joins need).
        keyed = labels.groupBy("u").agg(F.min("label").alias("label"))
        candidates = sym.unionByName(labels.select("u", F.col("label").alias("v")))
        labelled = candidates.join(keyed.withColumnRenamed("label", "lu"), "u").join(
            keyed.select(F.col("u").alias("v"), F.col("label").alias("lv")), "v"
        )
        labels = checkpoint(
            labelled.select(F.explode(F.array("u", "lu")).alias("u"), "lv")
            .groupBy("u")
            .agg(F.min("lv").alias("label")),
            f"lp_labels_{i}",
        )
        next_sum = _labels_sum(labels)  # materializes the checkpoint too
        if next_sum == prev_sum:
            logger.info("cc converged after %d rounds", i)
            return labels.select("u", F.col("label").alias("rep"))
        prev_sum = next_sum
    raise RuntimeError(
        f"connected components did not converge within max_loops={max_loops} rounds"
    )


def union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Pure-Python union-find oracle (replaces the reference's igraph parity
    validator, :559-614) — TEST/VALIDATION use only, never on big data."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # compress to the component minimum
    return {x: find(x) for x in list(parent)}
