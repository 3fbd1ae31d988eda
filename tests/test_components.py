"""Connected components (reference tests:303-383) + union-find oracle parity."""

import random

import pytest

from bench import RoundCounter, cc_stress_edges
from daft_minhash_dedupe_spark.config import DedupeConfig
from daft_minhash_dedupe_spark.operators.components import (
    connected_components,
    union_find_components,
)
from daft_minhash_dedupe_spark.operators.incremental import incremental_assignments
from daft_minhash_dedupe_spark.oracle import partition_sets


def _edges(spark, pairs):
    return spark.createDataFrame(list(pairs) or [], "u long, v long")


def _assign(df):
    return {r["u"]: r["rep"] for r in df.collect()}


def test_empty_edges_converges(spark):
    # reference pin (tests:355-360): no edges → no assignments
    e = _edges(spark, [])
    assigns = connected_components(e)
    assert assigns.count() == 0


def test_cc_known_graph(spark):
    # reference pin (tests:342-353): components [[1,2,3,4],[5,6],[7 isolated]]
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (5, 6)])
    got = _assign(connected_components(e))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}


def test_cc_chain_reaches_global_min(spark):
    # long chain: the classic label-diffusion stress
    chain = [(i, i + 1) for i in range(1, 30)]
    got = _assign(connected_components(_edges(spark, chain)))
    assert all(rep == 1 for rep in got.values())
    assert set(got) == set(range(1, 31))


def test_cc_reversed_chain_reaches_global_min(spark):
    # every edge points from the larger id to the smaller one, and the chain
    # is three times longer than the default max_loops: per-hop diffusion
    # would run out of rounds, pointer jumping needs about log2(300)
    chain = [(i + 1, i) for i in reversed(range(300))]
    got = _assign(connected_components(_edges(spark, chain)))
    assert got == {i: 0 for i in range(301)}


def _random_id_path(n, seed):
    ids = list(range(n))
    random.Random(seed).shuffle(ids)
    return list(zip(ids, ids[1:]))


@pytest.mark.parametrize(
    "path",
    [
        # 0-200-199-...-2-1: nodes 1..200 settle on the local minimum 1 at
        # the far end, so every pointer leads to 1. Pull plus pointer
        # jumping alone then moves 0 one hop per round (~200 rounds);
        # parent-connect hands it to node 1 as soon as a node pointing
        # there sees it.
        [(0, 200)] + [(i, i - 1) for i in range(200, 1, -1)],
        # a path whose ids are a random permutation: local minima everywhere
        _random_id_path(1000, seed=3),
    ],
    ids=["far_local_min", "random_ids"],
)
def test_cc_path_with_local_minima(spark, path):
    n = len(path) + 1
    counter = RoundCounter()
    got = _assign(connected_components(_edges(spark, path), checkpoint=counter))
    assert got == {i: 0 for i in range(n)}
    assert counter.rounds()["label_prop_iters"] <= 25, counter.rounds()


def test_label_propagation_drives_to_global_min(spark):
    # reference pin (tests:371-376)
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    got = _assign(connected_components(e))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_cc_raises_when_not_converged(spark):
    chain = [(i, i + 1) for i in range(63)]
    with pytest.raises(RuntimeError, match="max_loops=2"):
        connected_components(_edges(spark, chain), max_loops=2)


def test_cc_rejects_unknown_algorithm(spark):
    e = spark.createDataFrame([], "band_key long, node long")
    for algorithm in ("two_phase", "alternating"):
        with pytest.raises(ValueError, match="algorithm"):
            DedupeConfig(algorithm=algorithm)
        with pytest.raises(ValueError, match="algorithm"):
            incremental_assignments(e, e, e, algorithm=algorithm)


def test_cc_random_graphs_match_union_find_oracle(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 80))
        ]
        edges = [(u, v) for u, v in edges if u != v]
        got = _assign(connected_components(_edges(spark, edges)))
        want = union_find_components(edges)
        assert partition_sets(got) == partition_sets(want), f"trial {trial}"
        # representative is the global min of each component
        assert all(got[rep] == rep for rep in got.values())


def test_driver_fallback_identical_to_distributed(spark):
    """The scale-adaptive union-find fallback must return EXACTLY the
    distributed result (same node set incl. self rows, same min reps)."""
    rng = random.Random(7)
    nodes = [rng.randint(-(2**40), 2**40) for _ in range(300)]
    edges = [
        (nodes[rng.randrange(len(nodes))], nodes[rng.randrange(len(nodes))])
        for _ in range(400)
    ]
    df = spark.createDataFrame(edges, "u long, v long")
    dist = {(r["u"], r["rep"]) for r in connected_components(df).collect()}
    fast = {
        (r["u"], r["rep"])
        for r in connected_components(df, driver_fallback_edges=10_000).collect()
    }
    assert fast == dist
    # over-threshold edge sets must keep taking the distributed path
    # (fallback bound smaller than the edge count -> same distributed result)
    still_dist = {
        (r["u"], r["rep"])
        for r in connected_components(df, driver_fallback_edges=10).collect()
    }
    assert still_dist == dist

    empty = spark.createDataFrame([], "u long, v long")
    assert connected_components(empty, driver_fallback_edges=100).count() == 0


def test_cc_star_chain_converges_with_max_loops_margin(spark):
    """Star-chained worst case (bench --cc-stress at 25x smaller scale):
    one component of 40k nodes whose 200-hub chain gives diameter ~200.
    The default loop must converge in about log2(diameter) rounds — assert
    a 4x margin under the default max_loops=100 budget, and exact
    correctness (single component labeled by the global min)."""
    counter = RoundCounter()
    edges = cc_stress_edges(spark, 40_000, 200).localCheckpoint(eager=True)
    assigns = connected_components(edges, max_loops=100, checkpoint=counter)
    rows = assigns.collect()
    assert len(rows) == 40_000
    assert {r["rep"] for r in rows} == {0}
    rounds = counter.rounds()
    # log2(200) ~ 8; anything near max_loops means the loop degraded to
    # per-hop diffusion and a 10^6-hub chain would blow the budget
    assert rounds["label_prop_iters"] <= 25, rounds
