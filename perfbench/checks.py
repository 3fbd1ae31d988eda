"""Output checks, run untimed after every operation and once per invocation.

Per-operation checks read the parquet the operation wrote with pyarrow, so
they start no Spark job. Each returns a list of failure messages (empty = ok).
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.dataset as ds


def read_parquet(path: Path, columns: list[str]) -> dict[str, list]:
    # "__pid__=N" partition dirs (partitioned_save) start with "_", which
    # pyarrow skips by default; skip only hidden files and Spark markers
    data = ds.dataset(str(path), format="parquet", partitioning="hive",
                      ignore_prefixes=[".", "_SUCCESS", "_STAGE_OK"])
    return data.to_table(columns=columns).to_pydict()


def components_of(edges) -> dict[int, int]:
    """node -> minimum node of its component, by union-find over ``edges``
    (an implementation independent of the program's)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in list(parent)}


def check_components(ckpt: Path) -> tuple[list[str], dict]:
    """The components table of a pipeline pass equals union-find over its
    candidate edges, so every ``rep`` is the minimum node of its component.
    Returns (failures, counts)."""
    fails = []
    comp = read_parquet(ckpt / "components", ["u", "rep"])
    rep_of = dict(zip(comp["u"], comp["rep"]))
    edges = read_parquet(ckpt / "pairs", ["u", "v"])
    want = components_of(zip(edges["u"], edges["v"]))
    if rep_of != want:
        bad = sum(1 for n in want.keys() | rep_of.keys() if rep_of.get(n) != want.get(n))
        fails.append(f"components differ from union-find on {bad} nodes")
    counts = {"components": len(set(rep_of.values())), "edges": len(edges["u"])}
    return fails, counts


def check_batch(ckpt: Path, out: Path) -> tuple[list[str], dict]:
    """``check_components``, plus checks on the pass's outputs:

    - the survivors are exactly the isolated docs plus one representative per
      component, each once;
    - every doc has one cluster row, labelled with its representative's key.
    """
    fails, counts = check_components(ckpt)
    prepped = read_parquet(ckpt / "prepped", ["block_id", "node_id"])
    node_of = dict(zip(prepped["block_id"], prepped["node_id"]))
    key_of = {n: b for b, n in node_of.items()}
    comp = read_parquet(ckpt / "components", ["u", "rep"])
    rep_of = dict(zip(comp["u"], comp["rep"]))

    survivors = read_parquet(out / "survivors", ["block_id"])["block_id"]
    keep = {b for b, n in node_of.items() if rep_of.get(n, n) == n}
    if len(survivors) != len(set(survivors)) or set(survivors) != keep:
        fails.append(
            f"survivors: {len(survivors)} rows, {len(set(survivors) ^ keep)} "
            "differ from isolated-or-representative"
        )

    clusters = read_parquet(out / "clusters", ["block_id", "component"])
    label = dict(zip(clusters["block_id"], clusters["component"]))
    if len(clusters["block_id"]) != len(node_of) or any(
        label.get(b) != key_of.get(rep_of.get(n, n)) for b, n in node_of.items()
    ):
        fails.append("clusters: a doc is missing or not labelled with its representative")
    counts.update(docs=len(node_of), survivors=len(survivors))
    return fails, counts


def check_fold(state_root: Path, batch_id: int, out: Path, batch_docs: int) -> tuple[list[str], dict]:
    """Checks on one incremental fold: the appended assignment delta only
    ever lowers a label, and every doc of the batch has one cluster row
    whose id is at most its own node id."""
    fails = []
    delta = read_parquet(state_root / "components" / f"batch_id={batch_id}", ["u", "rep"])
    if any(r > u for u, r in zip(delta["u"], delta["rep"])):
        fails.append("state delta labels a node with a larger representative")
    clusters = read_parquet(out / "clusters", ["block_id", "component"])
    if len(clusters["block_id"]) != batch_docs or len(set(clusters["block_id"])) != batch_docs:
        fails.append(f"clusters: {len(clusters['block_id'])} rows for {batch_docs} docs")
    counts = {"delta_rows": len(delta["u"]), "docs": batch_docs}
    return fails, counts


def check_fold_equivalence(state_root: Path) -> list[str]:
    """The folded state's cluster ids equal a from-scratch clustering over
    the state's band table, which holds the band keys of every folded doc:
    docs sharing a band key are linked (the pipeline's candidate edges), and
    union-find gives each component's minimum node. That is the equivalence
    operators/incremental.py promises with a full re-run. The folded ids are
    the state's assignment rows, the latest batch winning per node."""
    bands = read_parquet(state_root / "bands", ["band_key", "node"])
    first: dict[int, int] = {}
    edges = []
    for key, node in zip(bands["band_key"], bands["node"]):
        edges.append((first.setdefault(key, node), node))
    full = components_of(edges)

    comp = read_parquet(state_root / "components", ["u", "rep", "batch_id"])
    folded: dict[int, int] = {}
    latest: dict[int, int] = {}
    for u, rep, b in zip(comp["u"], comp["rep"], comp["batch_id"]):
        if b >= latest.get(u, -1):
            latest[u], folded[u] = b, rep
    bad = sum(1 for n in set(bands["node"]) if folded.get(n, n) != full.get(n, n))
    return [f"folded cluster ids differ from a full run on {bad} docs"] if bad else []


def check_recall_and_oracle(ckpt: Path, cfg) -> tuple[list[str], dict]:
    """On one pass: planted dup-pair recall >= 0.99 and cluster ids equal to
    the pure-Python oracle's (oracle.py). The planted pairs are the corpus's
    verbatim re-crawls: every doc whose text another doc also has, paired with
    the first doc of that text."""
    from daft_minhash_dedupe_spark import oracle

    prepped = read_parquet(ckpt / "prepped", ["node_id", "block_text"])
    docs = dict(zip(prepped["node_id"], prepped["block_text"]))
    comp = read_parquet(ckpt / "components", ["u", "rep"])
    got = dict(zip(comp["u"], comp["rep"]))

    first: dict[str, int] = {}
    dup = [(first[t], n) for n, t in docs.items() if first.setdefault(t, n) != n]
    recall = sum(got.get(a, a) == got.get(b, b) for a, b in dup) / len(dup) if dup else 1.0
    want = oracle.minhash_lsh_clusters(docs, cfg.num_perm, cfg.ngram_size, cfg.seed, cfg.B, cfg.R)

    fails = []
    if recall < 0.99:
        fails.append(f"planted dup-pair recall {recall:.4f} < 0.99")
    if got != want:
        fails.append("clusters differ from oracle.py")
    return fails, {"dup_pair_recall": recall, "planted_dup_pairs": len(dup)}
