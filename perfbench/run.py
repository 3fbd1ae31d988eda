#!/usr/bin/env python3
"""Near-duplicate dedup benchmark: batch pipeline throughput and incremental
fold latency, with a separate traced mode that splits time by module.

Run from the repository root, one workload per invocation:

    python3 perfbench/run.py --workload text_blocks --seed 1 --seconds 1 --trace 0

``--workload all`` runs every workload of BENCHMARK.json in turn.

Each invocation starts one Spark session at ``local[N]`` (N = half the
usable cores), sets up its workload, then drives it closed-loop (one process,
one operation in flight) for ``--seconds``; the first operation is the first
pipeline pass (or fold) of the session, as in a ``main.py`` job. Every
operation's outputs are checked untimed. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics. The lines before it
print every metric with unit, median, quartiles and sample count, plus host
noise readings; a JSON artifact with every sample (and, traced, every span)
goes to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(REPO))

# importing the program first: without it the benchmark must fail fast
from daft_minhash_dedupe_spark.config import DedupeConfig  # noqa: E402
from daft_minhash_dedupe_spark.io import (  # noqa: E402
    StageCheckpointer,
    partitioned_save,
    write_table,
)
from daft_minhash_dedupe_spark.pipeline import (  # noqa: E402
    MinHashDedupePipeline,
    prepare_web_pages,
)

import checks  # noqa: E402
import host  # noqa: E402
from tracing import ROOT, TracingCheckpointer, Tracer  # noqa: E402

# The workloads are small versions of the shapes they stand for (400k
# blocks; a 200k-block base folded 20k blocks at a time), so that a run,
# session start and first pass included, stays under a minute on a loaded
# 4-core host. At these sizes a pass is mostly the pipeline's per-stage cost
# (Spark jobs, checkpoint writes), not per-row work. The driver-fallback CC
# threshold is lowered from 100k edges so that text_blocks (~1.5k candidate
# edges) still takes the distributed CC path its full-size shape takes.
# Everything else is the reference-parity DedupeConfig(): num_perm=64,
# ngram=5, threshold=0.7.
CONFIG = DedupeConfig(cc_driver_fallback_edges=500)
WORKLOADS = {
    "text_blocks": {"docs": 5_000, "tokens": (5, 40), "dup_rate": 0.25},
    "incremental_fold": {
        "docs": 5_000, "batch": 1_000, "batches": 4,
        "tokens": (5, 40), "dup_rate": 0.25,
    },
}
STOP_STARTING_OPS_S = 120  # no new operation after this, so a run ends < 180 s
WATCHDOG_S = 170

SIX_STAGES = {"prepped", "normalized", "signatures", "bands", "pairs", "components"}
LAYER_TIMES = (
    "pipeline.prep", "functions.normalize", "functions.minhash",
    "operators.banding", "operators.edges", "operators.components",
    "operators.merge", "io.stage", "operators.incremental",
    "operators.state.read", "operators.state.append",
)
LAYER_COUNTS = {
    "functions.minhash.shingles_per_doc": "count/doc",
    "operators.banding.rows": "count",
    "operators.edges.edges_per_doc": "count/doc",
    "operators.components.rounds": "count",
    "operators.components.distributed": "count",
    "operators.components.components": "count",
    "operators.merge.survivors": "count",
    "io.bytes_per_input_byte": "B/B",
    "operators.incremental.relabel_ratio": "ratio",
    "operators.state.append_bytes": "B",
}


def span(tr: Tracer | None, name: str):
    return nullcontext() if tr is None else tr.span(name)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def start_session(work: Path):
    from daft_minhash_dedupe_spark.session import get_spark

    # each task slot runs a JVM task thread and, in the text stages, a Python
    # worker beside it: half the cores keeps the busy threads within them
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    host_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    # the workloads hold a few MB of data; with a 3g heap to grow into, G1's
    # pause-time-driven sizing set the peak RSS, which then spread by 15-23%
    # between seeds, against 3-6% with 1g and no change in pass time
    heap_gb = 1
    spark = get_spark(
        master=f"local[{cores}]",
        app_name="perfbench",
        extra_confs={
            "spark.driver.memory": f"{heap_gb}g",
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, {"master": spark.sparkContext.master, "cores": cores,
                   "driver_heap": f"{heap_gb}g", "host_mem_gb": round(host_gb, 1)}


def gen_corpus(spark, spec: dict, seed: int, n_rows: int):
    from daft_minhash_dedupe_spark.sources.synthetic_spark import bench_corpus

    lo, hi = spec["tokens"]
    return bench_corpus(spark, n_rows, seed=seed, min_tokens=lo, max_tokens=hi,
                        dup_rate=spec["dup_rate"])


def dedupe_pass(spark, pipe, df, root: Path, tr: Tracer | None) -> tuple[dict, dict]:
    """One full ``MinHashDedupePipeline.run`` with a parquet
    ``StageCheckpointer`` root and parquet output (the ``main.py
    --checkpoint`` shape) under ``root``; returns (record, run result)."""
    ckpt, out = root / "ckpt", root / "out"
    ck = (StageCheckpointer(spark, root=str(ckpt)) if tr is None
          else TracingCheckpointer(spark, root=str(ckpt), tracer=tr))
    t0 = time.perf_counter()
    with span(tr, ROOT):
        res = pipe.run(df, checkpointer=ck)
        with span(tr, "operators.merge"):
            partitioned_save(res["results"], str(out / "survivors"))
            write_table(res["clusters"], str(out / "clusters"))
    seconds = time.perf_counter() - t0
    # stage() reads back any directory already marked complete, so a pass
    # that did not run all six stages timed a parquet read
    stages = {m["stage"] for m in ck.metrics}
    rec = {"seconds": seconds, "bytes": dir_bytes(root), "counts": {},
           "fails": [] if stages == SIX_STAGES else [f"stages run: {sorted(stages)}"]}
    if tr is not None:
        rec["counts"] = {
            "operators.banding.rows": next(m["rows"] for m in ck.metrics if m["stage"] == "bands"),
            **tr.counts(tr.op),
        }
    return rec, res


def batch_check(root: Path, rec: dict) -> tuple[list[str], dict]:
    fails, counts = checks.check_batch(root / "ckpt", root / "out")
    if rec["counts"]:
        rec["counts"].update({
            "operators.edges.edges_per_doc": counts["edges"] / counts["docs"],
            "operators.components.components": counts["components"],
            "operators.merge.survivors": counts["survivors"],
        })
    return fails, {k: counts[k] for k in ("survivors", "components")}


class BatchWorkload:
    """One operation = one ``dedupe_pass`` over the corpus, each into fresh
    directories. The first operation's outputs are kept for the
    once-per-invocation recall / oracle check."""

    def __init__(self, spark, work: Path, spec: dict, seed: int):
        self.spark, self.work, self.spec, self.seed = spark, work, spec, seed
        self.pipe = MinHashDedupePipeline(CONFIG)
        self.corpus = work / "corpus"
        self.docs = spec["docs"]

    def setup(self, tracer: Tracer) -> None:
        with tracer.span("sources.gen"):
            gen_corpus(self.spark, self.spec, self.seed, self.docs).write.parquet(str(self.corpus))
        self.input_bytes = dir_bytes(self.corpus)

    def has_op(self, i: int) -> bool:
        return True

    def op(self, i, tr: Tracer | None) -> dict:
        root = self.work / f"op-{i}"
        df = prepare_web_pages(self.spark.read.parquet(str(self.corpus)))
        rec, res = dedupe_pass(self.spark, self.pipe, df, root, tr)
        rec["docs"] = self.docs
        if tr is not None:
            shingles = res["shingled"].selectExpr("sum(size(shingles))").first()[0]
            rec["counts"].update({
                "functions.minhash.shingles_per_doc": shingles / self.docs,
                "io.bytes_per_input_byte": dir_bytes(root / "ckpt") / self.input_bytes,
            })
        return rec

    def check(self, i, rec: dict) -> tuple[list[str], dict]:
        root = self.work / f"op-{i}"
        fails, counts = batch_check(root, rec)
        if i != 0:
            shutil.rmtree(root)
        return fails, counts

    def finish(self) -> tuple[list[str], dict]:
        return checks.check_recall_and_oracle(self.work / "op-0" / "ckpt", CONFIG)


class FoldWorkload:
    """Set-up bootstraps ``IncrementalState`` from a full pipeline run over a
    base corpus; one operation folds the next batch into the state the way
    ``main.py run_incremental`` does. Batches are id-slices of one seeded
    corpus, so re-crawls link a batch to earlier batches and to the base."""

    def __init__(self, spark, work: Path, spec: dict, seed: int):
        self.spark, self.work, self.spec, self.seed = spark, work, spec, seed
        self.pipe = MinHashDedupePipeline(CONFIG)
        self.corpus = work / "corpus"
        self.state_root = work / "state"
        self.folded = 0  # highest slice folded so far

    def slice_df(self, cond):
        from pyspark.sql import functions as F

        raw = self.spark.read.parquet(str(self.corpus)).where(cond(F.col("slice")))
        return prepare_web_pages(raw)

    def setup(self, tracer: Tracer) -> None:
        """Generate the sliced corpus, then bootstrap the state from a full
        pipeline run over the base slice."""
        from pyspark.sql import functions as F

        from daft_minhash_dedupe_spark.operators.state import (
            IncrementalState,
            meta_from_config,
        )

        s = self.spec
        n = s["docs"] + s["batch"] * s["batches"]
        doc_id = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
        sliced = gen_corpus(self.spark, s, self.seed, n).withColumn(
            "slice",
            F.when(doc_id < s["docs"], 0).otherwise(
                ((doc_id - s["docs"]) / s["batch"]).cast("int") + 1
            ),
        )
        with tracer.span("sources.gen"):
            sliced.write.partitionBy("slice").parquet(str(self.corpus))
        ck = StageCheckpointer(self.spark, root=str(self.work / "bootstrap"))
        res = self.pipe.run(self.slice_df(lambda c: c == 0), checkpointer=ck)
        self.state = IncrementalState(self.spark, str(self.state_root))
        self.state.bootstrap(res["bands"], res["assignments"], meta_from_config(CONFIG))

    def has_op(self, i: int) -> bool:
        return self.folded < self.spec["batches"]

    def op(self, i, tr: Tracer | None) -> dict:
        from pyspark.sql import functions as F

        from daft_minhash_dedupe_spark.operators.incremental import incremental_assignments

        k = self.folded + 1
        out = self.work / f"fold-{i}"
        df = self.slice_df(lambda c: c == k)

        def boundary(name, frame, as_main_py):
            """Untraced: what main.py does here (None = nothing, else a
            localCheckpoint with that eagerness). Traced: materialize."""
            if tr is None:
                return frame if as_main_py is None else frame.localCheckpoint(eager=as_main_py)
            with tr.span(name):
                return frame.localCheckpoint(eager=True)

        state, pipe, c = self.state, self.pipe, CONFIG
        t0 = time.perf_counter()
        with span(tr, ROOT):
            prior_bands = boundary("operators.state.read", state.read_bands(), None)
            prior_assigns = boundary("operators.state.read", state.read_assignments(), None)
            prepped = boundary("pipeline.prep", pipe.prep(df), False)
            norm = boundary("functions.normalize", pipe.normalize(prepped), None)
            sigs = boundary("functions.minhash", pipe.signatures(norm), None)
            new_bands = boundary("operators.banding", pipe.bands(sigs), False)
            with span(tr, "operators.incremental"):
                new_assign, old_updates = incremental_assignments(
                    new_bands.select("band_key", "node"), prior_bands, prior_assigns,
                    algorithm=c.algorithm, edges_checkpoint_dir=str(out / "_work"),
                )
                delta = new_assign.unionByName(old_updates).localCheckpoint(eager=True)
            clusters_new = (
                prepped.select(c.index_col, "node_id")
                .join(new_assign.withColumnRenamed("u", "node_id"), "node_id", "left")
                .select(c.index_col, F.coalesce("rep", "node_id").alias(c.component_col))
            )
            with span(tr, "io.stage"):
                write_table(clusters_new, str(out / "clusters"))
            with span(tr, "operators.state.append"):
                state.append(new_bands.select("band_key", "node"), delta, batch_id=k)
        seconds = time.perf_counter() - t0
        self.folded = k
        appended = sum(dir_bytes(self.state_root / t / f"batch_id={k}")
                       for t in ("bands", "components"))
        docs = self.spec["batch"]
        rec = {"seconds": seconds, "docs": docs, "bytes": appended, "fails": [], "counts": {}}
        if tr is not None:
            edges = checks.read_parquet(out / "_work" / "incremental_edges", ["u"])["u"]
            rec["counts"] = {
                "operators.banding.rows": new_bands.count(),
                "operators.edges.edges_per_doc": len(edges) / docs,
                "operators.incremental.relabel_ratio": old_updates.count() / max(1, new_assign.count()),
                "operators.state.append_bytes": appended,
            }
        return rec

    def check(self, i, rec: dict) -> tuple[list[str], dict]:
        out = self.work / f"fold-{i}"
        fails, counts = checks.check_fold(self.state_root, self.folded, out, rec["docs"])
        shutil.rmtree(out)
        return fails, {f"delta_rows.{self.folded}": counts["delta_rows"]}

    def finish(self) -> tuple[list[str], dict]:
        fails, boot = checks.check_components(self.work / "bootstrap")
        fails += checks.check_fold_equivalence(self.state_root)
        return fails, {"bootstrap.components": boot["components"], "folded_batches": self.folded}


def checked_op(wl, rec: dict) -> None:
    """Run the untimed output checks of one operation into ``rec``."""
    try:
        fails, rec["checked"] = wl.check(rec["op"], rec)
    except Exception:
        traceback.print_exc()
        fails = ["check raised: " + traceback.format_exc(limit=1).strip()[-300:]]
    rec["fails"] += fails


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q2, q1, q3


def run_all(args) -> int:
    """Every workload of BENCHMARK.json, one process each (each needs its own
    Spark session); exits non-zero if any run fails or fails its checks."""
    status = 0
    for w in json.loads((REPO / "BENCHMARK.json").read_text())["workloads"]:
        print(f"== {w['name']}", flush=True)
        r = subprocess.run(
            [sys.executable, __file__, "--workload", w["name"], "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        print(r.stdout, end="", flush=True)
        lines = r.stdout.splitlines()
        if r.returncode or not lines or not json.loads(lines[-1])["correct"]:
            status = 1
    return status


def drive(wl, args, tracer: Tracer, rss: host.RssSampler, t_start: float) -> list[dict]:
    """The closed loop: one operation at a time until ``--seconds`` have
    passed (at least one; four when traced), each checked untimed."""
    ops: list[dict] = []
    t_end = time.perf_counter() + args.seconds
    i = 0
    while wl.has_op(i) and time.perf_counter() - t_start < STOP_STARTING_OPS_S and (
        time.perf_counter() < t_end or len(ops) < (4 if args.trace else 1)
    ):
        # traced mode traces the even operations: the first, which is the
        # operation untraced runs time, and later ones that, between the
        # untraced odd ones, give the tracing overhead
        tr = tracer if args.trace and i % 2 == 0 else None
        tracer.op = i if tr else None
        # every timed operation starts from a collected driver heap, so what
        # it allocates, not the GC debt of set-up, sets its pauses and peak RSS
        wl.spark._jvm.System.gc()
        rss.active.set()
        try:
            rec = wl.op(i, tr)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            rec = {"fails": ["raised: " + traceback.format_exc(limit=1).strip()[-300:]]}
        finally:
            rss.active.clear()
            tracer.op = None
        rec.update(op=i, traced=tr is not None)
        if "seconds" in rec:
            checked_op(wl, rec)
        ops.append(rec)
        i += 1
    return ops


def compare_counts(args, golden: dict, records: list[dict]) -> None:
    """Golden counts for the default seed; for other seeds every pass of a
    batch workload must agree with the first."""
    want = golden.get(args.workload, {}) if args.seed == golden["seed"] else {}
    first = next((r["checked"] for r in records if "checked" in r), {})
    same_input = args.workload != "incremental_fold"
    for r in records:
        for key, got in r.get("checked", {}).items():
            ref = want.get(key, first.get(key) if same_input else None)
            if ref is not None and got != ref:
                r["fails"].append(f"{key} = {got}, expected {ref}")


def metric_samples(args, good: list[dict], setup_s: float, peak_rss_bytes: int,
                   tracer: Tracer) -> dict[str, tuple[str, list[float]]]:
    """name -> (unit, samples): end-to-end metrics untraced, per-layer
    metrics traced (from the first operation, the one untraced runs time)."""
    if args.trace == 0:
        return {
            "docs_per_s": ("docs/s", [r["docs"] / r["seconds"] for r in good]),
            "op_p50_s": ("s", [r["seconds"] for r in good]),
            "setup_s": ("s", [setup_s]),
            "peak_rss_mb": ("MB", [peak_rss_bytes / 2**20]),
            "bytes_per_doc": ("B/doc", [r["bytes"] / r["docs"] for r in good]),
        }
    first = [r for r in good if r["op"] == 0 and r["traced"]]
    setup_self = tracer.self_seconds(None)
    per_op = [tracer.self_seconds(r["op"]) for r in first]
    samples = {
        "session.start_s": ("s", [setup_self["session.start"]]),
        "sources.gen_s": ("s", [setup_self["sources.gen"]]),
        "pipeline.self_s": ("s", [t.get(ROOT, 0.0) for t in per_op]),
    }
    for name in LAYER_TIMES:
        samples[f"{name}_s"] = ("s", [t.get(name, 0.0) for t in per_op])
    for name, unit in LAYER_COUNTS.items():
        samples[name] = (unit, [r["counts"].get(name, 0) for r in first])
    # passes keep speeding up as the JVM warms: the first is left out, and
    # the traced operation 2 sits between untraced 1 and 3
    traced = [r["seconds"] for r in good if r["traced"] and r["op"] > 0]
    untraced = [r["seconds"] for r in good if not r["traced"]]
    if traced and untraced:
        samples["trace.overhead_frac"] = (
            "ratio", [statistics.median(traced) / statistics.median(untraced) - 1])
    return samples


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["all", *sorted(WORKLOADS)])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    t_start = time.perf_counter()

    work = REPO / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # every temp file of this process, the JVM and the Python workers stays
    # inside the checkout; workers import the program from the repo root
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    )
    golden = json.loads((HERE / "golden.json").read_text())
    probe_before = host.host_probe()
    jiffies_before = host.cpu_jiffies()

    jvm = {}

    def watchdog():
        print(f"perfbench: no result after {WATCHDOG_S}s, stopping", file=sys.stderr)
        if "proc" in jvm:
            host.kill_tree(jvm["proc"].pid)
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S, watchdog)
    timer.daemon = True
    timer.start()

    tracer = Tracer()
    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark, session_info = start_session(work)
    jvm["proc"] = spark.sparkContext._gateway.proc
    rss = host.RssSampler(jvm["proc"].pid)
    try:
        try:
            wl = {"incremental_fold": FoldWorkload}.get(args.workload, BatchWorkload)(
                spark, work, WORKLOADS[args.workload], args.seed
            )
            wl.setup(tracer)
            setup_s = time.perf_counter() - t_setup
            phases = {"setup": setup_s}
            t0 = time.perf_counter()
            ops = drive(wl, args, tracer, rss, t_start)
            phases["measure"] = time.perf_counter() - t0
        finally:
            rss.close()
            spark.stop()
            jvm["proc"].stdin.close()  # the gateway JVM exits on stdin EOF
        # the once-per-invocation checks read parquet with pyarrow only, so
        # they run while the JVM exits
        t0 = time.perf_counter()
        once = {"op": "once-per-run"}
        try:
            once["fails"], once["checked"] = wl.finish()
        except Exception:
            traceback.print_exc()
            once["fails"] = ["raised: " + traceback.format_exc(limit=1).strip()[-300:]]
        phases["once_per_run_check"] = time.perf_counter() - t0
    finally:
        try:
            jvm["proc"].wait(timeout=30)
        except subprocess.TimeoutExpired:
            host.kill_tree(jvm["proc"].pid)
            jvm["proc"].wait(timeout=10)
        timer.cancel()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's work dir is still there
    steal = host.steal_frac(jiffies_before, host.cpu_jiffies())
    probe_after = host.host_probe()
    phases["total"] = time.perf_counter() - t_start

    records = [*ops, once]
    compare_counts(args, golden, records)
    # the once-per-invocation check counts as an operation
    attempted = len(records)
    failed = sum(1 for r in records if r["fails"])
    correct = failed == 0
    good = [r for r in ops if not r["fails"]]

    metrics = {}
    for name, (unit, xs) in metric_samples(args, good, setup_s, rss.peak_bytes, tracer).items():
        if xs:
            med, q1, q3 = quartiles(xs)
            metrics[name] = {"value": med, "unit": unit}
            print(f"{name:40s} {med:14.6g} {unit:8s} q1={q1:.6g} q3={q3:.6g} n={len(xs)}")
    for r in records:
        for f in r["fails"]:
            print(f"FAIL op {r['op']}: {f}")
    print(f"checks: {'pass' if correct else 'FAIL'} ({failed} of {attempted} failed, "
          f"failed_frac={failed / attempted:.4f}); {json.dumps(once.get('checked', {}))}")
    print(f"host before: {json.dumps(probe_before)}  after: {json.dumps(probe_after)}  "
          f"cpu steal during the run: {steal:.4f}")
    print(f"session: {json.dumps(session_info)}  phases: {json.dumps(phases)}  "
          f"peak_rss_jvm_mb: {rss.peak_root_bytes / 2**20:.1f}")

    artifact = REPO / ".perfbench_out" / (
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    artifact.parent.mkdir(exist_ok=True)
    t0 = tracer.spans[0]["start"]
    artifact.write_text(json.dumps({
        "args": vars(args), "session": session_info, "setup_s": setup_s,
        "host_probe": {"before": probe_before, "after": probe_after, "steal_frac": steal},
        "phases": phases,
        "ops": ops, "once_per_run": once, "metrics": metrics,
        "spans": [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in tracer.spans],
    }, indent=1, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
