"""Spans recorded from the benchmark side, around calls into each module.

A Spark call returns a lazy plan, so a span may close only after its
boundary has been materialized. The batch pipeline already materializes every
stage inside ``StageCheckpointer.stage()``, so ``TracingCheckpointer`` traces
the unmodified ``MinHashDedupePipeline.run`` from there. The incremental fold
wraps its public calls and materializes each boundary itself (run.py).

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from daft_minhash_dedupe_spark.io import StageCheckpointer

# stage name (pipeline.py) -> the module whose work that stage materializes
STAGE_LAYERS = {
    "prepped": "pipeline.prep",
    "normalized": "functions.normalize",
    "signatures": "functions.minhash",
    "bands": "operators.banding",
    "pairs": "operators.edges",
    "components": "operators.components",
}
ROOT = "pipeline"


class Tracer:
    """In-memory span store. ``op`` tags every span opened while it is set,
    so the spans of one operation share an identifier."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, start: float | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter() if start is None else start,
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def self_seconds(self, op: int) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        spans = self.op_spans(op)
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def counts(self, op: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.op_spans(op):
            out.update(s["counts"])
        return out


def cc_rounds(checkpoint_names: list[str]) -> int:
    """Iterations of the distributed CC loop, from the names it gives its
    per-round checkpoints (``lp_labels_N`` / ``cc_edges_N``)."""
    rounds = [int(m.group(1)) for n in checkpoint_names
              if (m := re.fullmatch(r"(?:lp_labels|cc_edges)_(\d+)", n))]
    return max(rounds, default=0)


@dataclass
class TracingCheckpointer(StageCheckpointer):
    """``StageCheckpointer`` that records one span per stage, io spans for
    its own bookkeeping, and the names of intra-stage checkpoints.

    ``connected_components`` runs its iterative jobs while the argument of
    ``stage("components", ...)`` is evaluated, before ``stage`` is entered;
    so each stage span opens where the previous one closed and covers the
    building of its input as well as its write.
    """

    tracer: Tracer = field(default_factory=Tracer)
    checkpoint_names: list[str] = field(default_factory=list)
    _last_end: float = field(default_factory=time.perf_counter)

    def stage(self, name, df):
        with self.tracer.span(STAGE_LAYERS[name], start=self._last_end) as s:
            out = super().stage(name, df)
        s["counts"][f"{name}.rows"] = self.metrics[-1]["rows"]
        if name == "components":
            cc = [n for n in self.checkpoint_names if n != "shingled"]
            s["counts"]["operators.components.distributed"] = int(bool(cc))
            s["counts"]["operators.components.rounds"] = cc_rounds(cc)
        self._last_end = s["end"]
        return out

    def _footer_partition_rows(self, d):
        with self.tracer.span("io.stage"):
            return StageCheckpointer._footer_partition_rows(d)

    def iter_checkpoint(self, df, name):
        self.checkpoint_names.append(name)
        return super().iter_checkpoint(df, name)

    def flush_metrics_table(self, target=None):
        with self.tracer.span("io.stage"):
            super().flush_metrics_table(target)
