"""Spans around the calls each pipeline makes into the engine's layers.

The traced run patches the names the pipeline modules import (for
example ``pipelines.report_full.gaussian_nb_cv_accuracy``) with
wrappers that open a span, so no program file changes; ``catalog_mix``
opens one span per query itself (``workloads.CatalogMix``). Each span gets
its own Spark job group; after an operation ends the benchmark reads
the jobs, stages and tasks of every group from ``statusTracker``.

A wrapped function that returns a DataFrame has it materialized inside
its span, so the span times execution rather than plan building, and
the materialized frame is passed on. Materializing uses an eager local
checkpoint rather than persist: with a cached frame at every layer
boundary, planning each later query compares it against every cached
plan, which made the traced sweep four times slower than the untraced
one and exhausted a 4 GiB driver heap planning ``cluster_metrics``.
A checkpoint cuts the lineage instead. Either way the traced run
executes different plans than the program does alone, which is why
end-to-end metrics come from untraced operations only.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame

# (pipeline module, imported name, layer, per-call counter)
# Counters: "cells_in" adds rows x features read, "rows_out" the rows of
# the returned frame, "calls" one per call, "fits" one per fitted model.
PATCHES = [
    ("report_full", "read_matrix_wide", "sources.matrix_io", "cells_in"),
    ("report_full", "assert_aligned", "sources.matrix_io", None),
    ("report_full", "align_views", "sources.matrix_io", None),
    ("report_full", "derive_labels", "sources.matrix_io", None),
    ("report_full", "stratified_split", "operators.splits", None),
    ("report_full", "minmax_scale_features", "operators.scale", None),
    ("report_full", "label_encode", "operators.scale", None),
    ("report_full", "embed_and_recon", "operators.inference", "rows_out"),
    # The J6 projection is defined in the pipeline module itself but is
    # inference-shaped (broadcast weights + Arrow mapInPandas).
    ("report_full", "projection_scores", "operators.inference", "rows_out"),
    ("report_full", "gaussian_nb_cv_accuracy", "operators.nb", "calls"),
    ("report_full", "prepare_scaled_views", "pipelines.report_full", None),
    ("omics", "read_matrix_wide", "sources.matrix_io", "cells_in"),
    ("omics", "assert_aligned", "sources.matrix_io", None),
    ("omics", "align_views", "sources.matrix_io", None),
    ("omics", "derive_labels", "sources.matrix_io", None),
    ("omics", "stratified_split", "operators.splits", None),
    ("omics", "minmax_scale_features", "operators.scale", None),
    ("omics", "label_encode", "operators.scale", None),
    ("omics", "objective_cv", "operators.train", "fits"),
    ("omics", "train_full_on_executor", "operators.train", "fits"),
    ("omics", "embed_with_params", "operators.inference", "rows_out"),
    ("omics", "gaussian_nb_cv_accuracy", "operators.nb", "calls"),
    ("omics", "kmeans_relational", "operators.kmeans", None),
    ("omics", "cluster_metrics", "operators.metrics", None),
    ("omics", "munkres_accuracy", "operators.metrics", None),
    ("sweep", "run_reference_pipeline", "pipelines.omics", None),
]

# Layers that report busy time and job counts, and their counters.
OPERATOR_LAYERS = {
    "sources.matrix_io": ("cells_in",),
    "operators.splits": (),
    "operators.scale": (),
    "operators.inference": ("rows_out",),
    "operators.nb": ("calls",),
    "operators.train": ("fits",),
    "operators.kmeans": (),
    "operators.metrics": (),
    # catalog_mix: one span per query, around running and collecting it.
    "catalog.relational_q": ("queries",),
    "catalog.text_q": ("queries",),
    "catalog.dedup_q": ("queries",),
    "catalog.similarity_q": ("queries",),
    "catalog.events_q": ("queries",),
}
# Layers whose own (self) time is reported: driver-side orchestration.
SELF_LAYERS = ("pipelines.report_full", "pipelines.omics", "pipelines.sweep", "bench")

# Which end-to-end metric each layer's metrics should move, on which
# workload, written down before any optimisation is measured.
MOVES = {
    "session.start_s": "setup_s on every workload",
    "session.peak_rss_mb": "no end-to-end metric: memory of the driver process and JVM",
    "sources.matrix_io": "table_s on report_wide; a small share of sweep_small",
    "operators.splits": "table_s on report_wide and sweep_small",
    "operators.scale": "table_s on report_wide and sweep_small",
    "operators.inference": "table_s on report_wide (JIVE projection) and sweep_small (embeddings)",
    "operators.nb": "table_s on report_wide (4 calls); sweep_small makes 1 narrow call",
    "operators.train": "table_s on sweep_small; absent from report_wide",
    "operators.kmeans": "table_s on sweep_small; absent from report_wide",
    "operators.metrics": "table_s on sweep_small; absent from report_wide",
    "catalog.relational_q": "table_s on catalog_mix (q3_shipping_priority)",
    "catalog.text_q": "table_s on catalog_mix (t5_topk_ngrams)",
    "catalog.dedup_q": "table_s on catalog_mix (y_d2_minhash_lsh)",
    "catalog.similarity_q": "table_s on catalog_mix (s1_ann_bruteforce)",
    "catalog.events_q": "table_s on catalog_mix (y_e2_sessionize)",
    "pipelines": "table_s on report_wide and sweep_small: driver-side orchestration between layer calls",
    "bench": "none: the benchmark's own collect of the result table",
    "spark": "every wall-time metric, on each workload",
    "trace": "none: tracing's own cost and coverage",
}


def moves(metric: str) -> str:
    """The MOVES entry for a per-layer metric name (longest match)."""
    keys = [k for k in MOVES if metric == k or metric.startswith(k + ".")]
    return MOVES[max(keys, key=len)] if keys else ""


@dataclass
class Span:
    id: int
    name: str
    layer: str
    run: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0


class Tracer:
    """Records spans for one process; ``run`` numbers the operations."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._lines: dict[str, int] = {}
        self.run = 0

    # -- spans -------------------------------------------------------
    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, layer, self.run,
                  parent.id if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)

    def wrap(self, fn, layer: str, counter: str | None):
        tracer = self
        name = f"{layer}.{fn.__name__}"

        def traced(*args, **kwargs):
            with tracer.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                rows = None
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
                    rows = out.count()
            if counter == "cells_in":
                sp.counts[counter] = rows * tracer._features_in(args[1])
            elif counter == "rows_out":
                sp.counts[counter] = rows
            elif counter == "fits":
                # objective_cv returns one row per fold fit; the
                # full retrain returns one fitted model.
                sp.counts[counter] = rows if rows is not None else 1
            elif counter == "calls":
                sp.counts[counter] = 1
            return out

        return traced

    def _features_in(self, path: str) -> int:
        if path not in self._lines:
            with open(path) as fh:
                self._lines[path] = sum(1 for _ in fh) - 1
        return self._lines[path]

    @contextlib.contextmanager
    def patched(self):
        """Install the wrappers for the duration of the block."""
        from ae_data_integration_spark.pipelines import omics, report_full, sweep

        modules = {"omics": omics, "report_full": report_full, "sweep": sweep}
        saved = []
        try:
            for mod_name, attr, layer, counter in PATCHES:
                mod = modules[mod_name]
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self.wrap(orig, layer, counter))
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    # -- per operation -------------------------------------------------
    def operation(self, fn, patch: bool = True):
        """Run ``fn`` as one operation under a root span; returns
        (result, wall_s). With ``patch`` false only the root span is
        recorded, which counts the program's own jobs without changing
        its plans."""
        self.run += 1
        with self.patched() if patch else contextlib.nullcontext():
            t0 = time.perf_counter()
            with self.span("bench.operation", "bench"):
                out = fn()
            wall = time.perf_counter() - t0
        self._collect_jobs()
        return out, wall

    def _collect_jobs(self) -> None:
        wait_for_listener(self.sc)
        st = self.sc.statusTracker()
        for sp in self.spans:
            if sp.run != self.run:
                continue
            for job_id in st.getJobIdsForGroup(f"perfbench-{sp.id}"):
                info = st.getJobInfo(job_id)
                sp.jobs += 1
                if info is None:
                    continue
                for stage_id in info.stageIds:
                    sp.stages += 1
                    stage = st.getStageInfo(stage_id)
                    if stage is not None:
                        sp.tasks += stage.numCompletedTasks
                        sp.tasks_failed += stage.numFailedTasks

    # -- reporting -----------------------------------------------------
    def self_times(self, run: int) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        spans = [s for s in self.spans if s.run == run]
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def layer_table(self, run: int) -> dict[str, float]:
        """Per-layer metrics of one traced operation."""
        spans = [s for s in self.spans if s.run == run]
        by_id = {s.id: s for s in spans}
        selfs = self.self_times(run)
        out: dict[str, float] = {}
        for layer, counters in OPERATOR_LAYERS.items():
            out[f"{layer}.busy_s"] = 0.0
            out[f"{layer}.jobs"] = 0
            for c in counters:
                out[f"{layer}.{c}"] = 0
        for layer in SELF_LAYERS:
            out[f"{layer}.self_s"] = 0.0
        for key in ("jobs", "stages", "tasks", "tasks_failed"):
            out[f"spark.{key}"] = 0
        for s in spans:
            for key in ("jobs", "stages", "tasks", "tasks_failed"):
                out[f"spark.{key}"] += getattr(s, key)
            if s.layer in OPERATOR_LAYERS:
                out[f"{s.layer}.jobs"] += s.jobs
                for c, v in s.counts.items():
                    out[f"{s.layer}.{c}"] += v
                if not _has_ancestor_in(s, s.layer, by_id):
                    out[f"{s.layer}.busy_s"] += s.end - s.start
            else:
                out[f"{s.layer}.self_s"] += selfs[s.id]
        return out

    def check_nesting(self) -> list[str]:
        """Every child span lies within its parent."""
        by_id = {s.id: s for s in self.spans}
        errors = []
        for s in self.spans:
            if s.parent is None:
                continue
            p = by_id[s.parent]
            if not (p.start <= s.start <= s.end <= p.end) or p.run != s.run:
                errors.append(f"span {s.id} {s.name} escapes parent {p.id} {p.name}")
        return errors

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _has_ancestor_in(s: Span, layer: str, by_id: dict[int, Span]) -> bool:
    p = by_id.get(s.parent) if s.parent is not None else None
    while p is not None:
        if p.layer == layer:
            return True
        p = by_id.get(p.parent) if p.parent is not None else None
    return False


def wait_for_listener(sc) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status tracker holds every job the operation started."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
