"""The benchmark workloads: inputs, one timed operation, and its checks.

Each workload is one closed-loop client: it submits the next operation
only after the previous one returned its collected tables.

``report_wide`` and ``sweep_small`` run the two omics pipelines on
seeded two-view TSVs and check their tables bit-exactly against goldens
recorded by ``record_goldens.py``. ``catalog_mix`` runs one query of
each catalog layer the omics pipelines never reach on seeded parquet
tables and checks every result against the query's DuckDB oracle.

The report and the sweep get no warm-up: they are batch jobs their
user starts in a fresh process, so the timed operation pays the JVM's
warm-up as theirs does, and a warm-up operation would cost as much as
the timed one, which the time budget does not allow. ``catalog_mix``
models queries against a running session: one untimed pass warms it,
then warm passes are timed. A cold pass is short and JIT-bound, and
its time swung by 1.7x from run to run on a shared 4-core machine.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
from dataclasses import dataclass

from gen import write_views
from gen_tables import write_tables

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(HERE, "goldens.json")
# Goldens are recorded for the omics inputs of datasets
# 0..N_DATASETS-1; a run's seed picks dataset ``seed % N_DATASETS``, so
# every run's tables are checked bit-exactly, whatever its seed.
N_DATASETS = 11


@dataclass(frozen=True)
class Shape:
    n_samples: int
    d1: int
    d2: int
    n_classes: int


def table_key(rows) -> list[list]:
    """A table as JSON values that round-trip bit-exactly."""
    return [[float(v).hex() if isinstance(v, float) else v for v in row] for row in rows]


def load_goldens(path: str = GOLDENS) -> dict:
    """{workload: {size: {seed: table_key}}}, recorded by record_goldens.py."""
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


class Workload:
    name = ""
    root_layer = ""
    sizes: dict[str, Shape] = {}
    # Whether traced runs patch the pipeline modules' imported names.
    patches = True
    # Whether one untimed operation runs before the timed ones.
    warm_up = False

    def __init__(self, size: str, goldens: dict):
        self.size = size
        self.goldens = goldens.get(self.name, {})

    def make_inputs(self, work_dir: str, seed: int) -> dict:
        dataset = seed % N_DATASETS
        return {"seed": seed, "dataset": dataset,
                "views": self._views(work_dir, self.size, dataset)}

    def prepare(self, spark, inputs: dict) -> None:
        """Untimed work after set-up, before the first operation."""

    def operation(self, spark, inputs: dict, tracer=None) -> list[tuple]:
        raise NotImplementedError

    def check(self, rows: list[tuple], inputs: dict) -> list[str]:
        """Checks one timed table on its own."""
        raise NotImplementedError

    def cross_check(self, spark, inputs: dict, tables: list, thorough: bool) -> list[str]:
        """Untimed checks across every timed table of the run;
        ``thorough`` adds the checks too slow for every run."""
        return [f"table {i} differs from table 0"
                for i, t in enumerate(tables) if t != tables[0]]

    def golden_errors(self, rows, size: str, dataset: int) -> list[str]:
        want = self.goldens.get(size, {}).get(str(dataset))
        if want is None:
            return [f"{self.name} {size} dataset {dataset}: no golden recorded"]
        got = table_key(rows)
        if got != want:
            return [f"{self.name} {size} dataset {dataset}: table differs from golden: {got} != {want}"]
        return []

    def _views(self, work_dir: str, size: str, dataset: int) -> tuple[str, str]:
        s = self.sizes[size]
        return write_views(
            os.path.join(work_dir, f"{self.name}-{size}-dataset{dataset}"),
            dataset, s.n_samples, s.d1, s.d2, n_classes=s.n_classes,
        )


class ReportWide(Workload):
    """The GaussianNB feature-set comparison table, from two TSVs."""

    name = "report_wide"
    root_layer = "pipelines.report_full"
    sizes = {
        "full": Shape(n_samples=300, d1=1024, d2=256, n_classes=3),
        "tiny": Shape(n_samples=60, d1=64, d2=16, n_classes=3),
    }
    # Two CV folds, not three, and no AE architectures keep a cold run
    # within the benchmark's time budget: a fold costs ~5 s per cold
    # operation and an architecture ~15 jobs and ~5 s. The four sets
    # left (raw gene, raw miRNA, raw concat, JIVE) keep the wide
    # Arrow-scored raw NB path and the Arrow-batched projection.
    n_folds = 2
    archs = ()
    jive_rank = 8

    def _report(self, spark, views, tracer=None):
        from ae_data_integration_spark.pipelines import report_full

        def run():
            table, _ = report_full.nb_feature_set_report(
                spark, *views, n_folds=self.n_folds, archs=self.archs,
                jive_rank=self.jive_rank,
            )
            return table

        if tracer is None:
            table = run()
        else:
            with tracer.span("pipelines.report_full.nb_feature_set_report", self.root_layer):
                table = run()
        return [tuple(r) for r in table.collect()]

    def operation(self, spark, inputs: dict, tracer=None) -> list[tuple]:
        return self._report(spark, inputs["views"], tracer)

    def _structure(self, rows) -> list[str]:
        s = self.sizes[self.size]
        names = ["raw_gene", "raw_mirna", "raw_concat"]
        names += [f"ae_{a}" for a in self.archs] + ["jive_concat"]
        if [r[0] for r in rows] != names:
            return [f"feature sets {[r[0] for r in rows]} != {names}"]
        errors = []
        want_dims = [s.d1, s.d2, s.d1 + s.d2] + [r[1] for r in rows[3:-1]] + [3 * self.jive_rank]
        for r, dim in zip(rows, want_dims):
            _, got_dim, folds, mean, std = r
            if got_dim != dim or folds != self.n_folds or not 0.0 <= mean <= 1.0 or not std >= 0.0:
                errors.append(f"bad row {r}")
        # The generator plants class signal: the raw features must
        # classify well above chance (1 / n_classes).
        floor = 2.0 / s.n_classes
        if not rows[2][3] >= floor:
            errors.append(f"raw_concat accuracy {rows[2][3]} < {floor:.3f}")
        return errors

    def check(self, rows, inputs: dict) -> list[str]:
        return self._structure(rows) + self.golden_errors(rows, self.size, inputs["dataset"])


class SweepSmall(Workload):
    """The per-dataset model-selection sweep on one small dataset."""

    name = "sweep_small"
    root_layer = "pipelines.sweep"
    sizes = {
        "full": Shape(n_samples=300, d1=512, d2=128, n_classes=3),
        "tiny": Shape(n_samples=60, d1=64, d2=16, n_classes=3),
    }
    n_trials = 2
    # Two CV folds, not three: ~4 s less per cold operation.
    n_folds = 2

    def _sweep(self, spark, inputs, fixture_scale=False, tracer=None):
        from ae_data_integration_spark.pipelines.sweep import sweep_datasets

        datasets = [(f"ds{inputs['dataset']}", *inputs["views"])]

        def run():
            return sweep_datasets(
                spark, datasets, n_trials=self.n_trials, n_folds=self.n_folds,
                fixture_scale=fixture_scale, max_concurrency=1,
            )

        if tracer is None:
            table = run()
        else:
            with tracer.span("pipelines.sweep.sweep_datasets", self.root_layer):
                table = run()
        return [tuple(r) for r in table.collect()]

    def operation(self, spark, inputs: dict, tracer=None) -> list[tuple]:
        return self._sweep(spark, inputs, tracer=tracer)

    def _structure(self, rows) -> list[str]:
        if len(rows) != 1:
            return [f"expected 1 result row, got {len(rows)}"]
        (_, n_train, n_test, best, cv_loss, rmean, rstd, nb, nmi, ari, fmi, mk), = rows
        errors = []
        n = self.sizes[self.size].n_samples
        if n_train + n_test != n:
            errors.append(f"split {n_train}+{n_test} != {n}")
        if best not in range(self.n_trials):
            errors.append(f"best trial {best}")
        for name, v, lo, hi in (("cv_loss", cv_loss, 0.0, math.inf), ("recon_mean", rmean, 0.0, math.inf),
                                ("recon_std", rstd, 0.0, math.inf), ("nb", nb, 0.0, 1.0),
                                ("nmi", nmi, 0.0, 1.0), ("ari", ari, -1.0, 1.0),
                                ("fmi", fmi, 0.0, 1.0), ("munkres", mk, 0.0, 1.0)):
            if not lo <= v <= hi:
                errors.append(f"{name}={v} outside [{lo}, {hi}]")
        return errors

    def check(self, rows, inputs: dict) -> list[str]:
        return self._structure(rows) + self.golden_errors(rows, self.size, inputs["dataset"])

    def cross_check(self, spark, inputs: dict, tables: list, thorough: bool) -> list[str]:
        """Timed tables against each other and, when ``thorough``,
        against the collect-to-driver numpy twin of the same dataset
        (fixture_scale=True), which run_reference_pipeline promises
        gives identical CV losses. The twin takes ~12 s, a fifth of a
        run, so only traced runs and the self-test pay for it."""
        errors = super().cross_check(spark, inputs, tables, thorough)
        if not thorough:
            return errors
        (want,) = self._sweep(spark, inputs, fixture_scale=True)
        got = tables[0][0]
        # Every column but the recon statistics is bit-identical; those
        # are a distributed fixed-point sum against a numpy mean, equal
        # to 1e-6 (tests/test_pipeline_e2e.py).
        for i in (0, 1, 2, 3, 4, 7, 8, 9, 10, 11):
            if got[i] != want[i]:
                errors.append(f"column {i}: {got[i]!r} != twin {want[i]!r}")
        for i in (5, 6):
            if not abs(got[i] - want[i]) < 1e-6:
                errors.append(f"column {i}: {got[i]!r} vs twin {want[i]!r}")
        return errors


class CatalogMix(Workload):
    """One pass over one query of each catalog layer, each collected."""

    name = "catalog_mix"
    root_layer = "catalog"
    patches = False
    warm_up = True
    # One query per layer, registry keys. The generated tables are
    # small, so a pass is dominated by planning and per-job overhead,
    # as catalog queries at the engine's test scales are.
    queries = (
        "q3_shipping_priority",  # relational_q: 3-way join, exact agg, top-10
        "t5_topk_ngrams",  # text_q: tokenize, word 3-grams, top-20
        "y_d2_minhash_lsh",  # dedup_q: MinHash/LSH candidates, Jaccard verify
        "s1_ann_bruteforce",  # similarity_q: exact cosine top-10
        "y_e2_sessionize",  # events_q: lag + running-sum windows
    )

    def make_inputs(self, work_dir: str, seed: int) -> dict:
        sf_dir = write_tables(os.path.join(work_dir, f"{self.name}-seed{seed}"), seed)
        return {"seed": seed, "sf_dir": sf_dir}

    def prepare(self, spark, inputs: dict) -> None:
        """Each query's reference result from its DuckDB oracle, once."""
        from ae_data_integration_spark.catalog import load_all, oracle_for
        from ae_data_integration_spark.oracle import duck_connection

        registry = load_all()
        con = duck_connection(inputs["sf_dir"])
        try:
            inputs["expected"] = {
                name: con.execute(oracle_for(registry[name], inputs["sf_dir"])).fetchdf()
                for name in self.queries
            }
        finally:
            con.close()

    def operation(self, spark, inputs: dict, tracer=None) -> list[tuple]:
        from ae_data_integration_spark.catalog import load_all
        from ae_data_integration_spark.functions.caching import release_tracked

        registry = load_all()
        out = []
        for name in self.queries:
            q = registry[name]
            layer = "catalog." + q.fn.__module__.rsplit(".", 1)[-1]
            span = tracer.span(f"{layer}.{name}", layer) if tracer else contextlib.nullcontext()
            with span as sp:
                try:
                    frame = q.fn(spark, inputs["sf_dir"]).toPandas()
                finally:
                    # As oracle.check_query does: drop what the query cached.
                    release_tracked()
                if sp is not None:
                    sp.counts["queries"] = 1
            out.append((name, frame))
        return out

    def check(self, rows, inputs: dict) -> list[str]:
        from ae_data_integration_spark.catalog import load_all
        from ae_data_integration_spark.oracle import compare_frames

        registry = load_all()
        if [name for name, _ in rows] != list(self.queries):
            return [f"queries {[name for name, _ in rows]} != {list(self.queries)}"]
        errors = []
        for name, frame in rows:
            # The tolerance oracle.check_query applies.
            rel_tol = 1e-9 if "approx" in registry[name].tags else 0.0
            diff = compare_frames(frame, inputs["expected"][name], rel_tol)
            if diff:
                errors.append(f"{name}: {diff}")
        return errors

    def cross_check(self, spark, inputs: dict, tables: list, thorough: bool) -> list[str]:
        # Every pass was already checked against the oracle.
        return []


WORKLOADS = {w.name: w for w in (ReportWide, SweepSmall, CatalogMix)}
