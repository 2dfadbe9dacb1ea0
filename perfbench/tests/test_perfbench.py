"""Self-test of the benchmark: every workload once at the tiny size
(catalog_mix has one size).

    python3 -m pytest perfbench/tests -q

Run from the root of a checkout; takes a few minutes (one Spark
session per benchmark run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "perfbench")
sys.path.insert(0, BENCH)

from gen import write_views  # noqa: E402
from gen_tables import write_tables  # noqa: E402
from spans import Span, Tracer  # noqa: E402
from workloads import GOLDENS, N_DATASETS, WORKLOADS  # noqa: E402

# A layer each workload must reach.
REACHES = {
    "report_wide": "sources.matrix_io",
    "sweep_small": "operators.train",
    "catalog_mix": "catalog.dedup_q",
}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def run_bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def result_of(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_prints_every_end_to_end_metric(workload):
    res = result_of(run_bench(workload, 0))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_prints_every_layer_metric_and_nests_spans(workload):
    res = result_of(run_bench(workload, 1))
    assert res["correct"] is True and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.jobs"] > 0 and m[f"{REACHES[workload]}.jobs"] > 0
    assert abs(m["trace.unattributed_s"]) < 0.05 * m["trace.traced_wall_s"]

    with open(os.path.join(ROOT, ".perfbench_work", f"{workload}-seed1-spans.jsonl")) as fh:
        spans = {s["id"]: s for s in map(json.loads, fh)}
    assert spans
    for s in spans.values():
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] <= s["end"] <= p["end"], (s, p)
            assert p["run"] == s["run"]


def test_perturbed_golden_fails_the_gate(tmp_path):
    with open(GOLDENS) as fh:
        goldens = json.load(fh)
    table = goldens["report_wide"]["tiny"]["1"]
    table[2][3] = (float.fromhex(table[2][3]) + 2**-40).hex()  # raw_concat acc_mean
    path = tmp_path / "goldens.json"
    path.write_text(json.dumps(goldens))
    res = result_of(run_bench("report_wide", 0, "--goldens", str(path)))
    assert res["correct"] is False and res["failed"] >= 1


def test_missing_golden_fails_the_gate():
    wl = WORKLOADS["report_wide"]("tiny", {})
    assert wl.golden_errors([("raw_gene", 64, 2, 0.5, 0.1)], "tiny", 1) != []
    assert N_DATASETS > 1


def test_perturbed_oracle_value_fails_the_catalog_gate():
    wl = WORKLOADS["catalog_mix"]("full", {})
    frame = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    rows = [(name, frame) for name in wl.queries]
    inputs = {"expected": {name: frame.copy() for name in wl.queries}}
    assert wl.check(rows, inputs) == []
    inputs["expected"][wl.queries[0]].loc[1, "v"] = 0.25 + 2**-40
    assert len(wl.check(rows, inputs)) == 1


def test_bare_benchmark_directory_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("report_wide", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_generator_is_seeded(tmp_path):
    a = write_views(str(tmp_path / "a"), 7, 30, 16, 4)
    b = write_views(str(tmp_path / "b"), 7, 30, 16, 4)
    c = write_views(str(tmp_path / "c"), 8, 30, 16, 4)
    read = lambda p: open(p).read()  # noqa: E731
    assert [read(p) for p in a] == [read(p) for p in b]
    assert [read(p) for p in a] != [read(p) for p in c]
    header = read(a[0]).splitlines()[0].split("\t")
    assert header[0] == "feature" and len(header) == 31


def test_table_generator_is_seeded(tmp_path):
    a, b, c = (write_tables(str(tmp_path / d), seed) for d, seed in (("a", 7), ("b", 7), ("c", 8)))
    names = sorted(os.listdir(a))
    assert names == sorted(f"{t}.parquet" for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
    read = lambda d, n: open(os.path.join(d, n), "rb").read()  # noqa: E731
    assert all(read(a, n) == read(b, n) for n in names)
    assert read(a, "lineitem.parquet") != read(c, "lineitem.parquet")


def test_self_time_subtracts_children():
    tracer = Tracer.__new__(Tracer)
    tracer.spans = [
        Span(1, "root", "bench", 1, None, 0.0, 10.0),
        Span(2, "a", "operators.nb", 1, 1, 1.0, 4.0),
        Span(3, "b", "pipelines.omics", 1, 1, 5.0, 9.0),
        Span(4, "c", "operators.train", 1, 3, 6.0, 8.0),
    ]
    assert tracer.self_times(1) == {1: 3.0, 2: 3.0, 3: 2.0, 4: 2.0}
    assert tracer.check_nesting() == []
    tracer.spans.append(Span(5, "d", "operators.scale", 1, 2, 3.0, 5.0))
    assert tracer.check_nesting() != []
