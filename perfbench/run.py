#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload report_wide --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. With ``--trace 0`` it times the
end-to-end metrics (tracing off); with ``--trace 1`` it alternates
untraced and traced operations and reports the per-layer metrics,
writes every span to ``.perfbench_work/``, and prints the per-layer
table to stderr. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Every operation's output is checked; see ``workloads.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")
# Input generation is repeated this many times in set-up; see main().
GEN_ROUNDS = 3


def fit_environment() -> dict:
    """Size Spark to this machine, keep its output off stdout, and keep
    every file it writes inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        ram_mb = int(fh.readline().split()[1]) // 1024
    # A quarter of RAM, at most 2 GiB: the inputs are small, and the
    # machine may be shared.
    driver_mb = max(1024, min(2048, ram_mb // 4))
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            # No hsperfdata file in the system temp directory.
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    })
    return {"nproc": cpus, "ram_mb": ram_mb, "driver_mem_mb": driver_mb,
            "python": platform.python_version()}


def start_session(spark):
    """Stop ``spark`` and its JVM if given, then start a session in a new
    JVM and run one job."""
    from ae_data_integration_spark.session import get_spark

    if spark is not None:
        stop_session(spark)
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (it exits
    when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


class Ledger:
    """Counts checked operations and their failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, what: str, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            for e in errors:
                print(f"CHECK FAILED ({what}): {e}", file=sys.stderr)

    def run(self, what: str, fn, check):
        """Run one operation; an exception counts as a failure."""
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - any failure is reported, not fatal
            traceback.print_exc()
            self.record(what, ["raised"])
            return None
        self.record(what, check(out))
        return out


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--goldens", default=None, help="goldens file (default: perfbench/goldens.json)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ae_data_integration_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout of the program", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS, load_goldens

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # Everything but the result line goes to stderr, including what the
    # JVM and the Python workers inherit.
    stdout = os.dup(1)
    os.dup2(2, 1)
    env = fit_environment()
    goldens = load_goldens(args.goldens) if args.goldens else load_goldens()
    wl = WORKLOADS[args.workload](args.size, goldens)
    ledger = Ledger()

    # Set-up: start the session in a new JVM, as a user's first run
    # does, then generate the inputs. A cold start costs ~11 s on 4
    # cores, so it is paid once; the generation is repeated and its
    # median taken.
    t0 = time.perf_counter()
    spark = start_session(None)
    session_start = time.perf_counter() - t0
    gens = []
    for _ in range(GEN_ROUNDS):
        t0 = time.perf_counter()
        inputs = wl.make_inputs(WORK, args.seed)
        gens.append(time.perf_counter() - t0)
    setup_s = session_start + statistics.median(gens)
    wl.prepare(spark, inputs)
    env.update(spark=spark.version,
               java=spark.sparkContext._jvm.java.lang.System.getProperty("java.version"))
    print(f"perfbench env: {json.dumps(env)}", file=sys.stderr)

    def op(tracer=None):
        return wl.operation(spark, inputs, tracer)

    def check(out):
        return wl.check(out[0], inputs)

    if wl.warm_up:
        ledger.run("warm-up operation", lambda: timed(op), check)
    deadline = time.perf_counter() + args.seconds
    if args.trace == 0:
        walls, tables = [], []
        while not walls or time.perf_counter() < deadline:
            out = ledger.run("operation", lambda: timed(op), check)
            if out is None:
                break
            tables.append(out[0])
            walls.append(out[1])
        metrics = {
            "setup_s": (setup_s, "s"),
            "table_s": (statistics.median(walls) if walls else 0.0, "s"),
        }
        print(f"perfbench: session_start={session_start} gens={gens} walls={walls}", file=sys.stderr)
    else:
        metrics, tables = traced_run(spark, wl, op, check, ledger, deadline, args, session_start)
    if tables:
        ledger.run("cross-check", lambda: wl.cross_check(spark, inputs, tables, args.trace == 1), lambda e: e)

    stop_session(spark)
    result = {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(WORK, f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({"env": env, **result}, fh, indent=1)
    os.write(stdout, (json.dumps(result) + "\n").encode())
    return 0


def traced_run(spark, wl, op, check, ledger, deadline, args, session_start):
    """After one warm-up operation, alternate untraced and traced
    operations: per-layer metrics come from the traced ones, tracing
    overhead from comparing the two, both warm.
    Returns (metrics, every table produced)."""
    from spans import Tracer, moves

    tracer = Tracer(spark)
    untraced, traced, layers, tables = [], [], [], []
    # Warm the JVM, unless set-up already ran the workload's warm-up
    # operation: the cold operation is neither traced nor compared.
    warm = True if wl.warm_up else ledger.run("warm-up operation", lambda: timed(op), check)
    while warm is not None and (not traced or time.perf_counter() < deadline):
        # Untraced: one root span counts the program's own Spark jobs.
        out = ledger.run("operation", lambda: tracer.operation(op, patch=False), check)
        if out is None:
            break
        untraced.append(out[1])
        tables.append(out[0])
        program = tracer.layer_table(tracer.run)
        out = ledger.run("traced operation",
                         lambda: tracer.operation(lambda: op(tracer), patch=wl.patches), check)
        if out is None:
            break
        traced.append(out[1])
        tables.append(out[0])
        layer = tracer.layer_table(tracer.run)
        layer["trace.jobs"] = layer["spark.jobs"]
        layer.update((k, v) for k, v in program.items() if k.startswith("spark."))
        layers.append(layer)
    ledger.record("span nesting", tracer.check_nesting())
    counts = [{k: v for k, v in t.items() if isinstance(v, int)} for t in layers]
    ledger.record("repeatable counts", [] if all(c == counts[0] for c in counts) else
                  [f"per-layer counts differ between traced operations: {counts}"])
    if not layers:
        return {}, tables

    metrics: dict[str, tuple] = {
        "session.start_s": (session_start, "s"),
        "session.peak_rss_mb": (peak_rss_mb(spark), "MB"),
    }
    for key in layers[0]:
        if key.endswith("_s"):
            metrics[key] = (statistics.median(t[key] for t in layers), "s")
        else:
            metrics[key] = (layers[-1][key], "count")
    t_med, u_med = statistics.median(traced), statistics.median(untraced)
    # Operator spans are leaves (only pipeline modules' names are
    # patched), so operator busy time plus pipeline and benchmark self
    # time covers the traced wall time; what is left is the tracer's own
    # bookkeeping around the root span. spark.* counts are the untraced
    # program's; trace.jobs is what the traced operation ran.
    unattributed = statistics.median(
        wall - sum(v for k, v in t.items() if k.endswith((".self_s", ".busy_s")))
        for wall, t in zip(traced, layers)
    )
    metrics["trace.traced_wall_s"] = (t_med, "s")
    metrics["trace.untraced_wall_s"] = (u_med, "s")
    metrics["trace.overhead_frac"] = (t_med / u_med - 1.0, "ratio")
    metrics["trace.unattributed_s"] = (unattributed, "s")

    stem = os.path.join(WORK, f"{args.workload}-seed{args.seed}")
    tracer.dump(stem + "-spans.jsonl")
    lines = [f"per-layer table: {args.workload} seed {args.seed} "
             f"({len(traced)} traced, {len(untraced)} untraced operations)"]
    lines += [(f"  {k:<36} {v:>14.4f} {u:<6}" if isinstance(v, float) else f"  {k:<36} {v:>14} {u:<6}")
              + f" moves: {moves(k)}" for k, (v, u) in metrics.items()]
    with open(stem + "-layers.txt", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines), file=sys.stderr)
    return metrics, tables


if __name__ == "__main__":
    sys.exit(main())
