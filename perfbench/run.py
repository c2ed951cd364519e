"""Benchmark entry point: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload kpi_refresh --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run works in a fresh directory under
``.perfbench_work/`` (removed at exit), starts Spark on ``local[N]`` with N
the process's CPU affinity count, generates its seeded input, warms up
with a fixed number of untimed cycles, then runs cycles of the workload's
op mix until ``--seconds`` have passed.  Every op's answer is checked.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` wraps the engine's public functions in spans, traces every
other timed cycle, and reports the per-layer metrics, the tracing overhead
and the share of op time the spans cover.  Metric names and units are the
ones in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(ROOT, "BENCHMARK.json")
sys.path.insert(0, ROOT)

from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, trace_targets  # noqa: E402


class Ctx:
    """Per-run state shared by the harness and a workload."""

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.setup: dict[str, float] = {}
        self.ops: list[dict] = []
        self.timed = False
        self.tracer = None
        self.tracing = False

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else contextlib.nullcontext()

    def op(self, kind: str, fn, check) -> None:
        """Run one op: time ``fn()``, then check its result untimed.  An
        exception or a wrong answer marks the op failed."""
        rec = {"kind": kind, "timed": self.timed, "root": None, "out": None,
               "jobs": 0, "ok": False}
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}") as root:
                rec["out"] = fn()
            rec["seconds"] = time.perf_counter() - t0
            rec["root"] = root
            rec["ok"] = bool(check(rec["out"]))
        except Exception:
            rec["seconds"] = time.perf_counter() - t0
            traceback.print_exc()
        if not rec["ok"]:
            print(f"perfbench: {kind} op failed", file=sys.stderr)
        if rec["root"] is not None:
            self.tracer.resolve_jobs()
            rec["jobs"] = sum(s["jobs"] for s in self.tracer.subtree(rec["root"]))
        self.ops.append(rec)

    def traced_ops(self, kind: str) -> list[dict]:
        return [op for op in self.ops
                if op["kind"] == kind and op["timed"] and op["root"] is not None]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, cores: int):
    """A session built by the engine's ``get_spark``, with every scratch
    path it or the JVM would use pointed inside the run's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata files in the system temp dir, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from aie321_bigdata_movie_kpi_1m_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def end_to_end(ctx, wl, setup_s: float, cycle_s: list[float]) -> dict:
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(
            1000 * op["seconds"] for op in ctx.ops if op["timed"]),
        "cycle_ms": 1000 * statistics.median(cycle_s),
        "bytes_per_input_byte": wl.bytes_per_input_byte(),
    }


def tracing_overhead_pct(ops: list[dict]) -> float:
    """Traced against untraced ops of the same run: per op kind the ratio
    of median latencies, weighted by how often the kind runs."""
    traced, plain, weight = 0.0, 0.0, 0
    for kind in {op["kind"] for op in ops}:
        on = [op["seconds"] for op in ops if op["kind"] == kind and op["root"]]
        off = [op["seconds"] for op in ops if op["kind"] == kind and not op["root"]]
        if on and off:
            n = len(on) + len(off)
            traced += n * statistics.median(on)
            plain += n * statistics.median(off)
            weight += n
    return 100 * (traced / plain - 1) if weight else 0.0


def per_layer(ctx, wl) -> dict:
    tracer = ctx.tracer
    timed = [op for op in ctx.ops if op["timed"]]
    out = {"session.get_spark_s": ctx.setup["session.get_spark_s"],
           "generate_s": ctx.setup["generate_s"],
           "warmup_s": ctx.setup["warmup_s"],
           "trace.overhead_pct": tracing_overhead_pct(timed)}
    coverage = [1 - tracer.self_seconds(op["root"]) / op["seconds"]
                for op in timed if op["root"] is not None]
    out["trace.span_coverage"] = statistics.median(coverage) if coverage else 0.0
    out.update(wl.layer_metrics(ctx, tracer))
    return out


def measure(ctx, wl, seconds: float, trace: bool) -> list[float]:
    """Run timed cycles until ``seconds`` have passed; returns each cycle's
    wall time.  With ``trace``, every other cycle runs with the engine's
    functions wrapped in spans."""
    ctx.timed = True
    if trace:
        ctx.tracer = Tracer(ctx.spark.sparkContext)
    cycle_s = []
    k = wl.warmup_cycles
    deadline = time.perf_counter() + seconds
    while not cycle_s or time.perf_counter() < deadline:
        ctx.tracing = trace and (k - wl.warmup_cycles) % 2 == 0
        if ctx.tracing:
            ctx.tracer.install(trace_targets())
        t0 = time.perf_counter()
        try:
            wl.cycle(ctx, k)
        finally:
            if ctx.tracing:
                ctx.tracer.uninstall()
        cycle_s.append(time.perf_counter() - t0)
        k += 1
    ctx.tracing = False
    return cycle_s


def run(args, names: list[str], t_start: float) -> dict:
    """Set up, warm up and measure one workload in a fresh work dir; the
    session and the work dir are gone when this returns."""
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        ctx = Ctx(spark, work, args.seed, cores)
        ctx.setup["session.get_spark_s"] = time.perf_counter() - t0
        wl = WORKLOADS[args.workload]()
        wl.setup(ctx)
        t0 = time.perf_counter()
        for k in range(wl.warmup_cycles):
            wl.cycle(ctx, k)
        ctx.setup["warmup_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_start
        setup_ok = all(op["ok"] for op in ctx.ops)

        cycle_s = measure(ctx, wl, args.seconds, bool(args.trace))
        if args.trace:
            metrics = per_layer(ctx, wl)
            if set(metrics) - set(names):
                raise RuntimeError(f"metrics missing from BENCHMARK.json: "
                                   f"{sorted(set(metrics) - set(names))}")
            # layers a workload bypasses report 0
            metrics = dict.fromkeys(names, 0.0) | metrics
            trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(
                trace_dir, f"{args.workload}-s{args.seed}.jsonl"))
        else:
            metrics = end_to_end(ctx, wl, setup_s, cycle_s)
        timed = [op for op in ctx.ops if op["timed"]]
        failed = sum(not op["ok"] for op in timed)
        return {"correct": setup_ok and failed == 0, "attempted": len(timed),
                "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    with open(SPEC) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    result = run(args, names, t_start)
    result["metrics"] = {n: {"value": float(result["metrics"][n]), "unit": units[n]}
                         for n in names}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
