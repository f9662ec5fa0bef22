"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload hourly --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates its inputs from ``--seed``,
drives the package through its public functions on ``local[nproc]``,
checks every output, and prints ``name value unit`` lines followed by one
JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (see ``metrics.END_TO_END``); with
``--trace 1`` a separate traced run reports the per-layer ones and writes
its spans to ``.bench_work/spans-<workload>-<seed>.jsonl``.

Exit status: 0 when every check passed, 1 when a check or the program
failed, 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Op:
    seconds: float = 0.0
    cpu_s: float = 0.0
    failures: list[str] = field(default_factory=list)


class Context:
    """One run's settings, Spark session and results."""

    def __init__(self, args, cpus: int, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.cpus, self.work, self.root = cpus, work, ROOT
        self.spark = None
        self.tracer = None
        self.setup_s = 0.0
        self.ops: list[Op] = []
        self.layers: dict[str, float] = {}

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START

    @contextmanager
    def op(self):
        """Time one op, wall clock and the CPU of the JVM and its Python
        workers; yields the op's list of failed checks."""
        from perfbench import metrics

        op = Op()
        cpu0, t0 = metrics.descendants_cpu_s(), time.perf_counter()
        try:
            yield op.failures
        finally:
            op.seconds = time.perf_counter() - t0
            op.cpu_s = metrics.descendants_cpu_s() - cpu0
            self.ops.append(op)

    def fail_last(self, failures: list[str]) -> None:
        """Charge failed checks made after the ops to the last op."""
        self.ops[-1].failures += failures

    def info(self, name: str, value, unit: str, note: str = "") -> None:
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{name} {shown} {unit}{'  # ' + note if note else ''}")

    def layer(self, name: str, value: float) -> None:
        self.layers[name] = value

    def invariant(self, name: str, value: int, want: int | None = None) -> list[str]:
        """Print a fixed count the traced run takes at a layer boundary;
        returns a failed check when it is not ``want``, the generator's
        count."""
        print(f"{name} {value} count  # invariant")
        return [] if want in (None, value) else [f"{name} {value} != {want}"]

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


def _environment(cpus: int, work: str) -> None:
    """Pin the session shape and keep every scratch file in the checkout.
    Python workers import the package, so the root goes on PYTHONPATH."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # a stuck JVM is killed, not left
                proc.kill()
                proc.wait()


def result(ctx) -> dict:
    from perfbench import metrics

    failed = sum(1 for op in ctx.ops if op.failures)
    if ctx.trace:
        values = {m["name"]: ctx.layers.get(m["name"], 0) for m in metrics.per_layer()}
        units = {m["name"]: m["unit"] for m in metrics.per_layer()}
    else:
        values = {
            "op_p50_s": statistics.median([op.seconds for op in ctx.ops]),
            "op_cpu_s": statistics.median([op.cpu_s for op in ctx.ops]),
            "setup_s": ctx.setup_s,
        }
        units = {m["name"]: m["unit"] for m in metrics.END_TO_END}
    return {
        "correct": failed == 0,
        "attempted": len(ctx.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("hourly", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("bridgedownstream_spark") is None:
        print(f"perfbench: no package under test in {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(cpus, work)  # before the package reads its settings

    from perfbench import analytics, etl, metrics

    from bridgedownstream_spark.session import get_spark

    ctx = Context(args, cpus, work)
    try:
        ctx.spark = get_spark(
            f"perfbench-{args.workload}",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        {"hourly": etl.run, "analytics": analytics.run}[args.workload](ctx)
        ctx.info("peak_rss_mb", metrics.descendants_peak_rss_mb(), "MB")
        if ctx.tracer is not None:
            ctx.tracer.dump(
                os.path.join(bench_dir, f"spans-{args.workload}-{args.seed}.jsonl")
            )
    except Exception:  # noqa: BLE001 — report the program's failure, then exit 1
        traceback.print_exc()
        return 1
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    return report(ctx)


def report(ctx) -> int:
    """Print the result line; the exit status fails the run on any failed
    check."""
    for i, op in enumerate(ctx.ops, 1):
        for f in op.failures:
            print(f"CHECK FAILED [op {i}]: {f}", file=sys.stderr)
    out = result(ctx)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
