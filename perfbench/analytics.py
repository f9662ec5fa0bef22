"""The ``analytics`` workload: passes over the pinned registry queries on
seeded tables. It bypasses the ETL entirely.

One op is one pass over the pinned queries. It collects each result to
the driver with ``toPandas`` and checks it bit-exactly against the
query's DuckDB twin with ``tools/verify_local.py``'s ``compare``; only the
Spark side (building the query and collecting it, as ``compare`` times
it) is timed. The first pass runs in a fresh application, so it is also
the cold op.

The traced run repeats the checked pass with each query's registry
callable wrapped, and records per query the time ``compare`` reports and
the exchanges of the plan that collection executed.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import time

from pyspark.sql import functions as F

from perfbench import metrics, tables

#: lineitem = 60k rows; fixed per-job costs dominate a pass at this size
SF = 0.01
_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange) ")


def exchanges(df) -> int:
    """Shuffle and broadcast exchanges in the executed plan; of an adaptive
    plan, only its final plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(plan))


def checked_pass(ctx, sf_dir: str) -> tuple[float, dict[str, float], list[str]]:
    """Collect every pinned query to the driver and compare it bit-exactly
    with its DuckDB twin. Returns the Spark-side time of the pass and of
    each query (building the query and collecting it; DuckDB is not
    timed), and the failed checks."""
    tools = os.path.join(ctx.root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import verify_local

    con = verify_local.duck_connection(sf_dir)
    seconds, failures = {}, []
    try:
        for name in metrics.PINNED_QUERIES:
            ok, msg, seconds[name] = verify_local.compare(name, ctx.spark, con, sf_dir)
            if not ok:
                failures.append(f"{name}: {msg}")
    finally:
        con.close()
    return sum(seconds.values()), seconds, failures


def traced_pass(ctx, sf_dir: str) -> tuple[float, list[str]]:
    """The checked pass with each pinned query's registry callable wrapped:
    per query, the Spark-side time and the exchanges of the plan that
    collection executed. Returns the pass time and the failed checks."""
    from bridgedownstream_spark.queries import REGISTRY

    from perfbench.trace import Tracer

    ctx.tracer = Tracer(ctx.spark)
    frames = {}

    def keep(name: str):
        def count(state, df, *args) -> dict:
            frames[name] = df  # its plan executes later, in ``toPandas``
            return {}

        return count

    for name in metrics.PINNED_QUERIES:
        ctx.tracer.wrap_entry(REGISTRY, name, f"queries.{name}", keep(name))
    try:
        with ctx.tracer.phase("analytics"):
            spark_s, seconds, failures = checked_pass(ctx, sf_dir)
    finally:
        ctx.tracer.uninstall()
    for name in metrics.PINNED_QUERIES:
        ctx.layer(f"queries.{name}.s", seconds[name])
        ctx.layer(f"queries.{name}.exchanges", exchanges(frames[name]))
    return spark_s, failures


def run(ctx) -> None:
    sf_dir = os.path.join(ctx.work, "sf")
    n = tables.generate(sf_dir, SF, ctx.seed)
    for table in n:  # bench.py's warm-up: a real read of every column
        df = ctx.spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        df.agg(*[F.count(c) for c in df.columns]).collect()
    ctx.setup_done()

    t_start = time.perf_counter()
    while True:
        with ctx.op() as failed:
            spark_s, _, failures = checked_pass(ctx, sf_dir)
        ctx.ops[-1].seconds = spark_s  # DuckDB's side is not timed
        failed += failures
        if time.perf_counter() - t_start >= ctx.seconds:
            break
    ctx.info("analytics_pass_s", statistics.median([op.seconds for op in ctx.ops]), "s")

    if ctx.trace:
        # tracing overhead: a warm pass each way, as the first op was cold
        untraced_s, _, failures = checked_pass(ctx, sf_dir)
        traced_s, traced_failures = traced_pass(ctx, sf_dir)
        ctx.fail_last(failures + traced_failures)
        ctx.layer("trace.overhead_s", traced_s - untraced_s)
