"""The ``hourly`` workload: a cold backfill builds the study lake, then
hourly runs extend it and the hourly reconciliation checks it.

Phases, each through the package's public functions only:

1. *backfill* (the end of set-up): one cold ``run_study_workflow`` over a
   fresh archive batch into an empty work root, in a fresh application.
2. *hours* (the ops): each op is a busy hour, which delivers
   ``HOUR_ARCHIVES`` archives, then an idle hour, which delivers none. Each
   hour runs ``run_study_workflow`` over the whole archive prefix, as
   production does. The busy hour then runs the reference's hourly
   reconciliation over views from ``register_lake_views``, which checks
   that every record is in the lake or the quarantine.

At the end every table's rows and distinct records must equal the
generator's counts: the ledger's exactly-once over the whole sequence.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

from perfbench import metrics, study

BACKFILL_ARCHIVES = 40
HOUR_ARCHIVES = 20  # the reference's SQS BatchSize
HOUR_DAY = study.UPLOAD_DAYS - 1  # hourly uploads are today's


class Study:
    """The generated inputs plus what a correct lake holds after them."""

    def __init__(self, seed: int, root: str):
        self.archive_dir = os.path.join(root, "archives")
        self.work_root = os.path.join(root, "work")
        self.gen = study.StudyGenerator(seed, self.archive_dir)
        self.rows: list[tuple[str, ...]] = []
        self.expected = study.Expected()

    def deliver(self, n: int, days: range, corrupt: int = 0) -> None:
        rows, exp = self.gen.batch(n, days, corrupt=corrupt)
        self.rows += rows
        self.expected.add(exp)

    def manifest(self, spark):
        return spark.createDataFrame(
            [(os.path.join(self.archive_dir, r[0]), *r[1:]) for r in self.rows],
            study.MANIFEST_DDL,
        )

    @property
    def archive_glob(self) -> str:
        return os.path.join(self.archive_dir, "*.zip")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_root, *parts)


def run_workflow(ctx, s: Study) -> float:
    """One ``run_study_workflow`` call; returns its wall time."""
    from bridgedownstream_spark.pipeline import workflow
    from bridgedownstream_spark.pipeline.registry import DatasetRegistry

    manifest = s.manifest(ctx.spark)
    registry = DatasetRegistry(study.REGISTRY_DOC)
    t0 = time.perf_counter()
    workflow.run_study_workflow(
        ctx.spark,
        archive_path=s.archive_glob,
        manifest=manifest,
        archive_map=study.ARCHIVE_MAP,
        schema_store=study.SCHEMA_STORE,
        schema_mapping=study.SCHEMA_MAPPING,
        registry=registry,
        work_root=s.work_root,
        app_id=study.APP_ID,
        max_concurrency=ctx.cpus,
    )
    return time.perf_counter() - t0


def reconcile(ctx, s: Study) -> tuple[float, list[str]]:
    """The reference's hourly cron: dedup the source-of-truth manifest,
    find records in no root table (nor the quarantine), count-reconcile
    each dataset, and distill the quarantine into a replay manifest.
    Returns the wall time and the failed checks."""
    from bridgedownstream_spark.operators import reconcile as rc
    from bridgedownstream_spark.pipeline import catalog

    spark = ctx.spark
    manifest = s.manifest(spark)
    t0 = time.perf_counter()
    views = catalog.register_lake_views(spark, s.path("parquet"), prefix="lake_")
    source = rc.dedup_latest(manifest, "recordid", "uploadedon", tiebreak="path")
    quarantine = spark.read.parquet(s.path("quarantine"))
    roots = [spark.table(f"lake_{t}") for t in study.ROOT_TABLES]
    with ctx.span("operators.reconcile.missing_records"):
        n_missing = rc.missing_records(
            source, roots + [quarantine], "recordid", "recordid"
        ).count()
    valid = rc.missing_records(source, quarantine, "recordid", "recordid")
    with ctx.span("operators.reconcile.count_reconciliation"):
        reports = {
            t: rc.count_reconciliation(
                valid, root, "recordid", "recordid", "assessmentid"
            ).collect()
            for t, root in zip(study.ROOT_TABLES, roots)
        }
    with ctx.span("operators.reconcile.replay_quarantine"):
        n_replay = rc.replay_quarantine(quarantine).count()
    elapsed = time.perf_counter() - t0

    exp = s.expected
    failures = []
    if sorted(f"lake_{t}" for t in study.TABLES) != views:
        failures.append(f"views {views}")
    if n_missing:
        failures.append(f"missing_records: {n_missing} records in no table")
    for t, rows in reports.items():
        n_source = sum(r["n_source"] for r in rows)
        if any(r["delta"] for r in rows) or n_source != len(exp.valid_records):
            failures.append(f"count_reconciliation {t}: {[r.asDict() for r in rows]}")
    if n_replay != len(exp.quarantined_records):
        failures.append(f"replay_quarantine: {n_replay} != {len(exp.quarantined_records)}")
    return elapsed, failures


def check_tables(s: Study) -> list[str]:
    """Rows and distinct recordids of every stage-2 table and the
    quarantine against the generator's counts, read with pyarrow rather
    than the engine under test: a duplicated or lost row fails."""
    failures = []
    for table, want in s.expected.table_counts().items():
        rows, ids = 0, set()
        for f in metrics.parquet_files(s.path("parquet", table)):
            col = pq.read_table(f, columns=["recordid"]).column(0)
            rows += len(col)
            ids.update(col.to_pylist())
        if (rows, len(ids)) != want:
            failures.append(f"{table}: (rows, recordids)=({rows}, {len(ids)}) want {want}")
    n_q = metrics.parquet_rows(s.path("quarantine"))
    if n_q != s.expected.quarantine_rows:
        failures.append(f"quarantine rows {n_q} != {s.expected.quarantine_rows}")
    return failures


def run(ctx) -> None:
    s = Study(ctx.seed, ctx.work)
    s.deliver(BACKFILL_ARCHIVES, range(study.UPLOAD_DAYS), corrupt=1)
    tracer = None
    if ctx.trace:
        from perfbench import layers

        tracer = layers.install(ctx)

    # set-up ends with the history lake: one cold backfill into an empty
    # work root, which also warms the application up
    with tracer.phase("backfill") if tracer else nullcontext():
        cold = run_workflow(ctx, s)
    ctx.setup_done()
    setup_failures = []
    if tracer:
        setup_failures += layers.isolation_pass(ctx, s, "backfill")
        setup_failures += layers.workflow_metrics(ctx, s, "backfill")
    ctx.info("backfill_s", cold, "s")
    ctx.info("backfill_archives_per_s", BACKFILL_ARCHIVES / cold, "archives/s")
    stored = sum(metrics.tree_bytes(s.path(d))[1] for d in ("json", "parquet", "quarantine"))
    ctx.info("stored_bytes_per_input_byte", stored / s.expected.input_bytes, "ratio")

    # --- ops: a busy hour, reconciled, then an idle hour
    busy, idle, rec = [], [], []

    def hours() -> None:
        with ctx.op() as failed:
            s.deliver(HOUR_ARCHIVES, range(HOUR_DAY, HOUR_DAY + 1))
            busy.append(run_workflow(ctx, s))
            t_rec, reconcile_failed = reconcile(ctx, s)
            rec.append(t_rec)
            idle.append(run_workflow(ctx, s))
        failed += setup_failures + reconcile_failed
        setup_failures.clear()

    if tracer:
        rows_before = layers.lake_rows(s, tracer.relationalized)
        with tracer.phase("hourly"):
            hours()
        ctx.fail_last(layers.workflow_metrics(ctx, s, "hourly", rows_before))
        layers.reconcile_metrics(ctx, s, "hourly")
        ctx.fail_last(layers.read_archives_probe(ctx, s, "hourly"))
        # tracing overhead on the smallest whole op: one idle hour each way
        untraced = run_workflow(ctx, s)
        with tracer.phase("overhead"):
            traced = run_workflow(ctx, s)
        ctx.layer("trace.overhead_s", traced - untraced)
        tracer.uninstall()
    else:
        t_start = time.perf_counter()
        hours()
        while time.perf_counter() - t_start < ctx.seconds:
            hours()

    # exactly-once over the whole sequence: a duplicated or lost row fails
    ctx.fail_last(check_tables(s))
    ctx.info("hourly_run_p50_s", statistics.median(busy), "s")
    tail = metrics.tail_percentile(busy)
    ctx.info(
        "hourly_run_tail_s",
        tail[1] if tail else None,
        "s",
        f"p{tail[0]:.0f}" if tail else f"needs >10 busy hours, have {len(busy)}",
    )
    ctx.info("idle_run_p50_s", statistics.median(idle), "s")
    ctx.info("reconcile_p50_s", statistics.median(rec), "s")
