"""Per-layer measurement for the traced ``hourly`` run: which functions get
spans, the counts taken at their boundaries, and the passes that time the
lazy stage-1 layers one by one."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from perfbench import metrics, study
from perfbench.trace import Tracer, self_time

#: modules whose ``from x import f`` aliases must exist before wrapping
_ALIAS_HOLDERS = (
    "pipeline",
    "pipeline.workflow",
    "pipeline.ingest",
    "streaming.ingest_stream",
    "validation",
)


def _arg(args, kwargs, i: int, name: str):
    return kwargs[name] if name in kwargs else args[i]


def _files(path: str) -> tuple[int, int]:
    return metrics.tree_bytes(path, visible_only=True)


def _delta(before, after) -> dict[str, int]:
    return {"files": after[0] - before[0], "bytes": after[1] - before[1]}


def install(ctx) -> Tracer:
    """Wrap the workflow-path functions; ``ctx.tracer`` records them."""
    import importlib

    for m in _ALIAS_HOLDERS:
        importlib.import_module(f"bridgedownstream_spark.{m}")
    t = ctx.tracer = Tracer(ctx.spark)
    t.relationalized = set()

    def json_lake_before(members, *args, **kwargs):
        return _files(_arg(args, kwargs, 0, "json_root"))

    def json_lake_count(before, result, members, *args, **kwargs):
        return _delta(before, _files(result))

    def table_path(df, *args, **kwargs):
        root = _arg(args, kwargs, 0, "parquet_root")
        return os.path.join(root, _arg(args, kwargs, 1, "table_name"))

    def parquet_before(*args, **kwargs):
        return _files(table_path(*args, **kwargs))

    def parquet_count(before, result, *args, **kwargs):
        return _delta(before, _files(result))

    def ledger_rows(state, result, ledger, *args, **kwargs):
        dataset = _arg(args, kwargs, 0, "dataset")
        return {"rows": metrics.parquet_rows(os.path.join(ledger.root, f"dataset={dataset}"))}

    def relationalized(state, result, *args, **kwargs):
        t.relationalized.update(result)
        return {"tables": len(result)}

    t.wrap("sources.archive", "read_archives")
    t.wrap("sources.archive", "explode_members")
    for f in ("validate_members", "suppress_expected_errors", "split_valid_records"):
        t.wrap("validation.validate", f, name=f"validation.{f}")
    for f in ("route_datasets", "inject_metadata", "ingest_archives"):
        t.wrap("pipeline.ingest", f)
    t.wrap("pipeline.ingest", "write_json_lake", json_lake_count, json_lake_before)
    t.wrap(
        "pipeline.json_to_parquet", "write_parquet_dataset", parquet_count, parquet_before
    )
    t.wrap("pipeline.json_to_parquet", "run_json_to_parquet")
    t.wrap("streaming.ingest_stream", "stream_ingest")
    t.wrap("pipeline.workflow", "discover_datasets")
    t.wrap("pipeline.workflow", "run_study_workflow")
    t.wrap(
        "pipeline.fsutil", "list_data_files", lambda s, r, *a, **k: {"files": len(r)}
    )
    t.wrap("pipeline.ledger", "FileLedger.commit", lambda s, r, *a, **k: {"rows": r})
    t.wrap("pipeline.ledger", "FileLedger.processed_files", ledger_rows)
    t.wrap("operators.relationalize", "relationalize", relationalized)
    t.wrap("pipeline.catalog", "register_lake_views")
    return t


def lake_rows(s, tables) -> int:
    return sum(metrics.parquet_rows(s.path("parquet", table)) for table in tables)


def workflow_metrics(ctx, s, phase: str, rows_before: int = 0) -> list[str]:
    """Sum the phase's workflow-path spans into ``<phase>.<layer>.<field>``.
    Returns failed checks of the relationalized rows against the
    generator's counts."""
    t = ctx.tracer
    spans = [sp for sp in t.spans if sp.op == phase]
    failures = []
    for layer, fields in metrics.WORKFLOW_LAYERS:
        if layer == "spark":
            for k, v in t.spark_counts(phase).items():
                ctx.layer(f"{phase}.spark.{k}", v)
            continue
        named = [sp for sp in spans if sp.name == layer]
        for field in fields:
            want = None
            if field == "s":
                v = sum(sp.duration for sp in named)
            elif field == "self_s":
                v = sum(self_time(sp, t.children(sp)) for sp in named)
            elif field == "batches":
                v = sum(sp.name == "pipeline.ingest.ingest_archives" for sp in spans)
            elif layer.endswith("relationalize") and field == "rows":
                v = lake_rows(s, t.relationalized) - rows_before
                want = sum(s.expected.table_rows[x] for x in t.relationalized) - rows_before
            else:
                v = sum(sp.counts.get(field, 0) for sp in named)
            if f"{layer}.{field}" in metrics.INVARIANTS:
                failures += ctx.invariant(f"{phase}.{layer}.{field}", v, want)
            else:
                ctx.layer(f"{phase}.{layer}.{field}", v)
    return failures


def timed_noop(ctx, name: str, df, cache: list):
    """Materialize ``df`` (persisted) into the ``noop`` sink; record the
    wall time under ``name`` and return the cached frame."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    ctx.layer(f"{name}.s", time.perf_counter() - t0)
    cache.append(df)
    return df


def isolation_pass(ctx, s, phase: str) -> list[str]:
    """Run each stage-1 layer over its persisted, materialized input into
    a ``noop`` sink, so each layer's execution is timed on its own.
    Returns failed checks of the layer counts against the generator's."""
    from bridgedownstream_spark.pipeline import ingest
    from bridgedownstream_spark.sources import archive
    from bridgedownstream_spark.validation import validate as v

    spark, cache, p = ctx.spark, [], f"{phase}."
    archives = timed_noop(
        ctx,
        p + "sources.archive.read_archives",
        archive.read_archives(spark, s.archive_glob, s.manifest(spark)),
        cache,
    )
    exp, failures = s.expected, []
    failures += _archive_counts(ctx, archives, p + "sources.archive.read_archives", exp)
    members = timed_noop(
        ctx, p + "sources.archive.explode_members", archive.explode_members(archives), cache
    )
    failures += ctx.invariant(
        p + "sources.archive.explode_members.members", members.count(), exp.members
    )
    validated = timed_noop(
        ctx,
        p + "validation.validate_members",
        v.validate_members(
            members, study.SCHEMA_STORE, archive_map=study.ARCHIVE_MAP, app_id=study.APP_ID
        ),
        cache,
    )
    failures += ctx.invariant(
        p + "validation.validate_members.members", validated.count(), exp.members
    )
    suppressed = timed_noop(
        ctx, p + "validation.suppress_expected_errors", v.suppress_expected_errors(validated), cache
    )

    def clean(df) -> int:
        return df.where(F.size("errors") == 0).count()

    failures += ctx.invariant(
        p + "validation.suppress_expected_errors.suppressed",
        clean(suppressed) - clean(validated),
        exp.suppressed_members,
    )
    valid, quarantine = v.split_valid_records(suppressed)
    t0 = time.perf_counter()
    valid = valid.persist(StorageLevel.MEMORY_AND_DISK)
    quarantine = quarantine.persist(StorageLevel.MEMORY_AND_DISK)
    cache += [valid, quarantine]
    valid.write.format("noop").mode("overwrite").save()
    quarantine.write.format("noop").mode("overwrite").save()
    ctx.layer(p + "validation.split_valid_records.s", time.perf_counter() - t0)
    failures += ctx.invariant(
        p + "validation.split_valid_records.quarantined",
        quarantine.count(),
        exp.quarantine_rows,
    )
    routed = timed_noop(
        ctx,
        p + "pipeline.ingest.route_datasets",
        ingest.route_datasets(valid, study.SCHEMA_STORE, study.SCHEMA_MAPPING, None),
        cache,
    )
    failures += ctx.invariant(  # one info.json per valid archive
        p + "pipeline.ingest.route_datasets.unroutable",
        valid.count() - routed.count(),
        len(exp.valid_records),
    )
    timed_noop(ctx, p + "pipeline.ingest.inject_metadata", ingest.inject_metadata(routed), cache)
    for df in cache:
        df.unpersist()
    return failures


def _archive_counts(ctx, archives, name: str, exp) -> list[str]:
    r = archives.agg(F.count("*"), F.sum(F.length("content"))).first()
    return ctx.invariant(f"{name}.archives", r[0], exp.archives) + ctx.invariant(
        f"{name}.bytes", r[1], exp.input_bytes
    )


def read_archives_probe(ctx, s, phase: str) -> list[str]:
    """Listing plus ``binaryFile`` scan of the whole archive prefix, the
    form every caller passes (``<dir>/*.zip``). Returns failed checks of
    its counts against the generator's."""
    from bridgedownstream_spark.sources import archive

    name, cache = f"{phase}.sources.archive.read_archives", []
    archives = timed_noop(ctx, name, archive.read_archives(ctx.spark, s.archive_glob), cache)
    failures = _archive_counts(ctx, archives, name, s.expected)
    archives.unpersist()
    return failures


def reconcile_metrics(ctx, s, phase: str) -> None:
    """Reconciliation spans (recorded around each call and its action) and
    the lake's visible file counts."""
    for layer, fields in metrics.RECONCILE_LAYERS:
        if layer == "lake":
            ctx.layer(f"{phase}.lake.parquet_files", _files(s.path("parquet"))[0])
            ctx.layer(f"{phase}.lake.json_files", _files(s.path("json"))[0])
            continue
        ctx.layer(
            f"{phase}.{layer}.s",
            sum(sp.duration for sp in ctx.tracer.spans if sp.op == phase and sp.name == layer),
        )
