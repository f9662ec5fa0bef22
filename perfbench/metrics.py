"""Metric names, units and directions, plus the small statistics and
``/proc`` helpers the workloads share. No Spark here."""

from __future__ import annotations

import os
import re

#: printed on every workload with tracing off
END_TO_END = [
    {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "op_cpu_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
]

#: the queries the analytics workload pins (not the registry's window)
PINNED_QUERIES = (
    "kmeans_refine_centroids",
    "semdedup_prune",
    "pq_adc_search",
    "ann_ivf_topk",
    "pagerank_copurchase",
    "hits_scores",
    "lm_perplexity",
    "dedup_latest",
    "anti_join_missing",
    "count_reconciliation_report",
    "relationalize_child",
    "q9_product_type_profit",
)

#: stage-1 layers timed one by one over materialized input (isolation pass)
STAGE1_LAYERS = (
    ("sources.archive.read_archives", ("s", "archives", "bytes")),
    ("sources.archive.explode_members", ("s", "members")),
    ("validation.validate_members", ("s", "members")),
    ("validation.suppress_expected_errors", ("s", "suppressed")),
    ("validation.split_valid_records", ("s", "quarantined")),
    ("pipeline.ingest.route_datasets", ("s", "unroutable")),
    ("pipeline.ingest.inject_metadata", ("s",)),
)
#: spans around eager calls on the workflow path, summed per phase
WORKFLOW_LAYERS = (
    ("pipeline.ingest.write_json_lake", ("s", "files", "bytes")),
    ("pipeline.json_to_parquet.write_parquet_dataset", ("s", "files", "bytes")),
    ("streaming.ingest_stream.stream_ingest", ("s", "self_s", "batches")),
    ("pipeline.workflow.discover_datasets", ("s",)),
    ("pipeline.fsutil.list_data_files", ("s", "files")),
    ("pipeline.ledger.commit", ("s", "rows")),
    ("pipeline.ledger.processed_files", ("rows",)),
    ("pipeline.json_to_parquet.run_json_to_parquet", ("s", "self_s")),
    ("operators.relationalize.relationalize", ("tables", "rows")),
    ("spark", ("jobs", "stages", "tasks")),
)
RECONCILE_LAYERS = (
    ("operators.reconcile.missing_records", ("s",)),
    ("operators.reconcile.count_reconciliation", ("s",)),
    ("operators.reconcile.replay_quarantine", ("s",)),
    ("pipeline.catalog.register_lake_views", ("s",)),
    ("lake", ("parquet_files", "json_files")),
)

#: fixed counts of the generated input and of the relationalized output:
#: any change means the semantics changed, so the traced run checks them
#: against the generator's counts and prints them, and they are not
#: per-layer metrics (no direction of theirs is better)
INVARIANTS = frozenset({
    "sources.archive.read_archives.archives",
    "sources.archive.read_archives.bytes",
    "sources.archive.explode_members.members",
    "validation.validate_members.members",
    "validation.suppress_expected_errors.suppressed",
    "validation.split_valid_records.quarantined",
    "pipeline.ingest.route_datasets.unroutable",
    "operators.relationalize.relationalize.tables",
    "operators.relationalize.relationalize.rows",
})
#: every per-layer metric is a time or a count of work done (files, ledger
#: entries, jobs, exchanges), so lower is better for all of them
_UNITS = {"s": "s", "self_s": "s", "bytes": "bytes", "overhead_s": "s"}


def _expand(prefix: str, layers) -> list[str]:
    return [
        f"{prefix}{layer}.{field}"
        for layer, fields in layers
        for field in fields
        if f"{layer}.{field}" not in INVARIANTS
    ]


def per_layer_names() -> list[str]:
    return (
        _expand("backfill.", STAGE1_LAYERS)
        + _expand("backfill.", WORKFLOW_LAYERS)
        + _expand("hourly.", STAGE1_LAYERS[:1])
        + _expand("hourly.", WORKFLOW_LAYERS)
        + _expand("hourly.", RECONCILE_LAYERS)
        + [f"queries.{q}.{f}" for q in PINNED_QUERIES for f in ("s", "exchanges")]
        + ["trace.overhead_s"]
    )


def per_layer() -> list[dict[str, str]]:
    out = []
    for name in per_layer_names():
        field = name.rsplit(".", 1)[1]
        out.append({"name": name, "unit": _UNITS.get(field, "count"), "better": "lower"})
    return out


NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile of ``values`` that leaves at least ``beyond``
    samples above it, as ``(percentile, value)`` by the nearest-rank rule;
    None when there are not more than ``beyond`` samples."""
    n = len(values)
    if n <= beyond:
        return None
    k = n - beyond  # rank of the reported sample; ``beyond`` ranks follow
    return 100.0 * k / n, sorted(values)[k - 1]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _descendants() -> list[int]:
    kids = _children()
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def descendants_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    every live descendant of this process: the JVM and its Python workers."""
    ticks = 0
    for p in _descendants():
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants_peak_rss_mb() -> float:
    """Sum of peak resident memory (``VmHWM``) over every live descendant of
    this process: the driver JVM and the Python workers it forks. Only
    processes alive now are counted."""
    total_kb = 0
    for p in _descendants():
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def parquet_files(path: str):
    """Visible ``.parquet`` files under ``path`` (Spark's hidden-path rule)."""
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(dirpath, f)


def parquet_rows(path: str) -> int:
    """Rows of a parquet table from its footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in parquet_files(path))


def tree_bytes(path: str, visible_only: bool = False) -> tuple[int, int]:
    """``(files, bytes)`` under ``path``. ``visible_only`` applies Spark's
    hidden-path rule (a component starting with ``_`` or ``.`` hides it)."""
    files = size = 0
    for dirpath, dirnames, filenames in os.walk(path):
        if visible_only:
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
            filenames = [f for f in filenames if not f.startswith(("_", "."))]
        for f in filenames:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return files, size
