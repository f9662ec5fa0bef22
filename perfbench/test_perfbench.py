"""Fast checks of the benchmark itself; none starts a Spark session.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import types

import pytest

from perfbench import metrics, run, study
from perfbench.trace import Span, Tracer, self_time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _generate(seed: int, root) -> tuple[dict[str, bytes], list, study.Expected]:
    gen = study.StudyGenerator(seed, str(root / "archives"))
    rows, exp = gen.batch(60, corrupt=1)
    more, exp2 = gen.batch(3, range(27, 28))
    exp.add(exp2)
    files = {
        name: (root / "archives" / name).read_bytes()
        for name in sorted(os.listdir(root / "archives"))
    }
    return files, rows + more, exp


def test_generator_is_deterministic(tmp_path):
    a = _generate(7, tmp_path / "a")
    b = _generate(7, tmp_path / "b")
    assert a[0] == b[0]  # byte-identical archives under the same names
    assert a[1] == b[1]  # identical manifest rows
    assert a[2].table_counts() == b[2].table_counts()
    c = _generate(8, tmp_path / "c")
    assert c[0] != a[0]
    # seeds differ in content, not in volume
    volume = [sum(map(len, files.values())) for files in (a[0], c[0])]
    assert volume[1] == pytest.approx(volume[0], rel=0.02)


def test_generator_counts_add_up(tmp_path):
    _, manifest, exp = _generate(3, tmp_path)
    assert exp.archives == 63 == len(manifest)
    assert len(exp.quarantined_records) == 2  # round(59 * 2%) invalid + 1 corrupt
    corrupt = 1
    assert exp.members == 5 * (exp.archives - corrupt) + corrupt
    assert exp.valid_records.isdisjoint(exp.quarantined_records)
    assert len(exp.valid_records) + len(exp.quarantined_records) == exp.archives
    counts = exp.table_counts()
    for root_table in study.ROOT_TABLES:
        assert counts[root_table][1] == len(exp.valid_records)
    assert counts["ArchiveMetadata_v1_files"][0] == 5 * len(exp.valid_records)


def test_tail_percentile_leaves_ten_samples_beyond():
    rng = random.Random(1)
    for n in range(1, 80):
        values = rng.sample(range(10_000), n)
        got = metrics.tail_percentile(values)
        if n <= 10:
            assert got is None
            continue
        pct, value = got
        above = sorted(values)
        assert sum(v > value for v in values) == 10
        # the highest such percentile: one rank higher leaves only nine
        assert sum(v > above[above.index(value) + 1] for v in values) == 9
        assert 0 < pct < 100


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert bench["end_to_end"] == metrics.END_TO_END
    assert bench["per_layer"] == metrics.per_layer()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.NAME_RE.match(name), name
    assert {w["name"] for w in bench["workloads"]} == {"hourly", "analytics"}
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])


def test_fixed_counts_are_not_per_layer_metrics():
    names = metrics.per_layer_names()
    for name in names:
        assert name.split(".", 1)[1] not in metrics.INVARIANTS, name
    assert all(m["better"] == "lower" for m in metrics.per_layer())


def test_wrap_entry_wraps_and_restores_a_registry_callable():
    registry = {"q": (lambda spark, sf: ("frame", sf), "oracle sql")}
    original = registry["q"]
    tracer = Tracer(types.SimpleNamespace(sparkContext=None))
    tracer.wrap_entry(registry, "q", "queries.q")
    fn, oracle = registry["q"]
    assert fn is not original[0] and oracle == "oracle sql"
    assert fn(None, "sf") == ("frame", "sf")  # tracing off: a plain call
    tracer.uninstall()
    assert registry["q"] is original


def test_self_time_subtracts_covered_union():
    parent = Span(1, "p", "op", None, "main", start=0.0, end=10.0)
    kids = [
        Span(2, "a", "op", 1, "t1", start=1.0, end=4.0),
        Span(3, "b", "op", 1, "t2", start=3.0, end=5.0),  # overlaps a
        Span(4, "c", "op", 1, "t1", start=8.0, end=12.0),  # runs past the end
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)


def _ctx(ops):
    args = types.SimpleNamespace(seed=1, seconds=1, trace=0, workload="hourly")
    ctx = run.Context(args, cpus=4, work="")
    ctx.setup_s = 1.5
    ctx.ops = ops
    return ctx


def test_failed_check_makes_the_command_fail(capsys):
    ok = _ctx([run.Op(2.0, 1.5), run.Op(3.0, 2.5)])
    assert run.report(ok) == 0
    line = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert line["correct"] and line["attempted"] == 2 and line["failed"] == 0
    assert set(line["metrics"]) == {m["name"] for m in metrics.END_TO_END}
    assert line["metrics"]["op_p50_s"] == {"value": 2.5, "unit": "s"}

    bad = _ctx([run.Op(2.0, 1.5)])
    bad.fail_last(["TaskData_v1: (rows, recordids)=(9, 3) want (6, 3)"])
    assert run.report(bad) == 1
    line = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert line == {**line, "correct": False, "failed": 1}


def test_missing_package_exits_nonzero(monkeypatch):
    monkeypatch.setattr(run.importlib.util, "find_spec", lambda name: None)
    assert run.main(["--workload", "hourly", "--seed", "1"]) == 2
