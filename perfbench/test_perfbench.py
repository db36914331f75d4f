"""Tests of the benchmark's own logic: python3 -m pytest perfbench -q"""

from __future__ import annotations

import filecmp
import json
import os
import re
import tempfile

import numpy as np
import pytest

import check
import gen
import measure
import run
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 35))          # 34 samples
    value, pct = measure.tail(xs)
    assert value == 24 and sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 24 / 34)
    assert measure.tail(list(range(80)))[1] == pytest.approx(87.5)
    # too few samples for a rank at or above the median: the maximum
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert measure.tail(list(range(20))) == (19, 100.0)
    assert measure.tail(list(range(21)))[0] == 10


def test_same_seed_same_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    names = ("customer", "orders", "documents", "embeddings")
    assert gen.write_tables(5, str(a), names) == gen.write_tables(5, str(b), names)
    gen.write_tables(6, str(c), names)
    for t in names:
        files = sorted(os.listdir(a / f"{t}.parquet"))
        assert files == sorted(os.listdir(b / f"{t}.parquet"))
        _, mismatch, errors = filecmp.cmpfiles(a / f"{t}.parquet", b / f"{t}.parquet", files, shallow=False)
        assert not mismatch and not errors
    assert any(not filecmp.cmp(a / "orders.parquet" / f, c / "orders.parquet" / f, shallow=False)
               for f in os.listdir(c / "orders.parquet") if (a / "orders.parquet" / f).exists())
    s1, s2 = gen.stream_slices(5, 6, 100, 0.125), gen.stream_slices(5, 6, 100, 0.125)
    assert all(x.equals(y) for x, y in zip(s1, s2))
    assert not gen.stream_slices(6, 6, 100, 0.125)[0].equals(s1[0])


def test_metric_names_are_well_formed_and_match_the_code():
    bench = _bench()
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    for name in e2e + layers + [w["name"] for w in bench["workloads"]]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert len(set(e2e + layers)) == len(e2e + layers)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_self_time_is_span_minus_children():
    spans = [
        {"id": 0, "name": "job", "start": 0.0, "end": 10.0, "parent": None, "job": "q"},
        {"id": 1, "name": "plans.build", "start": 1.0, "end": 4.0, "parent": 0, "job": "q"},
        {"id": 2, "name": "operators.dedup", "start": 2.0, "end": 3.0, "parent": 1, "job": "q"},
        {"id": 3, "name": "operators.dedup", "start": 2.5, "end": 3.5, "parent": 1, "job": "q"},
        {"id": 4, "name": "plans.execute", "start": 5.0, "end": 6.0, "parent": 0, "job": "q"},
    ]
    st = tracing.self_times(spans)
    assert st["job"]["self_s"] == pytest.approx(10 - 3 - 1)
    assert st["plans.build"]["self_s"] == pytest.approx(3 - 1.5)   # children overlap: union is 1.5
    assert st["operators.dedup"] == {"calls": 2, "total_s": 2.0, "self_s": 2.0}


def test_tracer_wraps_every_alias_and_restores_it():
    from quatrain_mapreduce_spark.operators import components
    from quatrain_mapreduce_spark.plans import data_pipeline  # noqa: F401  (imports operators by name)

    original = components.connected_components
    tracer = tracing.Tracer()
    tracer.install({"operators.components": components})
    try:
        assert components.connected_components is not original
        assert components.connected_components.__wrapped__ is original
        with tracer.span("job", job="q"):
            with pytest.raises(Exception):
                components.connected_components(None)
        assert [s["name"] for s in tracer.spans] == ["job", "operators.components"]
        assert tracer.spans[1]["parent"] == 0 and tracer.spans[1]["job"] == "q"
    finally:
        tracer.uninstall()
    assert components.connected_components is original


def test_interaction_map_names_only_defined_metrics_and_workloads():
    bench = _bench()
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    listed = {w["name"] for w in bench["workloads"]}
    demoted = set(run.DEMOTED_UNITS)
    with open(os.path.join(HERE, "interactions.json")) as fh:
        moves = json.load(fh)["moves"]
    assert demoted <= layers and not demoted & e2e
    assert set(moves) == layers - demoted
    assert any(t["workload"] in listed for targets in moves.values() for t in targets)
    for layer, targets in moves.items():
        assert targets, layer
        for t in targets:
            assert t["metric"] in e2e | demoted and t["workload"] in run.WORKLOADS, (layer, t)


def test_sql_metric_text_parses_to_seconds():
    assert tracing.metric_seconds("148 ms") == pytest.approx(0.148)
    assert tracing.metric_seconds("total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, 3 ms (stage 3.0: task 5))") == 1.5
    assert tracing.metric_seconds("0.0 B") is None


def test_components_twin_equals_the_registry_oracle():
    import pyarrow.parquet as pq

    from quatrain_mapreduce_spark.registry import all_queries

    docs = gen._documents(np.random.default_rng(3), 600)
    assert len(check.components_expected(docs)[0]) > 20
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(os.path.join(d, "documents.parquet"))
        pq.write_table(docs, os.path.join(d, "documents.parquet", "part-00000.parquet"))
        con = check.duck_views(d, ("documents",))
        for name in run.COMPONENT_JOBS:
            rows, cols = check.oracle_rows(con, all_queries()[name].oracle)
            assert check.compare(*check.components_expected(docs), rows, cols) is None


def test_stream_expected_groups_by_window_and_type():
    slices = gen.stream_slices(1, 3, 50, 2.0)
    want = check.stream_expected(slices, window_s=4)
    assert sum(n for n, _, _ in want.values()) == 150
    assert {s for _, _, s in want.values()} <= {0, 1, 2}
    assert len({k[0] for k in want}) == 2   # slices 0-1 and slice 2 fall in two windows


def test_compare_allows_only_reduction_order_noise():
    cols = ["k", "v"]
    assert check.compare([(1, 1146989249.78)], cols, [(1, 1146989249.77)], cols) is None
    assert check.compare([(1, 2.35)], cols, [(1, 2.34)], cols) is not None
    assert check.compare([(1, 5.0), (2, 1.0)], cols, [(2, 1), (1, 5)], ["k", "v"]) is None
    assert check.compare([(1, 5.0)], cols, [(1, 5.0), (1, 5.0)], cols) is not None
    assert check.compare([(1, 5.0)], cols, [(5.0, 1)], ["v", "k"]) is None


def test_end_descendants_stops_orphaned_grandchildren():
    """A grandchild whose parent exits first (as the Python workers do when
    the JVM ends) is adopted, stopped and reaped before end_descendants
    returns."""
    import subprocess
    import sys

    script = (
        "import os, subprocess, sys, time\n"
        f"sys.path.insert(0, {HERE!r})\n"
        "import measure\n"
        "measure.adopt_orphans()\n"
        "mid = subprocess.Popen([sys.executable, '-c', "
        "'import subprocess, sys; print(subprocess.Popen([\"sleep\", \"60\"]).pid, flush=True)'], "
        "stdout=subprocess.PIPE, text=True)\n"
        "orphan = int(mid.stdout.readline())\n"
        "mid.wait()\n"
        "measure.end_descendants(grace_s=5)\n"
        "print(orphan, os.path.exists(f'/proc/{orphan}'))\n"
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    pid, alive = out.stdout.split()
    assert alive == "False", pid
