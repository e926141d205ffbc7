"""Tests of the benchmark itself: span arithmetic, the tail-percentile
rule, metric names, input generation, and a tiny-length smoke run of
every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import datagen, stats
from perfbench.harness import (
    END_TO_END, PER_LAYER, UNITS, OpRecord, Runner, Settings, overhead_ratio, per_layer,
)
from perfbench.tracing import Span, Tracer, per_op_totals, self_times, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- spans -------------------------------------------------------------------


def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 5)]) == 3.0
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10.0


def test_self_time_subtracts_children_only_once():
    spans = [
        Span("op", 0.0, 10.0, None, "a"),
        Span("plans.build", 1.0, 4.0, 0, "a"),
        Span("session.load_table", 1.5, 2.0, 1, "a"),
        Span("session.load_table", 1.8, 2.5, 1, "a"),  # overlaps its sibling
        Span("plans.exec", 5.0, 9.0, 0, "a"),
    ]
    got = self_times(spans)
    assert got == pytest.approx([3.0, 2.0, 0.5, 0.7, 4.0])
    # a parent's self time never goes below zero, and the self times of a
    # tree add up to the root's duration when children do not overlap
    assert sum(got[i] for i in (0, 1, 4)) + union_length([(1.5, 2.0), (1.8, 2.5)]) == (
        pytest.approx(10.0))


def test_child_running_past_its_parent_is_clipped():
    spans = [Span("op", 0.0, 1.0, None, "a"), Span("x", 0.5, 2.0, 0, "a")]
    assert self_times(spans)[0] == pytest.approx(0.5)


def test_tracer_nests_spans_and_totals_per_op():
    tr = Tracer(enabled=True)
    tr.active = True
    tr.op_id = "timed-0"
    with tr.span("op"):
        with tr.span("plans.build"):
            pass
        wrapped = tr.wrap(lambda x: x + 1, "plans.exec")
        assert wrapped(1) == 2
    tr.active = False
    with tr.span("op"):  # inactive: nothing recorded
        pass
    assert [s.name for s in tr.spans] == ["op", "plans.build", "plans.exec"]
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    totals = per_op_totals(tr.spans, ["timed-0"])
    incl, self_s = totals["op"]["timed-0"]
    assert self_s <= incl
    assert set(totals) == {"op", "plans.build", "plans.exec"}


# --- the tail-percentile rule ------------------------------------------------


def test_p90_omitted_with_fewer_than_ten_samples_beyond_it():
    assert stats.tail_percentile([1.0] * 50 + list(range(2, 11))) is None
    assert stats.tail_percentile([]) is None
    # 99 samples: p90 is the 90th value, 9 lie beyond it -> omitted
    assert stats.tail_percentile([float(i) for i in range(1, 100)]) is None


def test_p90_reported_with_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 101)]  # p90 = 90, ten values beyond
    assert stats.tail_percentile(values) == 90.0
    assert stats.percentile(values, 50) == 50.0


# --- metric names --------------------------------------------------------------


def test_metric_names_are_well_formed_and_unique():
    names = [n for n, _, _ in END_TO_END + PER_LAYER] + ["op_p90_s", "rows_per_s",
                                                          "failed_ops_ratio"]
    assert len(names) == len(set(names))
    for name in names:
        assert stats.valid_metric_name(name), name
        assert name in UNITS
    assert not stats.valid_metric_name("bad name")
    assert not stats.valid_metric_name("_leading")
    assert not stats.valid_metric_name("x" * 65)


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"]) <= 0.25
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


# --- inputs ------------------------------------------------------------------


def test_generated_inputs_depend_only_on_the_seed():
    a = datagen.make_tables(7, sf=0.001)
    b = datagen.make_tables(7, sf=0.001)
    c = datagen.make_tables(8, sf=0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000
    assert datagen.make_events(3, 0.001).equals(datagen.make_events(3, 0.001))


# --- smoke runs ---------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.harness import start_session, stop_session
    from perfbench.run import isolate

    isolate(str(tmp_path_factory.mktemp("perfbench") / "env"))
    session, _ = start_session("perfbench-tests")
    yield session
    stop_session(session)


@pytest.mark.parametrize("name", ["vehicle_refresh", "dashboard_mix", "curation_batch",
                                  "event_ingest"])
def test_tiny_smoke_run(spark, tmp_path, name):
    from perfbench.harness import run_workload
    from perfbench.workloads import WORKLOADS

    settings = Settings(seed=1, seconds=0.1, trace=True, work_dir=str(tmp_path / "w"),
                        sf=0.01, trace_out=str(tmp_path / "spans.json"))
    os.makedirs(settings.work_dir)
    report, result = run_workload(WORKLOADS[name], spark, settings, session_s=1.0)
    assert result["correct"], report["errors"]
    assert result["failed"] == 0 and result["attempted"] >= 2
    assert set(result["metrics"]) == {n for n, _, _ in PER_LAYER}
    assert report["rounds"] >= 2 and report["unmeasured"] == []
    e2e = report["metrics"]
    for n, unit, _ in END_TO_END:
        assert e2e[n]["unit"] == unit and e2e[n]["value"] > 0, n
    assert e2e["failed_ops_ratio"]["value"] == 0.0
    assert ("rows_per_s" in e2e) == (name != "dashboard_mix")
    assert report["env"]["master"].startswith("local[")
    assert result["metrics"]["spark.jobs_per_op"]["value"] > 0
    with open(settings.trace_out, encoding="utf-8") as f:
        assert json.load(f)["spans"]
    # every staged input, sink and checkpoint is gone once the run ends
    assert [f for _, _, fs in os.walk(settings.work_dir) for f in fs] == []


def test_per_layer_reads_zero_for_layers_never_called():
    runner = Runner(None, None, Tracer(enabled=False))
    layers, table = per_layer(runner, Tracer(enabled=True), {})
    # no traced/untraced pair: the overhead is left out, not read as 0
    assert set(layers) == {n for n, _, _ in PER_LAYER} - {"trace.overhead_ratio"}
    assert all(v == 0.0 for v in layers.values()) and table == {}


def _rec(name, latency, traced):
    return OpRecord(name, "timed", "x", 0, latency, True, 0, traced)


def test_overhead_ratio_needs_a_traced_and_an_untraced_sample():
    assert overhead_ratio([_rec("a", 2.0, True), _rec("b", 1.0, False)]) is None
    got = overhead_ratio([_rec("a", 1.1, True), _rec("a", 1.0, False),
                          _rec("b", 2.0, True), _rec("b", 2.0, False)])
    assert got == pytest.approx(0.05)


def test_traced_run_times_at_least_two_rounds():
    settings = Settings(seed=1, seconds=0.0, trace=True, work_dir="")
    runner = Runner(None, settings, Tracer(enabled=False))  # no Spark job counter
    runner.tracer = Tracer(enabled=True)
    runner.timed(lambda r: [("a", lambda: None, 0, None)])
    assert [r.traced for r in runner.records] == [True, False]


def test_command_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command exits non-zero and prints no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "traces", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "event_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
