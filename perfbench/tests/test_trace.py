"""The event-log parser on a committed fixture.

`data/eventlog_build_few_groups.jsonl` is the event log of a toy traced
`build_few_groups` run (1,500 files, local[2]) cut down to one timed
build op tagged `op0`, one untagged set-up job, the SQL plans of their
executions, and only the event fields the parser reads."""

import os

import pytest

from perfbench import run, trace

FIXTURE = os.path.join(
    os.path.dirname(__file__), "data", "eventlog_build_few_groups.jsonl"
)


@pytest.fixture(scope="module")
def log():
    return trace.EventLog(trace.load_events(FIXTURE))


def _op(log):
    jobs = [j for _, j in log.jobs_of("op0")]
    return {
        "id": "op0", "kind": "build", "round": 0, "groups": 21,
        "start": min(j["start"] for j in jobs) / 1000.0 - 0.05,
        "end": max(j["end"] for j in jobs) / 1000.0 + 0.05,
    }


def test_only_tagged_jobs_belong_to_the_op(log):
    assert log.jobs_of("op0")
    assert any(j["op"] is None for j in log.jobs.values())
    tagged = {s for _, j in log.jobs_of("op0") for s in j["stages"]}
    assert {s.id for s in log.stages_of("op0")} <= tagged


def test_stage_roles_follow_the_plan_nodes(log):
    roles = sorted(s.role("build") for s in log.stages_of("op0"))
    assert roles == ["merge", "partial", "scan"]
    merge = next(s for s in log.stages_of("op0") if "MapInPandas:merge_all" in s.nodes)
    assert merge.role("rollup") == "rollup"


def test_op_layers_read_task_and_python_metrics(log):
    m = trace.op_layers(log, _op(log))
    assert m["scan.read_bytes"] > 0 and m["scan.task_s"] > 0
    assert m["exchange.shuffle_write_bytes"] == m["exchange.shuffle_read_bytes"] > 0
    assert m["arrow.to_python_bytes"] > 0 and m["arrow.from_python_bytes"] > 0
    assert m["python.run_s"] > 0
    assert m["sketch_agg.partial_stage_s"] > 0 and m["sketch_agg.merge_stage_s"] > 0
    assert m["sketch_agg.partial_task_max_s"] >= m["sketch_agg.partial_task_p50_s"] > 0
    # salt=8: every group has between one and eight partials
    assert 21 <= m["sketch_agg.partials_out"] <= 8 * 21
    assert 1 <= m["sketch_agg.partials_per_group"] <= 8
    assert m["exchange.partition_skew"] >= 1
    assert m["probe.stage_s"] == m["search.shape_stage_s"] == 0
    # every layer metric the parser computes is declared in BENCHMARK.json
    assert set(m) <= set(run.metric_units("per_layer"))


def test_round_layers_take_the_median_round(log):
    op = _op(log)
    one = trace.round_layers(log, [op])
    assert one == trace.op_layers(log, op)


def test_spans_nest_with_self_time(log):
    op = _op(log)
    spans = trace.spans(log, [op])
    by_id = {s["id"]: s for s in spans}
    root = by_id["op0"]
    jobs = [s for s in spans if s["parent"] == "op0"]
    stages = [s for s in spans if s["parent"] in {j["id"] for j in jobs}]
    assert jobs and len(stages) == 3
    # the op's self time is what its jobs leave uncovered
    assert 0 < root["self_s"] < root["end"] - root["start"]
    for s in spans:
        assert 0 <= s["self_s"] <= s["end"] - s["start"] + 1e-9


def test_covered_merges_overlaps():
    assert trace._covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace._covered([(0, 2)], 1, 1.5) == 0.5
