"""Toy-size runs of every workload, through the command line and in
process.  Each test starts Spark, so the module takes a few minutes."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from honas_spark import kernels as K
from perfbench import run, workloads

ROOT = run.ROOT
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
TOY_FILES = "3000"


def _run(workload: str, traced: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(traced),
         "--files", TOY_FILES],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    return result


def test_benchmark_json_names_the_harness_workloads():
    assert BENCH["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in BENCH["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    result = _result(_run(workload, 0))
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    result = _result(_run(workload, 1))
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["trace.round_s_p50"] > 0 and m["kernels.keys"] > 0
    if workload == "sketch_query":
        assert m["probe.rows_out"] > 0 and m["rollup.merge_stage_s"] > 0
    else:
        assert m["sketch_agg.partial_stage_s"] > 0
        assert m["arrow.to_python_bytes"] > 0


def test_run_without_the_library_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("results", ".work", "__pycache__"),
    )
    proc = _run("build_few_groups", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.pin_environment(str(tmp_path_factory.mktemp("work")), trace=False)
    from honas_spark.session import get_spark

    session = get_spark(app="perfbench-tests", cpus=2)
    yield session
    run.stop_spark(session)


def test_flipped_bloom_bit_fails_the_build_check(spark, tmp_path):
    wl = workloads.build_few_groups(spark, 5, 2000, str(tmp_path))
    assert wl.setup_failures == []
    op = wl.ops[0]
    assert op.check(op.run()) == []

    df = op.frame()
    rows = [r.asDict() for r in df.collect()]
    spec = wl.spec
    filt = K.bloom_unpack(rows[0]["filters"], spec.num_filters,
                          spec.filter_bytes)
    filt[0, 123] ^= 0x01
    rows[0]["filters"] = K.bloom_pack(filt)
    bad = spark.createDataFrame(rows, df.schema)
    fails = op.check(workloads.digests(bad, wl.group_cols))
    assert len(fails) == 1 and "filters differs" in fails[0]
