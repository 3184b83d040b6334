"""Smoke test of the benchmark itself, at tiny scale.

    python -m pytest perfbench/test_smoke.py -q

Checks that every end-to-end and per-layer metric named in BENCHMARK.json
prints with its unit on every workload, that a lake with one altered row
fails the correctness gate (non-zero exit, ``correct: false``), that the
reconcile check flags batch time no layer span covers, and that the
benchmark refuses to run without the engine next to it. Takes a few
minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.layers import PER_LAYER, RECONCILE_TOL, reconcile  # noqa: E402
from perfbench.trace import parse_metric, parse_plan_dot, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(cwd: str, workload: str, *flags: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", *flags],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def assert_metrics(line: str, spec: list[dict]) -> dict:
    result = json.loads(line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    return result


def test_benchmark_json_matches_code():
    from perfbench.run import E2E

    assert [(m["name"], m["unit"]) for m in BENCH["end_to_end"]] == E2E
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == PER_LAYER
    with open(os.path.join(HERE, "workloads.json")) as f:
        assert set(json.load(f)["workloads"]) == set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_print_with_units(workload):
    code, lines = run(ROOT, workload, "--trace", "0", "--smoke")
    result = assert_metrics(lines[-1], BENCH["end_to_end"])
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics_print_with_units(workload):
    code, lines = run(ROOT, workload, "--trace", "1", "--smoke")
    result = assert_metrics(lines[-1], BENCH["per_layer"])
    assert code == 0 and result["correct"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["pipeline.batches"] >= 1 and m["text.python_run_s"] > 0
    assert m["trace.reconcile_err_max"] <= RECONCILE_TOL
    if workload == "stream_tail":
        assert m["consumer.propagate_s"] > 0
        assert all(m[k] > 0 for k in m if k.startswith("query."))


def test_corrupted_lake_fails_the_gate():
    code, lines = run(ROOT, "backfill", "--trace", "0", "--smoke", "--corrupt")
    result = json.loads(lines[-1])
    assert code != 0
    assert result["correct"] is False and result["failed"] >= 1


def test_reconcile_flags_time_no_layer_covers():
    spans = [
        # bounded replay: the benchmark's op.apply around run_batch_replay
        {"id": 1, "name": "op.apply", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "change_feed.read_batch", "parent": 1, "start": 0.2, "end": 0.5},
        {"id": 3, "name": "pipeline.apply_batch", "parent": 1, "start": 0.5, "end": 9.8},
        {"id": 4, "name": "lake.merge", "parent": 3, "start": 1.0, "end": 9.0},
        # a streamed micro-batch whose apply covers half of addBatch
        {"id": 5, "name": "pipeline.apply_batch", "parent": None, "start": 20.0, "end": 24.0},
        {"id": 6, "name": "op.lookup", "parent": None, "start": 21.0, "end": 22.0},
        {"id": 7, "name": "lake.lookup", "parent": 6, "start": 21.0, "end": 22.0},
    ]
    batches = [{"lo": 100.0, "hi": 110.0, "wall": 10.0},
               {"lo": 119.5, "hi": 128.0, "wall": 8.0}]
    errs = reconcile(spans, batches, epoch_offset=100.0)
    assert errs == [pytest.approx(0.04), pytest.approx(0.5)]
    assert abs(errs[0]) <= RECONCILE_TOL < abs(errs[1])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = run(str(tmp_path), WORKLOADS[0])
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in lines)


def test_parse_metric_units():
    m = parse_metric("total (min, med, max (stageId: taskId))\n"
                     "1.5 s (10 ms, 100 ms, 1.2 s (stage 3.0: task 12))")
    assert m["total"] == 1.5 and m["min"] == 0.01 and m["max"] == 1.2
    assert m["stage"] == 3
    assert parse_metric("2,755")["total"] == 2755
    assert parse_metric("248.7 KiB")["total"] == pytest.approx(248.7 * 1024)


def test_parse_plan_dot_and_self_times():
    dot = "\n".join([
        "digraph G {",
        '  0 [id="node0" labelType="html" label="<b>Exchange</b><br><br>'
        "shuffle records written: 21,000<br>shuffle bytes written total (min, med, "
        "max (stageId: taskId))<br>2.6 MiB (1 KiB, 2 KiB, 3 KiB (stage 0.0: task 1))"
        '" tooltip="Exchange hashpartitioning(_bucket#26, 8)"];',
        "  subgraph cluster1 {",
        '    isCluster="true";',
        '    id="cluster1";',
        '    label="WholeStageCodegen (1)\\n \\nduration: total (min, med, max '
        '(stageId: taskId))\\n4.7 s (2.3 s, 2.4 s, 2.4 s (stage 0.0: task 1))";',
        '    tooltip="WholeStageCodegen (1)";',
        '      2 [id="node2" labelType="html" label="<b>Filter</b><br><br>number of '
        'output rows: 7" tooltip="Filter isnotnull(lsn#0L)"];',
        "  }",
        "  2->0;",
        "}",
    ])
    g = parse_plan_dot(dot)
    assert g["nodes"][0]["metrics"]["shuffle records written"]["total"] == 21000
    assert g["nodes"][0]["metrics"]["shuffle bytes written"]["stage"] == 0
    assert g["nodes"][2]["cluster"] == 1 and g["clusters"][1]["duration"]["total"] == 4.7
    assert g["edges"] == [(2, 0)]
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0) and st[2] == pytest.approx(3.0)
