"""Self-tests of the benchmark. Run from the checkout root:

    python3 -m pytest kgbench/ -q

The smoke tests run every workload at --size tiny on a fixed seed, with and
without tracing (a few minutes; the first one also mines the kg model into
.kgbench_work/ if this checkout has none).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kgbench import run as R  # noqa: E402
from kgbench.eventlog import rollup  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
E2E = {m["name"]: m for m in SPEC["end_to_end"]}
LAYERS = {m["name"]: m for m in SPEC["per_layer"]}


def _bench(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "kgbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


# ------------------------------------------------------------------ gates


@pytest.fixture(scope="module")
def gold(tmp_path_factory) -> set:
    from fixtures.generate import generate

    out = str(tmp_path_factory.mktemp("gen"))
    generate(out, n_pages=40, n_annotated=5, seed=3)
    return {(r["subj"], r["pred"], r["obj"], r["url"])
            for r in R.read_rows(os.path.join(out, "gold_triples.parquet"))}


def _one_dropped(triples: set) -> set:
    return set(sorted(triples)[1:])


def test_kg_full_gate_fails_on_one_dropped_triple(gold):
    assert R.gate_kg_full(set(gold), gold)
    assert not R.gate_kg_full(_one_dropped(gold), gold)
    assert R.prf(_one_dropped(gold), gold)[1] < 1.0


def test_kg_delta_gate_fails_on_one_dropped_triple(gold):
    rows = {"detect": 10, "triples": 7, "edges": 5, "nodes": 4}
    assert R.gate_kg_delta(dict(rows), set(gold), rows, gold)
    assert not R.gate_kg_delta(dict(rows), _one_dropped(gold), rows, gold)
    assert not R.gate_kg_delta(dict(rows, triples=6), set(gold), rows, gold)


def test_failed_gate_counts_the_operation_as_failed(gold):
    outputs = iter([set(gold), _one_dropped(gold), set(gold)])

    def op():
        got = next(outputs)
        return {"ok": R.gate_kg_full(got, gold)}

    recs = [op(), op(), op()]
    result = R.result_line(recs, {}, {})
    assert (result["attempted"], result["failed"]) == (3, 1)
    assert result["correct"] is False


def test_raising_operation_counts_as_failed():
    calls = iter([{"ok": True, "wall_s": 1.0}])

    def op():
        return next(calls)  # the second call raises StopIteration

    recs = R.measure(0.0, op) + R.measure(0.0, op)
    assert R.result_line(recs, {}, {})["failed"] == 1


# -------------------------------------------------------------- event log


def test_rollup_sums_tasks_and_finds_the_arrow_stage():
    scope = json.dumps({"id": "3", "name": "MapInArrow"})
    events = [
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 1000,
                        "Completion Time": 3500,
                        "RDD Info": [{"Scope": scope}]}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Submission Time": 0,
                        "Completion Time": 10, "RDD Info": []}},
    ]
    for stage, dur in ((1, 100), (1, 100), (1, 400), (2, 5)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": dur},
            "Task Metrics": {
                "Executor Run Time": dur, "Executor CPU Time": dur * 10**6,
                "JVM GC Time": 1, "Memory Bytes Spilled": 2,
                "Disk Bytes Spilled": 3,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}},
        })
    r = rollup(events)
    assert r["tasks"] == 4 and r["scoped_tasks"] == 3
    assert r["executor_run_s"] == pytest.approx(0.605)
    assert r["executor_cpu_s"] == pytest.approx(0.605)
    assert r["gc_s"] == pytest.approx(0.004)
    assert (r["shuffle_bytes"], r["spill_bytes"]) == (28, 20)
    assert r["scoped_stage_s"] == pytest.approx(2.5)
    assert r["scoped_task_skew"] == pytest.approx(4.0)


# ------------------------------------------------------------ the contract


def test_benchmark_json_follows_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["command"][1].startswith(SPEC["paths"][0] + "/")
    assert {w["name"] for w in SPEC["workloads"]} == set(R.WORKLOADS)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = E2E["setup_s"]
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    with open(os.path.join(ROOT, "kgbench", "layers.json")) as f:
        assert set(json.load(f)["per_layer"]) == set(LAYERS)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "kgbench"), tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(["--workload", "kg_full", "--seed", "1", "--seconds", "1",
                "--trace", "0"], cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# ------------------------------------------------------------------ smoke


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(R.WORKLOADS))
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    p = _bench(["--workload", workload, "--seed", "11", "--seconds", "1",
                "--trace", str(trace), "--size", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = LAYERS if trace else E2E
    assert set(result["metrics"]) == set(spec)
    for name, m in result["metrics"].items():
        assert m["unit"] == spec[name]["unit"], name
        assert isinstance(m["value"], float) and math.isfinite(m["value"])
        if not trace:
            assert m["value"] > 0, name
    if trace:
        for name in spec:
            assert any(ln.startswith(f"{name} = ") and " -> moves " in ln
                       for ln in lines[:-1]), name
    else:
        assert result["metrics"]["triple_precision"]["value"] == 1.0
        assert result["metrics"]["triple_recall"]["value"] == 1.0
