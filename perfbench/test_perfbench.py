"""Self-test of the benchmark: runs each workload briefly, untraced and
traced, through the same command the benchmark is run with.

    python3 -m pytest perfbench/test_perfbench.py -q

It takes about seven minutes on a 4-core host.  It checks that

* every metric ``BENCHMARK.json`` names is printed, with its unit, and
  the outputs check out (``correct``, no failed operations);
* the traced span tree accounts for each operation: an operation's
  wall time is covered by its construct and execute spans up to
  ``OP_RESIDUAL_S`` (the job-group switch between them), and every
  span's self time is non-negative;
* on a pass, ``queries.construct_s + exec.job_wall_s +
  exec.driver_gap_s`` accounts for ``trace.pass_s`` within
  ``PASS_RESIDUAL`` of it (the rest is time between operations);
* the counts ``host.json`` marks as exact repeat exactly across two
  traced runs with different seeds.

It prints the tracing overhead, traced ``trace.pass_s`` minus untraced
``pass_s`` of the same seed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OP_RESIDUAL_S = 0.05
PASS_RESIDUAL = 0.02

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
with open(os.path.join(HERE, "host.json")) as f:
    HOST = json.load(f)


def run_bench(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout[-2000:]
    assert result["attempted"] >= 1
    return result


def assert_metrics(result: dict, spec: list[dict]) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec}
    for m in spec:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


def load_trace(workload: str, seed: int) -> dict:
    with open(os.path.join(ROOT, ".perfbench", f"trace-{workload}-seed{seed}.json")) as f:
        return json.load(f)


def assert_spans_account(trace: dict) -> None:
    spans = trace["spans"]
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        assert s["self_s"] >= -1e-6, s["name"]
    ops = [
        s for s in spans
        if {c["name"] for c in children.get(s["index"], [])} == {"construct", "execute"}
    ]
    assert ops
    for op in ops:
        halves = sum(c["end"] - c["start"] for c in children[op["index"]])
        wall = op["end"] - op["start"]
        assert wall - halves <= OP_RESIDUAL_S, (op["name"], wall, halves)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload(workload):
    untraced = run_bench(workload, seed=7, trace=0)
    assert_metrics(untraced, BENCH["end_to_end"])
    for m in BENCH["end_to_end"]:
        assert untraced["metrics"][m["name"]]["value"] > 0, m["name"]

    traced = run_bench(workload, seed=7, trace=1)
    assert_metrics(traced, BENCH["per_layer"])
    layer = {k: v["value"] for k, v in traced["metrics"].items()}
    assert_spans_account(load_trace(workload, 7))
    accounted = layer["queries.construct_s"] + layer["exec.job_wall_s"] + layer["exec.driver_gap_s"]
    assert abs(layer["trace.pass_s"] - accounted) <= PASS_RESIDUAL * layer["trace.pass_s"]
    overhead = layer["trace.pass_s"] - untraced["metrics"]["pass_s"]["value"]
    print(f"{workload}: tracing overhead {overhead:+.2f} s on a"
          f" {untraced['metrics']['pass_s']['value']:.2f} s pass")

    again = run_bench(workload, seed=8, trace=1)
    for name in HOST["exact_repeat_counts"]:
        assert again["metrics"][name]["value"] == layer[name], name


def test_host_record_matches_inputs():
    import pyarrow.parquet as pq

    data = os.path.join(HERE, "data", "sf0.001")
    rows = {
        t[: -len(".parquet")]: pq.ParquetFile(os.path.join(data, t)).metadata.num_rows
        for t in os.listdir(data)
    }
    assert rows == HOST["inputs"]["sf0.001_rows"]
    names = {m["name"] for m in BENCH["per_layer"]}
    assert set(HOST["exact_repeat_counts"]) <= names


def test_host_record_matches_query_mix():
    sys.path[:0] = [ROOT, HERE]
    from scala_data_pipeline_spark.queries import all_queries
    from workloads import query_mix

    mix = HOST["workload_shape"]["queries_sf0.001"]["queries"]
    assert query_mix(all_queries()) == mix
