"""Tests of the benchmark itself: names, the pinned result/record schema, the
pure helpers, and a tiny-scale smoke run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
RECORD_KEYS = {"workload", "seed", "trace", "tiny", "sf", "sort_n", "labels", "end_to_end",
               "per_layer", "ops"}
LABEL_KEYS = {"calib_ms", "steal_frac", "cpus", "driver_memory", "jvm_heap_opts", "jvm_hwm_mb",
              "driver_hwm_mb"}


def test_names_and_units_are_well_formed():
    names = [w["name"] for w in BENCH["workloads"]]
    metrics = BENCH["end_to_end"] + BENCH["per_layer"]
    names += [m["name"] for m in metrics]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert all(UNIT.match(m["unit"]) for m in metrics)


def test_benchmark_json_matches_the_runner():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                          "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in BENCH["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in BENCH["per_layer"]] == list(run.PER_LAYER)
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert m["unit"] == run.unit(m["name"])
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_tables_follow_the_seed():
    a, b, c = gen.tables(1, 0.001), gen.tables(1, 0.001), gen.tables(2, 0.001)
    assert list(a) == list(gen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_plan_counts_reads_the_final_adaptive_plan():
    plan = "\n".join([
        "== Physical Plan ==",
        "AdaptiveSparkPlan (9)",
        "+- == Final Plan ==",
        "   * HashAggregate (5)",
        "   +- ShuffleQueryStage (4)",
        "      +- Exchange (3)",
        "         +- BroadcastExchange (2)",
        "            +- ReusedExchange (6)",
        "               +- Scan parquet  (1)",
        "+- == Initial Plan ==",
        "   Exchange (8)",
        "   +- Scan parquet  (1)",
        "",
        "",
        "(1) Scan parquet ",
        "(3) Exchange",
    ])
    assert layers.plan_counts(plan) == {"file_scans": 1, "exchanges": 1, "reused_exchanges": 1}


def test_self_time_subtracts_covered_child_time():
    t = layers.Tracer()
    root = t.add("op", "op", 0.0, 10.0, None)
    t.add("a", "job", 1.0, 4.0, root)
    t.add("b", "job", 3.0, 6.0, root)  # overlaps a: union is 1..6
    t.add("c", "job", 9.0, 12.0, root)  # clipped to the parent: 9..10
    spans = t.finish()
    assert spans[0]["self_s"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert spans[1]["self_s"] == pytest.approx(3.0)


def _run(workload: str, trace: int) -> tuple[dict, Path]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-3000:]
    lines = done.stdout.strip().splitlines()
    record = ROOT / lines[-2].split()[2]
    return json.loads(lines[-1]), record


def _check_result(result: dict, names) -> None:
    assert set(result) == RESULT_KEYS
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == list(names)
    for name, m in result["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"] == run.unit(name)
        assert isinstance(m["value"], float)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_smoke(workload):
    result, record_path = _run(workload, trace=0)
    _check_result(result, run.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())
    record = json.loads(record_path.read_text())
    assert set(record) == RECORD_KEYS and set(record["labels"]) == LABEL_KEYS
    assert record["workload"] == workload and record["per_layer"] is None


def test_tiny_traced_smoke():
    result, record_path = _run("streaming", trace=1)
    _check_result(result, run.PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["exec.jobs"] >= 1 and m["streaming.triggers"] >= 1
    spans = json.loads(Path(str(record_path).replace("record-", "trace-")).read_text())
    kinds = {s["kind"] for s in spans}
    assert {"run", "setup", "pass", "op", "build", "action", "job", "stage", "check"} <= kinds
    assert all(s["self_s"] >= -1e-6 for s in spans)
