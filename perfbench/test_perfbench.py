"""The benchmark's own tests: the output contract, fault counting, and
the refusal to run without the engine.  The end-to-end cases start
Spark (about half a minute each):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import pandas as pd  # noqa: E402
import tracing  # noqa: E402
from workloads import compare_result  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_every_end_to_end_metric_reported_with_its_unit(workload):
    result = _result(_run(workload, "--trace", "0"))
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1


def test_traced_run_reports_every_per_layer_metric():
    result = _result(_run("weekly_retrain", "--trace", "1"))
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    got = {k: v["value"] for k, v in result["metrics"].items()}
    assert got["streaming.addBatch_ms"] > 0 and got["layer.streaming.ingest.self_ms"] > 0
    assert got["ml.pergroup.python_total_ms"] > 0 and got["trace.spans_per_op"] > 0
    assert got["plans.tpch.exec_s"] == 0  # idle layer on this workload


def test_duplicate_row_in_ingest_target_counts_as_failed():
    proc = _run("weekly_retrain", "--trace", "0", "--inject-fault", "ingest_dup_row")
    result = _result(proc)
    assert not result["correct"]
    assert result["failed"] >= 1
    detail = json.loads(proc.stdout.strip().splitlines()[-2])["detail"]
    assert detail["failed_share"] == result["failed"] / result["attempted"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("weekly_retrain", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_inputs_depend_only_on_the_seed(tmp_path):
    for seed, name in ((3, "a"), (3, "b"), (4, "c")):
        gen.write_star(seed, 0.001, str(tmp_path / name))
    read = lambda d: (tmp_path / d / "lineitem.parquet").read_bytes()  # noqa: E731
    assert read("a") == read("b") != read("c")
    start = dt.date(2026, 1, 1)
    first = itertools.islice(gen.event_stream(gen.SalesModel.draw(3), start), 4)
    again = itertools.islice(gen.event_stream(gen.SalesModel.draw(3), start), 4)
    assert list(first) == list(again)


def test_event_stream_redelivers_and_delays_but_loses_nothing():
    days = gen.dates_from(dt.date(2026, 1, 1), 10)
    drains = list(itertools.islice(gen.event_stream(gen.SalesModel.draw(5), days[0]), len(days)))
    delivered = sum(len(lines) for lines, _ in drains)
    keys = {}
    for _, k in drains:
        assert not keys.keys() & k.keys()  # each key is new in exactly one drain
        keys.update(k)
    assert delivered > len(keys)  # redeliveries
    late = [k for i, (_, ks) in enumerate(drains) for k in ks if k[2] != days[i].isoformat()]
    assert late  # out-of-order dates
    # everything but the last two days' late events has arrived
    assert len(keys) > (len(days) - 2) * gen.N_STORES * len(gen.PRODUCTS)


def test_self_time_subtracts_children():
    t = tracing.Tracer()
    t.spans = [
        (0, 0, -1, "op", "bench", 0.0, 10.0),
        (0, 1, 0, "run_weekly", "pipeline", 1.0, 9.0),
        (0, 2, 1, "train_groups", "ml", 2.0, 5.0),
        (0, 3, 0, "count", "action", 9.0, 10.0),
    ]
    assert dict(t.self_times()) == {"bench": 1.0, "pipeline": 5.0, "ml": 3.0, "action": 1.0}


def test_oracle_comparison_accepts_a_rounding_tie_and_nothing_more():
    # round(sum, 4) of a group whose exact sum ends in ...771.63: one engine
    # reads 771.6299, the other 771.63
    want = pd.DataFrame({"flag": ["A", "N"], "sum_base": [4400000771.6299, 12.5], "n": [3, 4]})
    assert compare_result(want.iloc[::-1].copy(), want) == "same"
    assert compare_result(want.assign(sum_base=[4400000771.63, 12.5]), want) == "tie"
    assert compare_result(want.assign(sum_base=[4400000771.6297, 12.5]), want) == "differ"
    assert compare_result(want.assign(n=[3, 5]), want) == "differ"
    assert compare_result(want.iloc[:1], want) == "differ"
    whole = pd.DataFrame({"x": [1.0, 2.0]})  # not rounded: six digits, as tools/check_oracle.py
    assert compare_result(whole.assign(x=[1.0, 2.0000001]), whole) == "same"
    assert compare_result(whole.assign(x=[1.0, 2.00001]), whole) == "differ"
