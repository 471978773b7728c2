"""Tests of the benchmark itself (not of the engine):

    python -m pytest perfbench -q

- the generator is a pure function of its seed;
- the expected-gold oracle agrees with a small real pipeline run;
- the command's output names every metric of BENCHMARK.json with its
  unit and a sample count.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import checks, gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _texts(plan):
    return [(w.orders, w.items, w.products) for w in [plan.history, *plan.waves]]


def test_generator_is_a_function_of_the_seed():
    a = gen.plan_stream(5, 0.01, 60, 30, 4, 0.1, 0.1, 2)
    b = gen.plan_stream(5, 0.01, 60, 30, 4, 0.1, 0.1, 2)
    c = gen.plan_stream(6, 0.01, 60, 30, 4, 0.1, 0.1, 2)
    assert _texts(a) == _texts(b)
    assert a.late_ids == b.late_ids and a.poison_rows == b.poison_rows
    assert _texts(a) != _texts(c)
    t1, t2 = gen.star_tables(5, 0.001), gen.star_tables(5, 0.001)
    assert all(t1[k].equals(t2[k]) for k in t1)


def test_plan_injects_late_items_late_products_and_poison():
    plan = gen.plan_stream(3, 0.01, 60, 30, 4, 0.2, 0.2, 4)
    assert plan.poison_rows == 4 * 4 and all(w.poison == 4 for w in plan.waves)
    assert plan.late_ids
    assert any(w.needs_next for w in plan.waves[:-1])
    assert not plan.waves[-1].needs_next  # the last wave holds nothing back


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import run

    session, _ = run.start_session(str(tmp_path_factory.mktemp("spark")), 2, False)
    yield session
    run.stop_session(session)


def test_oracle_agrees_with_a_small_pipeline_run(spark, tmp_path):
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (  # noqa: E501
        MedallionPipeline,
    )

    from perfbench.workloads import _land

    plan = gen.plan_stream(7, 0.001, 120, 120, 3, 0.2, 0.2, 2)
    names = {-1: "history.csv"} | {k: f"w{k}.csv" for k in range(len(plan.waves))}
    pipe = MedallionPipeline(spark, str(tmp_path))
    commits = []
    for k, w in [(-1, plan.history), *enumerate(plan.waves)]:
        _land(pipe, w, names[k])
        pipe.run_cycle()
        commits.append(checks.committed_batches(pipe.root))
    assert checks.gold_mismatch(pipe.root, gen.expected_gold(plan)) is None
    assert checks.quarantine_rows(pipe.root) == plan.poison_rows
    cycles = checks.file_cycles(pipe.root, commits)
    assert len(cycles) == 3 * len(names)
    want_late = checks.simulate_late(plan, names, cycles, len(commits))
    assert want_late > 0  # one wave per cycle: every held item is late
    assert checks.late_rows(pipe.root) == want_late


def test_compare_frames_catches_a_changed_cell():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "v": [1.5, 2.25], "n": [1, 2]})
    assert checks.compare_frames(a, a.iloc[::-1]) is None
    b = a.copy()
    b.loc[1, "v"] = 2.2500001
    assert checks.compare_frames(a, b) is not None
    assert checks.compare_frames(a, a.head(1)) is not None


def test_output_carries_every_metric_unit_and_sample_count():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_backfill",
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    detail, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert set(detail["samples"]) == set(want)
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_backfill",
         "--seed", "4", "--seconds", "0", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"]
    m = result["metrics"]
    assert {k: v["unit"] for k, v in m.items()} == {
        x["name"]: x["unit"] for x in spec["per_layer"]}
    assert m["pipeline.cycles"]["value"] == 1 and m["spark.jobs"]["value"] > 0
    assert m["upsert.merge_calls"]["value"] >= 2 and m["trigger.count"]["value"] >= 3
    assert os.path.exists(os.path.join(ROOT, ".perfbench", "out",
                                       "trace-stream_backfill-seed4.json"))


def test_per_layer_names_match_benchmark_json():
    from perfbench import run

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_names()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
