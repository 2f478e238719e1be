"""A tiny run of every workload, untraced and traced: every metric
BENCHMARK.json names is emitted with its unit, and the outputs check
out. Starts one local Spark session; takes a few minutes."""

import argparse
import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from declarative_dataflow_spark.session import build_session

    s = build_session("perfbench-smoke", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["batch", "reactive_txn"])
def test_metrics_emitted(spark, declared, monkeypatch, workload, trace):
    import bench
    from perfbench import generator, run

    assert workload in [w["name"] for w in declared["workloads"]]
    # the host probe is context, not a metric; its cost is not the point
    monkeypatch.setattr(bench, "host_speed_probe", lambda spark: 0.0)
    monkeypatch.setattr(generator, "BATCH_KEYS", ["tpch_q3", "tclosure"])
    args = argparse.Namespace(workload=workload, seed=1, seconds=0.1, trace=trace)
    result = run._measure(args, spark, 0.0, 2)

    assert result["correct"], result
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = declared["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in want)
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], (int, float))
    if not trace:
        assert all(got[m["name"]]["value"] > 0 for m in want)
