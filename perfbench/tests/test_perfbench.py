"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
from types import SimpleNamespace

import pandas as pd
import pytest

from perfbench import run, stats
from perfbench.spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_tail_is_highest_percentile_with_enough_samples_beyond():
    assert stats.TAIL_BEYOND == 5
    pct, value = stats.tail([float(x) for x in range(30, 0, -1)])
    # sorted 1..30: index 24 (value 25) has exactly five values above it
    assert value == 25.0
    assert pct == pytest.approx(100 * 24 / 29)
    assert stats.tail([float(x) for x in range(6)]) == (0.0, 0.0)
    with pytest.raises(ValueError):
        stats.tail([1.0] * 5)


def test_run_sizes_keep_tail_above_median():
    assert len(run.ANALYTICS) > 2 * stats.TAIL_BEYOND + 1
    assert run.CDC_CHUNKS > 2 * stats.TAIL_BEYOND + 1
    assert run.CDC_ROUNDS * run.CDC_LOOKUPS > 2 * stats.TAIL_BEYOND + 1


@pytest.mark.parametrize("name", ["latency_p50_s", "functions.dedup.build_s", "a-b.c_1"])
def test_metric_name_regex_accepts(name):
    assert stats.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_lead", "has space", "x/y", "é", "a" * 65])
def test_metric_name_regex_rejects(name):
    with pytest.raises(ValueError):
        stats.check_name(name)


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == ["analytics", "cdc_ingest"]
    for key, defs in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in spec[key]] == list(defs)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", m["name"])
        stats.check_name(m["name"])
        stats.check_unit(m["unit"])
    assert len({m["name"] for m in spec["end_to_end"] + spec["per_layer"]}) == len(
        spec["end_to_end"]
    ) + len(spec["per_layer"])
    assert len(spec["per_layer"]) <= 128


def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps child 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # sticks out of parent
        {"id": 4, "parent": 2, "start": 3.5, "end": 4.5},
    ]
    own = stats.self_times(spans)
    assert own[0] == pytest.approx(10 - (6 - 1) - (10 - 8))
    assert own[2] == pytest.approx(3 - 1)
    assert own[1] == pytest.approx(3)
    assert own[3] == pytest.approx(4)


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    tr = Tracer(True)
    with tr.span("op", op=7):
        with tr.span("build", op=7):
            pass
    assert [(s["name"], s["parent"], s["op"]) for s in tr.spans] == [
        ("op", None, 7),
        ("build", 0, 7),
    ]
    off = Tracer(False)
    with off.span("op") as rec:
        assert rec is None
    assert off.spans == []


class _Frame:
    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _bench(specs: dict) -> run.Bench:
    b = object.__new__(run.Bench)
    b.specs, b.spark, b.data_dir = specs, None, "unused"
    b.tracer, b.ops, b.lookups, b.checks = Tracer(False), [], [], []
    return b


def test_raising_query_counts_as_failed():
    def boom(spark, sf_dir):
        raise RuntimeError("query blew up")

    good = pd.DataFrame({"x": [1, 2]})
    b = _bench(
        {
            "boom": SimpleNamespace(fn=boom),
            "ok": SimpleNamespace(fn=lambda spark, sf_dir: _Frame(good)),
        }
    )
    b.query("boom")
    b.query("ok")
    assert "query blew up" in b.ops[0]["error"]
    assert b.ops[1]["error"] is None
    assert run.outcome(b.ops) == {"correct": False, "attempted": 2, "failed": 1}


def test_wrong_output_counts_as_failed():
    wrong = pd.DataFrame({"x": [1, 3]})
    b = _bench({"q": SimpleNamespace(fn=lambda spark, sf_dir: _Frame(wrong))})
    b.expected = lambda name: pd.DataFrame({"x": [1, 2]})
    b.query("q")
    b.verify()
    assert run.outcome(b.ops)["failed"] == 1
    assert "value diffs" in b.ops[0]["error"]


def test_pandas_replay_keeps_newest_event_per_user():
    events = pd.DataFrame(
        {
            "event_id": [0, 1, 2, 3],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-03", "2024-01-03", "2024-01-02"]),
            "user_id": [1, 1, 1, 2],
            "event_type": ["a", "b", "c", "d"],
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    )
    got = run.latest_per_user(events).set_index("user_id")
    assert got.loc[1, "event_type"] == "c"  # same ts, larger event_id wins
    assert got.loc[2, "event_type"] == "d"


def test_query_latency_is_fastest_correct_run():
    b = _bench({})
    b.workload, b.setup_s = "analytics", 1.0
    for q in range(6):  # two passes; the second is faster except for q0
        b.ops.append({"name": f"q{q}", "latency": 2.0 + q, "error": None})
        b.ops.append({"name": f"q{q}", "latency": 1.0 + q + 5 * (q == 0), "error": None})
    b.ops.append({"name": "q1", "latency": 0.1, "error": "value diffs"})
    assert b.latencies() == [2.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    e2e = b.end_to_end()
    assert e2e["ops_per_s"] == pytest.approx(6 / 22.0)
    assert e2e["latency_p50_s"] == pytest.approx(3.5)


def test_cdc_batch_latency_is_faster_of_twin_and_main():
    b = _bench({})
    b.workload, b.setup_s, b.window_s = "cdc_ingest", 1.0, 6.0
    twin = [900, 1500, 1200, 800, 1000, 1100]
    main = [1000, 1000, 1300, 700, 1000, 1000]
    b.listener = SimpleNamespace(
        batches=[{"ms": {"triggerExecution": x}} for x in twin + main]
    )
    b.pairs = [(slice(0, 6), slice(6, 12))]
    assert b.latencies() == [0.9, 1.0, 1.2, 0.7, 1.0, 1.0]
    assert b.end_to_end()["ops_per_s"] == pytest.approx(1.0)
