"""Checks of the benchmark's own parts. Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
from datagen import drone_payload, make_tables  # noqa: E402
from receiver import expected_feature, verify  # noqa: E402
from run import Phase, end_to_end, per_layer, tail  # noqa: E402
from workloads import WORKLOADS, JobResult, fleet_sizes, ingest_pass  # noqa: E402


@pytest.fixture(scope="module")
def groups():
    with open(HERE / "fixtures" / "eventlog_small.jsonl") as f:
        return eventlog.parse(f)


def test_eventlog_attributes_by_job_group(groups):
    assert set(groups) == {"warmup/0/0:q", "timed/0/0:q", "timed/0/1:q", ""}
    warm, timed = groups["warmup/0/0:q"], groups["timed/0/0:q"]
    assert (warm.spark_jobs, warm.tasks, warm.scan_ms) == (1, 1, 100)
    # stage 2 is listed by jobs of two groups; the first job's group runs it
    assert (timed.spark_jobs, timed.tasks) == (1, 3)
    assert timed.task_run_ms == 1150 and timed.task_cpu_ns == 860_000_000
    assert (timed.scan_ms, timed.gc_ms, timed.bytes_read) == (250, 5, 8000)
    assert (timed.shuffle_bytes_written, timed.shuffle_write_ns) == (3072, 30_000_000)
    assert (timed.shuffle_fetch_wait_ms, timed.spill_bytes) == (30, 64)
    assert (timed.python_run_ms, timed.python_init_ms) == (200, 15)
    assert (timed.python_bytes_sent, timed.python_bytes_returned) == (500, 700)
    assert groups["timed/0/1:q"].tasks == 1 and groups[""].tasks == 1


def test_breakdown_sums_to_wall(groups):
    split = eventlog.breakdown(groups["timed/0/0:q"], 9800, 11200)
    assert set(split) == set(eventlog.LAYERS)
    assert math.isclose(sum(split.values()), 1.4, rel_tol=1e-12)
    # tasks cover [10000, 10500] and [10600, 11000]: 0.9 s busy of 1.4 s
    assert math.isclose(split["driver_gap"], 0.5, rel_tol=1e-12)
    assert math.isclose(split["scan"], 0.9 * 250 / 1150, rel_tol=1e-12)
    assert math.isclose(split["shuffle"], 0.9 * 60 / 1150, rel_tol=1e-12)
    assert all(v >= 0 for v in split.values())


def test_breakdown_of_a_job_without_tasks_is_all_driver():
    split = eventlog.breakdown(eventlog.GroupStats(), 0, 250)
    assert split["driver_gap"] == 0.25 and sum(split.values()) == 0.25


def test_busy_ms_clips_and_merges():
    assert eventlog.busy_ms([(0, 10), (5, 20), (30, 40)], 8, 35) == 17


def test_tail_keeps_ten_samples_beyond():
    assert tail([float(i) for i in range(1, 31)]) == (20.0, 100 * 20 / 30, 30)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_inputs_repeat_per_seed():
    a, b = make_tables(5, 0.001), make_tables(5, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(make_tables(6, 0.001)["lineitem"])
    rng1, rng2 = np.random.default_rng(3), np.random.default_rng(3)
    assert fleet_sizes(rng1) == fleet_sizes(rng2)
    assert drone_payload(rng1, 50, "x") == drone_payload(rng2, 50, "x")
    # warm-up invocations: the fleet sizes asked for, in that order
    assert [len(p) for p, _ in ingest_pass(rng1, "w", (100, 100))] == [100, 100]


def test_receiver_check_flags_loss_and_bad_golden():
    payload = drone_payload(np.random.default_rng(0), 30, "d")
    feats = [expected_feature(r) for r in payload]
    body = json.dumps({"type": "FeatureCollection", "features": feats}).encode()
    assert verify([body], payload, 4) == (30, [])
    short = json.dumps({"type": "FeatureCollection", "features": feats[1:]}).encode()
    assert "1 of 30 records were not delivered" in verify([short], payload, 4)[1][0]
    feats[4]["properties"]["course"] += 1.0
    bad = json.dumps({"type": "FeatureCollection", "features": feats}).encode()
    assert verify([bad], payload, 4)[1] == ["golden feature 'd-4' differs from the reference"]


def _job(group, query, wall, start, **kw):
    return JobResult(group, query, wall, start, start + wall, **kw)


def test_benchmark_json_matches_the_code(groups):
    """Every metric BENCHMARK.json lists is computed, for both job kinds."""
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for w in spec["workloads"]:
        assert WORKLOADS[w["name"]].why == w["why"]
    w = WORKLOADS["corpus_curation"]
    # the fixture's timed groups, timed by spans that cover their tasks
    passes = [[_job("timed/0/0:q", "dedup_minhash", 1.4, 9.8)],
              [_job("timed/0/1:q", "dedup_minhash", 0.2, 10.95)]]
    traced = Phase(1.0, [_job("warmup/0/0:q", "dedup_minhash", 0.7, 0.9)],
                   passes, groups=groups)
    values, _ = end_to_end(w, traced)
    assert [m["name"] for m in spec["end_to_end"]] == list(values)
    assert values["setup_s"] == pytest.approx(1.7) and values["pass_s"] == pytest.approx(0.8)
    assert values["features_per_s"] == pytest.approx(2 / 1.6)
    layer, rows = per_layer(traced, traced, w.queries)
    assert {m["name"] for m in spec["per_layer"]} <= set(layer)
    assert layer["session.tasks"] == 2.0
    assert layer["query.dedup_minhash_s"] == pytest.approx(0.8)
    for r in rows:
        assert sum(r[k] for k in eventlog.LAYERS) == pytest.approx(r["wall_s"])
    # a failed output check (warm-up or after timing) voids the query's jobs
    traced.checks["dedup_minhash"] = ["check: rows differ"]
    assert end_to_end(w, traced)[0]["features_per_s"] == 0


def test_post_failed_is_per_timed_pass():
    passes = [[_job("timed/0/0", "handler", 1.0, 0.0, post_failed=3, sent=10, outputs=8)],
              [_job("timed/1/0", "handler", 1.0, 2.0, sent=10, outputs=10)]]
    warm = [_job("warmup/0/0", "handler", 1.0, -2.0, post_failed=5)]
    layer, _ = per_layer(Phase(1.0, warm, passes), Phase(1.0, warm, passes), ())
    assert layer["sinks.post_failed"] == 1.5
    assert layer["sinks.delivered_ratio"] == pytest.approx(18 / 20)
