"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pytest

from perfbench import fixtures
from perfbench.common import (CpuMeter, _jit_ticks, host_cpu_ticks, percentile,
                              tail_percentile, tree_cpu_s)
from perfbench.ledger import fold_event_log, layer_self_ms, self_times
from perfbench.metrics import END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------- percentile rule


@pytest.mark.parametrize("n,expect", [
    (0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (999, 90.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, expect):
    assert tail_percentile(n) == expect


def test_percentile_interpolates():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([7.0], 90) == 7.0


# --------------------------------------------------------------- CPU time


def test_tree_cpu_counts_this_process_and_jit_threads_only():
    t0, meter, (busy0, steal0) = tree_cpu_s(), CpuMeter(), host_cpu_ticks()
    x = 0
    while tree_cpu_s() - t0 < 0.05:
        x += sum(i * i for i in range(10_000))
    assert tree_cpu_s() - t0 >= 0.05
    busy, steal = (a - b for a, b in zip(host_cpu_ticks(), (busy0, steal0)))
    # the meter takes off no more than the stolen share
    assert 0 < meter.stop() <= tree_cpu_s() - t0
    assert busy > 0 and steal >= 0
    # no JVM here, so no JIT compiler threads to take off
    assert _jit_ticks(os.getpid()) == 0
    assert tree_cpu_s(exclude_jit=True) == pytest.approx(tree_cpu_s(), abs=0.05)


# ------------------------------------------------------- event-log folding


def _job(jid, group, t0, t1, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
    ]


def _stage(sid, tasks, run_ms, task_ms):
    evs = [{"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + d}}
           for d in task_ms]
    evs.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Number of Tasks": tasks, "Accumulables": [
            {"Name": "internal.metrics.executorRunTime", "Value": run_ms},
            {"Name": "internal.metrics.shuffle.read.localBytesRead", "Value": 10},
            {"Name": "internal.metrics.shuffle.read.remoteBytesRead", "Value": 5},
            {"Name": "internal.metrics.executorCpuTime", "Value": "2000000"},
        ]}})
    return evs


def test_fold_event_log_groups_jobs_and_stages():
    events = (_job(0, "r1.build", 1000, 1500, [0])
              + _stage(0, 2, 40, [10, 30])
              + _job(1, "r1.collect", 2000, 2600, [1, 2])
              + _stage(1, 4, 100, [10, 10, 10, 50])
              + _stage(2, 1, 7, [7])
              + _job(2, "r2.collect", 3000, 3100, [3])
              + _stage(3, 1, 3, [3]))
    f = fold_event_log(events)
    assert [j[0] for j in f["r1.build"]["jobs"]] == [0]
    assert f["r1.build"]["jobs"][0][1:] == (1.0, 1.5)
    assert f["r1.collect"]["stages"] == 2
    assert f["r1.collect"]["tasks"] == 5
    assert f["r1.collect"]["run_ms"] == 107
    assert f["r1.collect"]["shuffle_read_bytes"] == 30
    assert f["r1.collect"]["cpu_ns"] == 4_000_000
    assert f["r1.collect"]["skews"] == [5.0]  # one stage has >= 2 tasks
    assert f["r1.build"]["skews"] == [1.5]
    assert f["r2.collect"]["run_ms"] == 3


def test_self_times_subtract_children_once():
    spans = [
        {"id": 1, "parent": None, "req": "a", "layer": "request", "t0": 0.0, "t1": 10.0},
        {"id": 2, "parent": 1, "req": "a", "layer": "collect", "t0": 2.0, "t1": 8.0},
        {"id": 3, "parent": 2, "req": "a", "layer": "exec", "t0": 3.0, "t1": 5.0},
        {"id": 4, "parent": 2, "req": "a", "layer": "exec", "t0": 4.0, "t1": 6.0},
    ]
    st = self_times(spans)
    assert st[1] == 4.0 and st[2] == 3.0
    ls = layer_self_ms(spans, ["a"])
    # overlapping jobs fold into one span, so self times add up exactly
    assert ls["exec"] == pytest.approx(3000.0)
    assert ls["_sum_ratio"] == pytest.approx(1.0)


# ------------------------------------------------------------ generators


def _digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        import pyarrow.parquet as pq
        h.update(name.encode())
        h.update(str(pq.read_table(os.path.join(d, name)).to_pylist()).encode())
    return h.hexdigest()


def test_fixtures_same_seed_same_output(tmp_path):
    for seed, sub in ((5, "a"), (5, "b"), (6, "c")):
        fixtures.order_tables(str(tmp_path / sub / "o"), seed, 300, 2000)
        fixtures.curation_corpus(str(tmp_path / sub / "c"), seed, 60, 40, 3)
    for kind in ("o", "c"):
        a, b, c = (_digest(str(tmp_path / s / kind)) for s in "abc")
        assert a == b and a != c


def _render(seed, committed_lag):
    s = fixtures.WebhookSchedule(seed, n_open=6, interval_s=2.0, n_drain=2,
                                 events_per_file=50)
    return [s.lines(f, max(0, f["seq"] - committed_lag)) for f in s.files]


def test_webhook_generator_same_seed_same_output():
    assert _render(3, 1) == _render(3, 1)
    assert _render(3, 1) != _render(4, 1)


def test_webhook_schedule_does_not_depend_on_commits():
    a, b = _render(3, 1), _render(3, 3)
    assert [len(x) for x in a] == [len(x) for x in b]
    # creates come from their own random stream; only the choice of
    # updated keys (and what gets redelivered) may differ
    assert _first_creates(a) == _first_creates(b)


def _first_creates(files):
    seen, out = set(), []
    for f in files:
        new = sorted(x for x in set(f) if '"orders/create"' in x and x not in seen)
        seen.update(new)
        out.append(new)
    return out


def test_updates_touch_only_committed_keys():
    s = fixtures.WebhookSchedule(9, n_open=8, interval_s=2.0, n_drain=0,
                                 events_per_file=40)
    created_in = {}
    for f in s.files:
        committed = max(0, f["seq"] - 2)
        for line in s.lines(f, committed):
            ev = json.loads(line)
            key = (ev["tenant_id"], json.loads(ev["raw_payload"]).get("id"))
            if ev["topic"] == "orders/create":
                created_in.setdefault(key, f["seq"])
            elif ev["topic"] == "orders/updated" and ev["delivery_hash"].startswith(f"u{f['seq']}-"):
                assert created_in[key] < committed


# ----------------------------------------------------- fixture invariants


def test_shift_disjointness_assertions():
    ok = [np.arange(5), np.arange(5) + fixtures.SHIFT]
    fixtures.check_disjoint(ok)
    with pytest.raises(AssertionError):
        fixtures.check_disjoint([np.array([fixtures.SHIFT]), np.array([2 * fixtures.SHIFT])])
    with pytest.raises(AssertionError):
        fixtures.check_disjoint([np.arange(3), np.arange(3)])


def test_signed_permutation_keeps_cosines_and_separates_copies():
    rng = np.random.default_rng(0)
    vecs, _ = fixtures.base_embeddings(rng, 300)
    perm, sign = fixtures.signed_permutation(rng)
    moved = vecs[:, perm] * sign
    assert np.allclose(vecs @ vecs.T, moved @ moved.T, atol=1e-5)
    assert fixtures.check_no_cross_copy_neardup([vecs, moved]) < fixtures.NEARDUP_COS


def test_component_nudge_copies_are_caught():
    rng = np.random.default_rng(1)
    vecs, _ = fixtures.base_embeddings(rng, 200)
    nudged = vecs.copy()
    nudged[:, 0] += 0.37  # the old scale-up: copies stay nearly parallel
    with pytest.raises(AssertionError):
        fixtures.check_no_cross_copy_neardup([vecs, nudged])


# ------------------------------------------------------------ ingest map


def test_map_files_to_triggers():
    from perfbench.ingest import map_files

    prog = [{"batchId": 0, "numInputRows": 10}, {"batchId": 1, "numInputRows": 0},
            {"batchId": 2, "numInputRows": 12}]
    m = map_files([10, 5, 7, 3], prog)
    assert [p and p["batchId"] for p in m] == [0, 2, 2, None]
    with pytest.raises(RuntimeError):
        map_files([10, 5], [{"batchId": 0, "numInputRows": 12}])


# -------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == {"dashboard", "curation", "ingest"}
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
