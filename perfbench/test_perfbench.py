"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_inputs():
    assert gen.log_batch(7, 1, 20, range(150), 8_000).equals(gen.log_batch(7, 1, 20, range(150), 8_000))
    assert not gen.log_batch(7, 1, 20, range(150), 8_000).equals(gen.log_batch(8, 1, 20, range(150), 8_000))
    assert gen.events_table(0.01, 3).equals(gen.events_table(0.01, 3))
    a, b = gen.tpch_tables(0.001, 3), gen.tpch_tables(0.001, 3)
    assert all(a[t].equals(b[t]) for t in a)
    assert gen.documents_table(0.001, 3).equals(gen.documents_table(0.001, 3))


def _reads_stub(seed: int) -> workloads.LogstoreReads:
    wl = workloads.LogstoreReads.__new__(workloads.LogstoreReads)
    wl.seed = seed
    wl.ev_ids, wl.ev_users, wl.n_users = np.arange(100), np.arange(100) % 10, 10
    wl.split_docs, wl.whole_docs = [("a", 1), ("b", 2)], [("c", 3)]
    return wl


def _take(it, n):
    return [next(it) for _ in range(n)]


def test_read_requests_follow_the_seed():
    one, again, other = (_take(_reads_stub(s).ops(), 30) for s in (5, 5, 6))
    assert one == again
    assert one != other
    assert [r["kind"] for r in one] == [r["kind"] for r in other]


def test_read_deck_holds_the_mix():
    deck = workloads.READ_DECK
    share = {k: deck.count(k) / len(deck) for k in set(deck)}
    assert share == {"point_read": 0.4, "scan": 0.3, "global_scan": 0.1,
                     "cursor": 0.1, "combined": 0.1}
    ops = _take(_reads_stub(1).ops(), 2 * len(deck))
    assert [o["last_of_pass"] for o in ops].count(True) == 2 and ops[-1]["last_of_pass"]
    point = [o for o in _take(_reads_stub(1).ops(), 4000) if o["kind"] == "point_read"]
    absent = sum(o["id"] >= 100 for o in point) / len(point)
    assert 0.07 < absent < 0.13


def test_payload_sizes_are_heavy_tailed_and_seed_stable():
    rng = np.random.default_rng(1)
    sizes = gen.payload_sizes(rng, 400, 34_000, 1.3)
    assert np.median(sizes) < sizes.mean() < sizes.max() / 5
    other = gen.payload_sizes(np.random.default_rng(2), 400, 34_000, 1.3)
    assert abs(sizes.sum() / other.sum() - 1) < 0.05


def test_every_batch_needs_the_same_resplit_work():
    """Each batch holds the same count of noisy logs, all in the upper
    quarter of its sizes, and an ingest batch belongs to one user."""
    for seed in (1, 2):
        t = gen.log_batch(seed, 0, 50, (7,), 34_000)
        sizes = np.array([len(p) for p in t.column("payload").to_pylist()])
        noisy = np.array(["<Note " in p for p in t.column("payload").to_pylist()])
        assert noisy.sum() == 3
        assert sizes[noisy].min() >= np.quantile(sizes, 0.7)
        assert set(t.column("user_id").to_pylist()) == {7}


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    random.Random(0).shuffle(xs)
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_sample_count_rule():
    """A p90 has ten samples beyond it from 100 samples on, not before."""
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9
    assert stats.samples_needed(90) == 100
    assert stats.samples_needed(50) == 20


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 10) == 0.0
    # exclusive quartiles of 9,10,10,10,11 are 9.5 and 10.5
    assert stats.spread([9, 10, 10, 10, 11]) == pytest.approx(0.1)


def test_metric_names_match_benchmark_json():
    bench = _bench_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == stats.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == stats.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_parse_metric():
    assert spans.parse_metric("1,234") == 1234
    assert spans.parse_metric("2.0 KiB") == 2048
    assert spans.parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 MiB (0.0 B, 0.5 MiB, 1.0 MiB (stage 3.0: task 7))"
    ) == 1.5 * 2**20


def test_self_time_subtracts_children():
    s = [spans.Span(0, "op.x", 0, None, 0.0, 100.0),
         spans.Span(1, "plan", 0, 0, 10.0, 40.0),
         spans.Span(2, "spark.job", 0, 1, 20.0, 30.0),
         spans.Span(3, "spark.job", 0, 0, 35.0, 60.0)]
    st = spans.self_times(s)
    assert st == {0: 100.0 - 30.0 - 20.0, 1: 20.0, 2: 10.0, 3: 25.0}
    op = spans.OpTrace(0, "x", s)
    assert spans.inclusive_ms(op, "plan") == 30.0
    assert spans.jobs_within(op, "plan") == 1


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "logstore_reads",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert res.returncode != 0
    assert res.stdout == ""
