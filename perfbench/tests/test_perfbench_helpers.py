"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def test_tail_needs_ten_samples_beyond_the_median():
    assert spans.tail([1.0] * 19) is None
    pct, value, beyond = spans.tail([float(i) for i in range(1, 21)])
    assert (pct, value, beyond) == (50.0, 10.0, 10)


@pytest.mark.parametrize(
    "n, want_pct, want_beyond",
    [(40, 75.0, 10), (99, 75.0, 24), (100, 90.0, 10), (200, 95.0, 10), (1000, 99.0, 10), (10_000, 99.9, 10)],
)
def test_tail_picks_the_highest_rung_with_ten_beyond(n, want_pct, want_beyond):
    values = list(np.random.default_rng(n).permutation(n).astype(float))
    pct, value, beyond = spans.tail(values)
    assert pct == want_pct and beyond == want_beyond
    assert sum(v > value for v in values) == beyond


def test_nearest_rank():
    assert spans.nearest_rank([3.0, 1.0, 2.0, 4.0], 50) == (2.0, 2)
    assert spans.nearest_rank([5.0], 99.9) == (5.0, 0)


def test_median():
    assert spans.median([3.0, 1.0, 2.0]) == 2.0
    assert spans.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        spans.median([])


def test_write_amp():
    assert spans.write_amp(12_800, 100) == 128.0
    with pytest.raises(ValueError):
        spans.write_amp(10, 0)


def test_new_files_counts_only_fresh_names(tmp_path):
    root = tmp_path / "table"
    (root / "key_bucket=0").mkdir(parents=True)
    (root / "key_bucket=0" / "part-a.parquet").write_bytes(b"x" * 10)
    (root / "_SUCCESS").write_bytes(b"")
    (root / "key_bucket=0" / ".part-a.parquet.crc").write_bytes(b"c")
    before = spans.file_sizes(str(root))
    assert before == {os.path.join("key_bucket=0", "part-a.parquet"): 10}
    (root / "key_bucket=0" / "part-a.parquet").unlink()
    (root / "key_bucket=0" / "part-b.parquet").write_bytes(b"y" * 7)
    (root / "key_bucket=1").mkdir()
    (root / "key_bucket=1" / "part-c.parquet").write_bytes(b"z" * 5)
    assert spans.new_files(before, spans.file_sizes(str(root))) == (2, 12)


class FakeCounters:
    """Counter source that advances by a fixed amount per snapshot."""

    def __init__(self):
        self.n = 0

    def snapshot(self):
        self.n += 1
        return {k: self.n * (i + 1) for i, k in enumerate(spans.COUNTER_KEYS)}


def test_counter_delta():
    a = {k: 1 for k in spans.COUNTER_KEYS}
    b = {k: 4 for k in spans.COUNTER_KEYS}
    assert spans.counter_delta(a, b) == {k: 3 for k in spans.COUNTER_KEYS}


def test_tracer_records_nested_spans_with_counter_deltas():
    t = spans.Tracer(FakeCounters())
    t.op = 7
    with t.span("outer"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert (inner.name, inner.parent, inner.op) == ("inner", "outer", 7)
    assert outer.parent is None
    # each span snapshots once on entry and once on exit
    assert inner.counters["jobs"] == 1 and outer.counters["jobs"] == 3
    assert inner.counters["tasks"] == 2
    assert t.by_name("outer") == [outer]


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(None)
    with t.span("x") as sp:
        assert sp is None
    assert t.spans == []


def test_peak_rss_covers_this_process():
    assert spans.peak_rss_mb()[0] > 1.0


def test_popcount_and_near_pairs_match_python():
    rng = np.random.default_rng(0)
    fps = rng.integers(-(2**63), 2**63 - 1, 40, dtype=np.int64)
    fps[5] = fps[3] ^ 0b101  # hamming 2
    fps[9] = fps[3]  # hamming 0
    u = fps.view(np.uint64)
    assert workloads.popcount64(u).tolist() == [bin(int(v)).count("1") for v in u]
    ids = np.arange(100, 140)
    want = {
        (int(ids[i]), int(ids[j]), bin(int(u[i] ^ u[j])).count("1"))
        for i in range(40)
        for j in range(i + 1, 40)
        if bin(int(u[i] ^ u[j])).count("1") <= 3
    }
    assert {(103, 105, 2), (103, 109, 0), (105, 109, 2)} <= want
    assert workloads.near_pairs(ids, fps, 3) == want


def test_trim_keeps_newest_per_user_week():
    s = workloads.Serve.__new__(workloads.Serve)
    s.MAX_EVENTS_PER_WEEK = 2
    day = 86_400_000_000
    # 2026-01-05 is a Monday: days 0..6 after it share one week
    monday = int(gen.NOW.timestamp() * 1_000_000) + 4 * day
    ev = {
        "event_id": np.array([1, 2, 3, 4, 5, 6]),
        "user_id": np.array([1, 1, 1, 1, 2, 1]),
        "ts_us": np.array([monday, monday + day, monday + day, monday + 2 * day, monday, monday - day]),
        "value": np.zeros(6),
    }
    kept = s._trim(ev)
    # user 1, this week: ts ties (2, 3) rank after 4; the larger id wins
    assert sorted(kept["event_id"].tolist()) == [3, 4, 5, 6]


def test_check_lookup_defaults_and_fp16():
    model = {1: (30, 12.5, 0.1, "IN-DL", True, np.ones(gen.VEC_DIM, np.float32), False),
             2: (40, 1.0, 0.2, "IN-MH", False, np.ones(gen.VEC_DIM, np.float32), True)}

    def row(k, m):
        score, rank = workloads.model_score(m)
        return {
            "user_id": k, "demo_int32__age": m[0], "demo_fp__acct_bal": float(np.float32(m[1])),
            "demo_fp__ctr": float(np.float16(np.float32(m[2]))), "demo_str__location": m[3],
            "demo_bool__is_active": m[4], "demo_vec__taste_vec": list(m[5]), "score": score,
            "model_score": rank,
        }

    keys = np.array([1, 2, 3, 1])
    good = [row(1, model[1]), row(2, workloads.DEFAULTS), row(3, workloads.DEFAULTS), row(1, model[1])]
    assert workloads.check_lookup(good, model, keys) == []
    bad = list(good)
    bad[1] = row(2, model[2])  # an expired row must read as defaults
    assert len(workloads.check_lookup(bad, model, keys)) == 1
    assert workloads.check_lookup(good[:3], model, keys) != []


def test_reported_metrics_match_benchmark_json():
    import json

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ops = [workloads.OpResult("read", 1.0 + i / 10, 300, [], "lookup") for i in range(5)]
    report = run.Report("serve", ops[:1], ops, 30.0, 8.0, [200.0, 1500.0], 0, 6)
    e2e = report.end_to_end()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}
    t = spans.Tracer(FakeCounters())
    with t.span("feature_store.retrieve.exec"):
        pass
    layer = report.per_layer(t, [], {"streaming.batches": (1, "count")})
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {k: u for k, (_, u) in layer.items()}
    assert all(v > 0 for v, _ in e2e.values())


def test_layer_times_use_timed_spans_then_set_up_spans():
    ops = [workloads.OpResult("read", 1.0, 100, [], "lookup")]
    report = run.Report("serve", [], ops, 30.0, 8.0, [200.0], 0, 1)
    setup = spans.Tracer(FakeCounters())
    with setup.span("feature_store.persist") as sp:
        pass
    sp.end = sp.start + 2.5
    t = spans.Tracer(FakeCounters())
    for seconds in (0.3, 0.1, 0.2):
        with t.span("feature_store.retrieve.plan") as sp:
            pass
        sp.end = sp.start + seconds
    layer = report.per_layer(t, setup.spans, {})
    assert layer["feature_store.retrieve.plan_s"][0] == pytest.approx(0.2)
    assert layer["feature_store.persist_s"][0] == pytest.approx(2.5)
    # a layer the workload never calls reads 0
    assert layer["dedup.minhash_s"] == (0, "s")
