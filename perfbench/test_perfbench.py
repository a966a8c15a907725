"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from perfbench import observe
from perfbench.tripgen import EPOCH, KINDS, PY_FORMATS, Traffic, TripWire

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(s: str) -> dt.datetime:
    for fmt in PY_FORMATS:
        try:
            return dt.datetime.strptime(s, fmt)
        except ValueError:
            pass
    raise ValueError(s)


# -- generator ------------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    a, b, c = TripWire(7, 6), TripWire(7, 6), TripWire(8, 6)
    for kind in KINDS:
        assert [f.lines for f in a.files[kind]] == [f.lines for f in b.files[kind]]
        assert [f.lines for f in a.files[kind]] != [f.lines for f in c.files[kind]]
    assert a.expected() == b.expected()


def test_generator_emits_every_perturbation():
    w = TripWire(3, 16, Traffic(trips_per_file=200))
    starts = [p for f in w.files["start"] for p in f.valid]
    ends = [p for f in w.files["end"] for p in f.valid]
    ids = [p["trip_id"] for p in starts]
    assert len(ids) > len(set(ids)), "no redelivery"
    assert {p["trip_id"] for p in starts} - {p["trip_id"] for p in ends}, "no abandoned trip"
    stamps = [p["pickup_datetime"] for p in starts]
    assert any("/" in s for s in stamps) and any("-" in s for s in stamps)
    assert all(f.malformed for k in KINDS for f in w.files[k])
    # the clock crosses into hot day 1, whose slices are hot_factor
    # times shorter, so its files hold pickups of a third of the time
    days = {(_parse(s) - EPOCH).days for s in stamps}
    assert days == {0, 1}


def test_generator_stays_inside_the_join_watermark():
    """A first delivery is never older than (latest event time of any
    earlier file of its stream) - 1 hour, so no batch split can make the
    completion join drop it as late. (Redelivered copies may be older:
    ingest suppresses them before the join.)"""
    for seed in (1, 2, 3):
        w = TripWire(seed, 60, Traffic(trips_per_file=50, out_of_order_share=0.5))
        for kind, col in (("start", "pickup_datetime"), ("end", "dropoff_datetime")):
            high, seen = None, set()
            for f in w.files[kind]:
                first = [p for p in f.valid if p["trip_id"] not in seen]
                seen.update(p["trip_id"] for p in first)
                times = [_parse(p[col]) for p in first]
                if high is not None:
                    assert all(t > high - dt.timedelta(hours=1) for t in times)
                if times:
                    high = max(times + ([high] if high else []))


def test_expected_answer_ignores_redeliveries():
    base = Traffic(trips_per_file=80, redelivery_share=0.0)
    a = TripWire(5, 8, base).expected()
    b = TripWire(5, 8, Traffic(trips_per_file=80, redelivery_share=0.5)).expected()
    assert a["dlq"] == b["dlq"]
    assert a["bronze"]["start"] > 0 and a["completed"] > 0
    assert sum(k[2] for k in a["kpis"]) == a["completed"]


# -- statistics -----------------------------------------------------------


@pytest.mark.parametrize(
    "n, q",
    [(9, None), (99, None), (100, 0.9), (199, 0.9), (200, 0.95), (999, 0.95),
     (1000, 0.99), (10_000, 0.999)],
)
def test_tail_quantile_leaves_ten_samples_beyond(n, q):
    assert observe.tail_quantile(n) == q


def test_percentile_interpolates():
    assert observe.percentile([4, 1, 3, 2], 0.5) == 2.5
    assert observe.percentile([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11], 0.9) == 10
    with pytest.raises(ValueError):
        observe.percentile([], 0.5)


# -- open-loop accounting ---------------------------------------------------


def test_lateness_is_measured_against_the_schedule():
    assert observe.lateness([0.0, 1.0, 2.0], [0.1, 0.9, 2.5]) == pytest.approx([0.1, 0.0, 0.5])
    with pytest.raises(ValueError):
        observe.lateness([0.0], [])


def test_lag_runs_from_due_time_and_skips_uncommitted():
    # a file sent late still lags from when it was due
    assert observe.lags([0.0, 1.0, 2.0], [5.0, 5.0, None]) == [5.0, 4.0]


def test_keepup_counts_only_events_in_gold_by_the_deadline():
    # a file committed after the grace period counts like one never committed
    assert observe.keepup([100, 300, 100], [1.0, 9.0, None], by=5.0) == pytest.approx(0.2)
    assert observe.keepup([100, 300], [5.0, 5.0], by=5.0) == 1.0


# -- spans ------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [
        observe.Span("cycle", 0.0, 10.0, None),
        observe.Span("ingest.start", 1.0, 3.0, 0),
        observe.Span("ingest.end", 2.0, 5.0, 0),   # overlaps its sibling
        observe.Span("kpi", 8.0, 12.0, 0),         # runs past its parent
        observe.Span("ingest.trigger", 1.5, 2.5, 1),
    ]
    own = observe.self_times(spans)
    assert own["cycle"] == pytest.approx(10 - (4 + 2))
    assert own["ingest.start"] == pytest.approx(1.0)
    assert own["ingest.trigger"] == pytest.approx(1.0)
    assert own["kpi"] == pytest.approx(4.0)


def test_union_length():
    assert observe.union_length([]) == 0
    assert observe.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tracer_parents_and_after_the_fact_spans():
    t = observe.Tracer(True)
    with t.span("cycle"):
        with t.span("ingest.start"):
            pass
    r, i = t.spans
    assert i.parent == 0 and r.parent is None
    t.add("ingest.trigger", i.start, i.end)
    assert t.spans[-1].parent == 1
    t.add("replay.drop", i.start, i.end, contained=False)
    assert t.spans[-1].parent is None
    off = observe.Tracer(False)
    with off.span("x"):
        pass
    off.add("y", 0, 1)
    assert off.spans == []


# -- event log ---------------------------------------------------------------


def test_event_log_folds_jobs_into_the_span_open_at_submission():
    def task(stage, ms, shuffle=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": ms},
            "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 2**20,
                             "JVM GC Time": 100},
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1]},
        task(0, 100), task(0, 100), task(0, 400, shuffle=2**20),
        task(1, 10),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000,
         "Stage IDs": [2]},
        task(2, 50),
    ]
    out = observe.fold_event_log(events, lambda t: "ingest" if t < 5 else None)
    a = out["ingest"]
    assert a["jobs"] == 1
    assert a["shuffle_write_mb"] == pytest.approx(1.0)
    assert a["spill_mb"] == pytest.approx(4.0)
    assert a["gc_s"] == pytest.approx(0.4)
    assert a["task_skew"] == pytest.approx(4.0)  # longest stage: 400 / 100
    assert "None" not in out and len(out) == 1


# -- contract --------------------------------------------------------------------


def test_benchmark_json_names_the_workloads_and_bounds():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
