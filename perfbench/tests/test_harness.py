"""Tests of the benchmark's measurement helpers.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pytest

import datagen
from harness import (
    Recorder,
    Span,
    combine,
    fingerprint,
    fold_events,
    interval_union,
    read_event_log,
    trimmed_mean,
)


# --- union of job intervals --------------------------------------------------


def test_interval_union_counts_overlap_once():
    assert interval_union([(0, 10), (5, 15), (20, 25)]) == 20
    assert interval_union([(0, 10), (2, 3)]) == 10  # nested
    assert interval_union([(5, 6), (0, 1)]) == 2  # unsorted, disjoint
    assert interval_union([]) == 0


def test_interval_union_clips_to_span():
    assert interval_union([(0, 10), (15, 30)], lo=5, hi=20) == 10
    assert interval_union([(0, 4)], lo=5, hi=20) == 0


# --- result fingerprint ------------------------------------------------------


def test_fingerprint_ignores_row_and_column_order():
    rows = [{"k": i, "v": i * 0.5, "s": f"x{i}"} for i in range(50)]
    shuffled = rows[::-1]
    reordered = [{"s": r["s"], "v": r["v"], "k": r["k"]} for r in shuffled]
    assert fingerprint(rows) == fingerprint(shuffled) == fingerprint(reordered)


def test_fingerprint_sees_value_and_multiplicity_changes():
    rows = [(1, "a"), (2, "b")]
    assert fingerprint(rows) != fingerprint([(1, "a"), (2, "c")])
    assert fingerprint(rows) != fingerprint(rows + [(2, "b")])


def test_combined_fingerprint_is_fingerprint_of_union():
    a, b = [(1, "a"), (2, "b")], [(3, "c")]
    assert combine(fingerprint(a), fingerprint(b)) == fingerprint(b + a)


# --- event-log fold ----------------------------------------------------------


def _job(jid, start, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
         "Stage IDs": stages},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _task(stage, run_ms):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}}


def test_fold_assigns_jobs_to_innermost_span_by_time():
    outer = Span("cycle", "cycle", 0, 0.0, 10_000.0)
    inner = Span("q", "query", 0, 1_000.0, 4_000.0)
    events = (
        _job(0, 1_500, 2_000, [0]) + _job(1, 2_500, 3_500, [1, 2])
        + _job(2, 6_000, 7_000, [3]) + _job(3, 20_000, 21_000, [4])
        + [_task(0, 100), _task(1, 200), _task(1, 300), _task(3, 50), _task(4, 9)]
    )
    out = fold_events(events, [outer, inner])
    q, c = out[id(inner)], out[id(outer)]
    assert (q["spark.jobs"], q["spark.tasks"], q["spark.stages"]) == (2, 3, 2)
    assert q["executor.run_s"] == pytest.approx(0.6)
    assert q["shuffle.write_bytes"] == 21
    assert q["spark.job_s"] == pytest.approx(1.5)
    assert q["spark.driver_gap_s"] == pytest.approx(1.5)
    # job 2 falls only in the outer span; job 3 is outside both
    assert (c["spark.jobs"], c["spark.tasks"]) == (1, 1)


def test_fold_attributes_a_toy_querys_jobs_to_its_span(tmp_path):
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-fold-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    rec = Recorder()
    try:
        with rec.span("idle", "query", 0):
            sum(range(1000))
        with rec.span("toy", "query", 0):
            rows = (spark.range(0, 10_000, numPartitions=4)
                    .selectExpr("id % 3 AS k").groupBy("k").count().collect())
    finally:
        spark.stop()
    assert len(rows) == 3
    (log,) = os.listdir(log_dir)
    out = fold_events(read_event_log(os.path.join(log_dir, log)), rec.spans)
    idle, toy = (out[id(s)] for s in rec.spans)
    assert idle["spark.jobs"] == 0
    assert toy["spark.jobs"] >= 1 and toy["spark.tasks"] >= 4
    assert 0 < toy["spark.job_s"] <= rec.spans[1].wall_s


# --- robust means --------------------------------------------------------------


def test_trimmed_mean_drops_an_outlier_from_three_samples_on():
    assert trimmed_mean([1.0, 3.0]) == 2.0
    assert trimmed_mean([1.0, 9.0, 2.0]) == 2.0
    assert trimmed_mean([5.0, 1.0, 2.0, 3.0, 100.0]) == pytest.approx(10 / 3)
    assert trimmed_mean([float(x) for x in range(8)]) == pytest.approx(3.5)


# --- dashboard time ----------------------------------------------------------


def test_dashboard_seconds_sums_each_calls_median():
    from workloads import GoldRefresh

    wl = GoldRefresh("unused", 0)
    rec = Recorder()
    walls = {  # (kind, name): per-cycle wall seconds
        ("request.miss", "request:a"): [1.0, 9.0, 2.0],
        ("request.hit", "request:a"): [0.5, 0.25, 0.5],
        ("sinks.delta_log.read", "read:t"): [3.0, 3.0, 1.0],
        ("streaming.runner.ingest", "ingest_stream"): [50.0, 50.0, 50.0],
    }
    for (kind, name), ws in walls.items():
        for c, w in enumerate(ws):
            rec.spans.append(Span(name, kind, c, 0.0, w * 1000.0))
    # medians 2.0 + 0.5 + 3.0; the ingest is not a dashboard read
    assert wl.dashboard_seconds(rec, [0, 1, 2]) == pytest.approx(5.5)
    assert wl.dashboard_seconds(rec, [1]) == pytest.approx(12.25)


# --- generators --------------------------------------------------------------


def test_generators_are_seeded():
    assert datagen.transactions_batch(5, 1, 50, 6) == datagen.transactions_batch(5, 1, 50, 6)
    assert datagen.transactions_batch(5, 1, 50, 6) != datagen.transactions_batch(6, 1, 50, 6)
    a = datagen.serving_batch(5, 2, 1000, 100)
    assert a == datagen.serving_batch(5, 2, 1000, 100)
    keys = [r["event_id"] for r in a]
    assert len(set(keys)) == 100
    assert sum(k < 1000 for k in keys) == 50  # half updates, half inserts


def test_transaction_batches_cover_disjoint_hours():
    hours = [
        {r["block_time"][:13] for r in datagen.transactions_batch(1, b, 200, 6)}
        for b in range(3)
    ]
    assert not (hours[0] & hours[1]) and not (hours[1] & hours[2])
