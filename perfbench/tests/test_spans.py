"""Span arithmetic and event-log attribution."""

import json
import time

import pytest

from perfbench import eventlog, spans


def sp(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end}


RUN = [
    sp(0, "run", None, 0.0, 10.0),
    sp(1, "s0", 0, 0.5, 2.0),
    sp(2, "candidates", 0, 2.0, 6.0),
    sp(3, "s1_write", 2, 4.0, 6.0),
    sp(4, "cc", 0, 6.5, 7.0),
    sp(5, "cc", 0, 8.0, 9.0),
]


def test_self_time_subtracts_children():
    st = spans.self_times(RUN)
    assert st[0] == pytest.approx(10.0 - 1.5 - 4.0 - 0.5 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(2.0)


def test_top_level_spans_plus_unattributed_sum_to_run():
    top = [s for s in RUN if s["parent"] == 0]
    total = sum(s["end"] - s["start"] for s in top) + spans.self_times(RUN)[0]
    assert total == pytest.approx(RUN[0]["end"] - RUN[0]["start"])


def test_overlapping_children_are_counted_once():
    ss = [sp(0, "p", None, 0, 10), sp(1, "a", 0, 1, 5), sp(2, "b", 0, 3, 8)]
    assert spans.self_times(ss)[0] == pytest.approx(3.0)


def test_innermost_span_and_ancestry():
    assert spans.innermost_span(RUN, 5.0)["name"] == "s1_write"
    assert spans.innermost_span(RUN, 3.0)["name"] == "candidates"
    assert spans.innermost_span(RUN, 7.5)["name"] == "run"
    assert spans.innermost_span(RUN, 11.0) is None
    assert [s["name"] for s in spans.ancestry(RUN, 3)] == [
        "s1_write", "candidates", "run"]


def test_total_by_name():
    assert spans.total_by_name(RUN, "cc") == (pytest.approx(1.5), 2)
    assert spans.total_by_name(RUN, "rescue") == (0, 0)


def test_tracer_closes_lazy_spans_with_their_parent():
    tr = spans.Tracer()
    with tr.span("run"):
        tr.open("candidates")  # opened at plan building, never closed
        with tr.span("s1_write"):
            pass
        tr.close_named("candidates")
        tr.open("rescue")
    d = {s["name"]: s for s in tr.as_dicts()}
    assert d["s1_write"]["parent"] == d["candidates"]["id"]
    assert d["rescue"]["end"] == d["run"]["end"]
    assert all(s["end"] is not None for s in d.values())


def test_fold_write_span_names_state_tables():
    assert spans.fold_write_span("/w/state/assign/v3") == "fold.assign_write"
    assert spans.fold_write_span("/w/state/docs/v0") == "fold.state_write"
    assert spans.fold_write_span("/w/state/bands/v12/") == "fold.state_write"
    assert spans.fold_write_span("/w/warehouse/s0_normalized/data") is None


def _events(t0_ms):
    def task(stage, launch, finish, rd, wr, gc):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {
                    "JVM GC Time": gc, "Disk Bytes Spilled": 0,
                    "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                             "Local Bytes Read": rd},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": wr}}}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": t0_ms + 4500, "Stage IDs": [0, 1]},
        task(0, t0_ms + 4600, t0_ms + 4800, 0, 2_000_000, 10),
        task(1, t0_ms + 4800, t0_ms + 5400, 2_000_000, 0, 30),
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": t0_ms + 5500},
        # Reuses stage 1 (skipped there): its tasks stay with job 0.
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": t0_ms + 6600, "Stage IDs": [1, 2]},
        task(2, t0_ms + 6700, t0_ms + 6800, 0, 0, 0),
        # Outside every span: dropped from attribution.
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": t0_ms + 20_000, "Stage IDs": [3]},
        task(3, t0_ms + 20_000, t0_ms + 20_100, 0, 0, 0),
    ]


def test_parse_attributes_tasks_to_first_job_of_their_stage():
    jobs = eventlog.parse(json.dumps(e) for e in _events(0))
    assert [j.id for j in jobs] == [0, 1, 2]
    assert [len(j.tasks) for j in jobs] == [2, 1, 1]
    assert jobs[0].submit_s == 4.5 and jobs[0].end_s == 5.5


def test_tasks_by_span_includes_nested_spans():
    jobs = eventlog.parse(json.dumps(e) for e in _events(0))
    by = eventlog.tasks_by_span(jobs, RUN)
    assert len(by["s1_write"]) == 2
    assert len(by["candidates"]) == 2
    assert len(by["cc"]) == 1
    assert len(by["run"]) == 3
    m = eventlog.span_metrics(by["candidates"])
    assert m["shuffle_write_mb"] == pytest.approx(2.0)
    assert m["shuffle_read_mb"] == pytest.approx(2.0)
    assert m["gc_s"] == pytest.approx(0.04)
    assert m["tasks"] == 2
    assert m["task_p50_s"] == pytest.approx(0.4)
    assert m["task_max_s"] == pytest.approx(0.6)


def test_event_log_of_a_tiny_session(tmp_path):
    from pyspark.sql import SparkSession

    from perfbench.worker import event_log_conf

    evdir = tmp_path / "ev"
    evdir.mkdir()
    b = SparkSession.builder.master("local[1]").appName("perfbench-test")
    for k, v in {**event_log_conf(evdir),
                 "spark.ui.enabled": "false",
                 "spark.sql.shuffle.partitions": "2",
                 "spark.local.dir": str(tmp_path / "local")}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    tr = spans.Tracer()
    try:
        spark.range(100).count()  # outside any span
        time.sleep(0.05)
        with tr.span("agg"):
            spark.range(0, 1000, numPartitions=4).selectExpr("id % 7 AS k") \
                .groupBy("k").count().collect()
    finally:
        spark.stop()
    jobs = eventlog.parse_dir(evdir)
    assert jobs and all(j.end_s is not None for j in jobs)
    by = eventlog.tasks_by_span(jobs, tr.as_dicts())
    m = eventlog.span_metrics(by["agg"])
    assert m["tasks"] >= 2
    assert m["shuffle_write_mb"] > 0 and m["shuffle_read_mb"] > 0
    assert sum(len(j.tasks) for j in jobs) > m["tasks"]
