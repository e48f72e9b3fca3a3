"""Event-log parsing and time-window attribution on a small recorded log
(``spark.range(1000).count()`` then a grouped count, two jobs each), and
the self-time split behind the per-layer metrics."""

import os

import pytest

import tracing as T

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")
# op windows the recording process saw (time.time), one per action
WINDOWS = [("count", 1792206207.4110138, 1792206210.066606),
           ("agg", 1792206210.1167703, 1792206211.1624515)]


def _jobs():
    with open(FIXTURE) as f:
        return T.parse_event_log(f)


def test_parse_jobs_and_task_metrics():
    jobs = _jobs()
    assert [j["job"] for j in jobs] == [0, 1, 2, 3]
    assert [j["tasks"] for j in jobs] == [4, 1, 4, 1]
    assert all(j["n_stages"] == 1 and j["failed_tasks"] == 0 for j in jobs)
    # each shuffle's map side writes what its reduce side reads
    assert jobs[0]["shuffle_write_bytes"] == jobs[1]["shuffle_read_bytes"] > 0
    assert jobs[2]["shuffle_write_bytes"] == jobs[3]["shuffle_read_bytes"] > 0
    assert all(j["end"] >= j["start"] for j in jobs)


def test_attribution_by_window():
    by, stray = T.attribute_jobs(_jobs(), WINDOWS)
    assert [j["job"] for j in by["count"]] == [0, 1]
    assert [j["job"] for j in by["agg"]] == [2, 3]
    assert stray == []


def test_job_outside_every_window_is_stray():
    by, stray = T.attribute_jobs(_jobs(), WINDOWS[:1])
    assert [j["job"] for j in stray] == [2, 3]


def test_millisecond_truncation_goes_to_the_later_window():
    job = {"start": 10.0}
    by, _ = T.attribute_jobs([job], [("a", 9.0, 10.0009), ("b", 10.0008, 11.0)])
    assert by["b"] == [job] and "a" not in by


def _span(sid, name, start, end, parent, thread=1):
    return {"id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "thread": thread}


ROOT = _span(1, "op.write", 0.0, 12.0, None)


def test_self_times_of_a_nested_tree_add_up_to_wall():
    spans = [_span(2, "spark.writer", 0.0, 10.0, 1),
             _span(3, "trackers.commit", 1.0, 3.0, 2),
             _span(4, "trackers.resolve", 11.0, 12.0, 1)]
    calls = [(4.0, 8.0, 1)]
    jobs = [{"job": 0, "start": 5.0, "end": 7.0}]
    part = T.op_self_times(ROOT, spans, calls, jobs)
    assert part["spark_exec"] == pytest.approx(2.0)
    assert part["py4j"] == pytest.approx(2.0)
    assert part["trackers"] == pytest.approx(3.0)
    assert part["spark.writer"] == pytest.approx(4.0)
    assert part[T.UNCOVERED] == pytest.approx(1.0)
    assert sum(part.values()) == pytest.approx(12.0)


def test_overlap_across_threads_exceeds_wall():
    # two worker threads each block 6 s in py4j at the same time under the
    # client's writer span: 6 s of overlap the sum cannot hide
    spans = [_span(2, "spark.writer", 0.0, 12.0, 1)]
    calls = [(2.0, 8.0, 2), (2.0, 8.0, 3)]
    part = T.op_self_times(ROOT, spans, calls, [])
    assert part["py4j"] == pytest.approx(12.0)
    assert part["spark.writer"] == pytest.approx(6.0)
    assert sum(part.values()) == pytest.approx(18.0)


def test_child_outside_its_parent_exceeds_wall():
    # a job whose submission falls in the op but which outlives it
    part = T.op_self_times(ROOT, [], [], [{"job": 0, "start": 10.0, "end": 16.0}])
    assert part["spark_exec"] == pytest.approx(6.0)
    assert part[T.UNCOVERED] == pytest.approx(10.0)
    assert sum(part.values()) == pytest.approx(16.0)


def test_py4j_call_hangs_under_its_own_threads_span():
    # a worker thread's call inside its own tracker span, while the client
    # thread has a longer writer span open
    spans = [_span(2, "spark.writer", 0.0, 12.0, 1),
             _span(3, "trackers.resolve", 1.0, 5.0, 2, thread=2)]
    part = T.op_self_times(ROOT, spans, [(2.0, 3.0, 2)], [])
    assert part["trackers"] == pytest.approx(3.0)
    assert part["py4j"] == pytest.approx(1.0)


def test_layer_of():
    assert T.layer_of("operators.dedup_index.extend") == "operators.dedup_index"
    assert T.layer_of("operators.dedup.verify") == "operators.dedup"
    assert T.layer_of("spark.reader.plan") == "spark.reader"
    assert T.layer_of("op.write") is None
