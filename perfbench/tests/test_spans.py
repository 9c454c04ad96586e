import math
import os

import pytest

from spans import Job, Span, Tracer, assign_jobs, parse_event_log, span_stats, union_length

HERE = os.path.dirname(os.path.abspath(__file__))


def job(job_id, submit, end, group=None, sql=True):
    return Job(job_id, submit, end, group, sql)


def test_union_length_merges_overlaps_and_keeps_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0.0, 1.0)]) == 1.0
    assert union_length([(0.0, 2.0), (1.0, 3.0)]) == 3.0
    assert union_length([(5.0, 6.0), (0.0, 1.0), (0.5, 0.7)]) == 2.0
    assert union_length([(0.0, 1.0), (1.0, 2.0)]) == 2.0


def test_busy_plus_gap_is_span_wall_with_clipping():
    top = Span("key.k", 10.0, 20.0, group="g")
    # overlapping jobs, one running past the span's end
    jobs = [job(0, 11.0, 13.0, "g"), job(1, 12.0, 14.0, "g"), job(2, 18.0, 25.0, None)]
    st = span_stats(top, [top], {id(top): jobs})
    assert st.job_busy_s == pytest.approx(3.0 + 2.0)
    assert st.driver_gap_s == pytest.approx(5.0)
    assert st.job_busy_s + st.driver_gap_s == pytest.approx(top.wall)
    assert st.ungrouped == 1


def test_jobs_go_to_innermost_span_by_submission_time():
    top = Span("key.k", 0.0, 10.0)
    build = Span("plans.build", 0.0, 4.0, parent=top)
    execute = Span("plans.execute", 4.0, 10.0, parent=top)
    other = Span("key.j", 20.0, 30.0)
    spans = [top, build, execute, other]
    jobs = [job(0, 1.0, 2.0), job(1, 5.0, 6.0), job(2, 15.0, 16.0), job(3, 21.0, 22.0)]
    got = assign_jobs(spans, jobs)
    assert [j.job_id for j in got[id(build)]] == [0]
    assert [j.job_id for j in got[id(execute)]] == [1]
    assert [j.job_id for j in got[id(other)]] == [3]
    assert id(top) not in got  # job 2 ran between spans: charged to none
    assert len(span_stats(top, spans, got).jobs) == 2


def test_tracer_nests_and_shares_the_outer_group():
    tracer = Tracer()
    with tracer.span("key.a") as outer:
        with tracer.span("plans.build") as inner:
            pass
    with tracer.span("key.b") as second:
        pass
    assert inner.parent is outer and inner.top() is outer and inner.group == outer.group
    assert second.group != outer.group
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_parse_recorded_event_log():
    """A log recorded from pyspark 4.1.2 on local[2], with bulky fields
    (plans, RDD info, accumulables, conf) cut: four jobs, the third
    submitted from a pool thread without the caller's group, the fourth
    an RDD action outside any SQL execution."""
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl"), encoding="utf-8") as fh:
        jobs = sorted(parse_event_log(fh), key=lambda j: j.job_id)
    assert [j.job_id for j in jobs] == [0, 1, 2, 3]
    assert [j.group for j in jobs] == ["g1", "g1", None, "g1"]
    assert all(j.end >= j.submit > 1e9 for j in jobs)
    assert [j.sql_execution for j in jobs] == [True, True, True, False]
    assert [j.stages for j in jobs] == [2, 1, 1, 1]
    assert [j.tasks for j in jobs] == [4, 2, 2, 2]
    assert sum(j.shuffle_write_bytes for j in jobs) > 0
    assert sum(j.shuffle_read_bytes for j in jobs) > 0
    assert all(j.run_s >= 0 and j.cpu_s >= 0 and not math.isnan(j.run_s) for j in jobs)


def test_unfinished_job_is_dropped():
    lines = [
        '{"Event":"SparkListenerJobStart","Job ID":7,"Submission Time":1000,"Stage Infos":[],'
        '"Stage IDs":[],"Properties":{}}',
        '{"Event":"SparkListenerApplicationEnd","Timestamp":2000}',
    ]
    assert parse_event_log(lines) == []
