import json
from pathlib import Path

import pytest
import tracing

LOG = Path(__file__).parent / "data" / "eventlog_pipeline.jsonl"


def parsed():
    with open(LOG) as f:
        return tracing.parse_event_log(f)


def call(spans, span_id, start, end, module="streaming", phase="build"):
    span = tracing.Span(span_id, "q", phase, start, end, None, "r", {"module": module, "phase": phase})
    spans.append(span)
    return span


def test_jobs_carry_times_stages_and_group():
    jobs, _ = parsed()
    assert sorted(jobs) == [15, 16, 24, 25]
    assert jobs[15].group == tracing.call_group(6)
    stream_job = jobs[16]
    assert stream_job.stages == [29, 30]
    # a micro-batch job runs in the stream's own job group, its run id
    assert stream_job.group == "556b393b-f0d8-4bdf-b47c-9d9937640c60"
    assert stream_job.end - stream_job.submit == pytest.approx(5.656)
    assert all(j.succeeded for j in jobs.values())


def test_task_metrics_including_python_worker_time():
    _, tasks = parsed()
    stream_job = tasks[16]
    assert stream_job.tasks == 9
    assert stream_job.python_worker_s == pytest.approx(14.102)
    assert stream_job.task_cpu_s == pytest.approx(1.907530195)
    assert stream_job.gc_s == pytest.approx(0.196)
    assert stream_job.input_bytes == 3320
    assert stream_job.shuffle_write_bytes == stream_job.shuffle_read_bytes == 344906
    assert tasks[15].python_worker_s == 0


def test_a_reused_stage_counts_for_the_job_that_ran_it():
    jobs, tasks = parsed()
    assert {43, 44} <= set(jobs[24].stages) & set(jobs[25].stages)
    # stages 43 and 44 ran no tasks in either job (their shuffle came from
    # earlier jobs), so each job holds only its own final stage's tasks
    assert tasks[24].tasks == tasks[25].tasks == 4
    assert tasks[24].shuffle_write_bytes == 19585
    assert tasks[25].shuffle_write_bytes == 0


def test_failed_tasks_are_counted():
    failed = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 7,
        "Task End Reason": {"Reason": "ExceptionFailure"},
        "Task Info": {"Failed": True, "Accumulables": []},
        "Task Metrics": {"Executor CPU Time": 10**9},
    }
    start = {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000, "Stage IDs": [7]}
    _, tasks = tracing.parse_event_log([json.dumps(start), json.dumps(failed)])
    assert (tasks[1].tasks, tasks[1].failed_tasks, tasks[1].task_cpu_s) == (1, 1, 1.0)


def test_attribution_by_job_group_then_by_window():
    jobs, _ = parsed()
    calls = []
    call(calls, 6, jobs[15].submit - 1, jobs[16].end + 1)
    # span 9 is absent, so jobs 24 and 25 fall back to the window holding them
    window = call(calls, 50, jobs[24].submit - 0.5, jobs[25].end + 0.5, "dedup")
    owner = tracing.attribute_jobs(jobs, calls)
    # job 15 by its group, the stream's job 16 by the window of call 6
    assert owner == {15: 6, 16: 6, 24: window.id, 25: window.id}


def test_a_job_group_wins_over_a_window_that_holds_the_job():
    jobs, _ = parsed()
    calls = []
    call(calls, 9, 0.0, 1.0, "dedup")  # long over before jobs 24 and 25
    call(calls, 50, jobs[24].submit - 1, jobs[25].end + 1)
    owner = tracing.attribute_jobs(jobs, calls)
    assert owner[24] == owner[25] == 9


def test_a_job_outside_every_call_is_unattributed():
    jobs, _ = parsed()
    calls = []
    call(calls, 6, jobs[15].submit - 1, jobs[16].end + 1)
    owner = tracing.attribute_jobs(jobs, calls)
    assert owner[24] is None and owner[25] is None


def test_layer_metrics_per_pass():
    jobs, tasks = parsed()
    calls = []
    call(calls, 6, jobs[15].submit - 1, jobs[16].end + 1)
    call(calls, 9, jobs[24].submit - 2, jobs[25].end + 2, "dedup", "sink")
    m = tracing.layer_metrics(jobs, tasks, calls, passes=2)
    assert m["streaming.jobs"] == m["streaming.eager_jobs"] == 1.0
    assert m["dedup.jobs"] == 1.0 and m["dedup.eager_jobs"] == 0
    assert m["streaming.python_worker_s"] == pytest.approx(14.102 / 2)
    assert m["dedup.tasks"] == 4.0
    # driver self time: the call minus the union of its jobs' windows
    stream_cover = (jobs[15].end - jobs[15].submit) + (jobs[16].end - jobs[16].submit)
    stream_call = (jobs[16].end + 1) - (jobs[15].submit - 1)
    assert m["streaming.driver_self_s"] == pytest.approx((stream_call - stream_cover) / 2)
    dedup_cover = jobs[25].end - jobs[24].submit  # the two jobs overlap
    dedup_call = (jobs[25].end + 2) - (jobs[24].submit - 2)
    assert m["dedup.driver_self_s"] == pytest.approx((dedup_call - dedup_cover) / 2)


def test_covered_seconds_merges_and_clips():
    assert tracing.covered_seconds((0, 10), [(1, 3), (2, 4), (8, 12), (-5, -1)]) == 5
    assert tracing.covered_seconds((0, 10), []) == 0


def test_streaming_metrics_per_window():
    batches = [
        {"run_id": "a", "batch_id": 0, "start": 1.0, "planning_s": 0.5, "add_batch_s": 1.0,
         "wal_commit_s": 0.1, "state_commit_s": 0.2, "state_rows": 10},
        {"run_id": "a", "batch_id": 1, "start": 2.0, "planning_s": 0.5, "add_batch_s": 1.0,
         "wal_commit_s": 0.1, "state_commit_s": 0.2, "state_rows": 15},
        {"run_id": "b", "batch_id": 0, "start": 11.0, "planning_s": 1.0, "add_batch_s": 2.0,
         "wal_commit_s": 0.2, "state_commit_s": 0.4, "state_rows": 5},
        {"run_id": "c", "batch_id": 0, "start": 50.0, "planning_s": 9.0, "add_batch_s": 9.0,
         "wal_commit_s": 9.0, "state_commit_s": 9.0, "state_rows": 99},
    ]
    m = tracing.streaming_metrics(batches, [(0.0, 5.0), (10.0, 15.0)])
    assert m["streaming.batches"] == 1.5
    assert m["streaming.planning_s"] == pytest.approx(1.0)
    assert m["streaming.state_commit_s"] == pytest.approx(0.4)
    assert m["streaming.state_rows"] == 10.0  # (15 + 5) / 2: each run's final state


def test_spans_record_the_body_even_when_it_raises():
    spans = tracing.Spans("r")
    with pytest.raises(RuntimeError):
        with spans.span("outer", "run") as outer:
            with spans.span("inner", "query", outer.id, query="q01"):
                raise RuntimeError
    out = spans.to_json()
    assert [s["name"] for s in out] == ["outer", "inner"]
    assert out[1]["parent"] == 0 and out[1]["query"] == "q01"
    assert all(s["end"] >= s["start"] for s in out)
