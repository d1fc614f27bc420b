"""Event-log attribution on a synthetic event list."""

from perfbench.tracing import Span, attribute, cover_frac, parse_events, union_ms


def job_start(jid, group, submit, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
            "Stage IDs": stages, "Properties": props}


def job_end(jid, done):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": done}


def task_end(stage, run_ms, records=0, shuffle_records=0, shuffle_bytes=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms,
        "Input Metrics": {"Records Read": records},
        "Shuffle Read Metrics": {"Total Records Read": shuffle_records},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes}}}


def spans():
    a = Span(0, "index.search_bcast", "timed", start_ms=1000, end_ms=2000, wall_s=1.0)
    b = Span(1, "index.search_bcast", "timed", start_ms=3000, end_ms=3500, wall_s=0.5)
    return [a, b]


def events():
    a, b = spans()
    return [
        job_start(0, a.group, 1100, [0, 1]),
        task_end(0, 200, records=10, shuffle_bytes=64),
        task_end(1, 100),                      # reads nothing: idle
        job_end(0, 1400),
        job_start(1, a.group, 1300, [1, 2]),   # overlaps job 0; stage 1 is skipped
        task_end(2, 300, shuffle_records=5),
        job_end(1, 1600),
        job_start(2, b.group, 3100, [3]),
        task_end(3, 50, records=1),
        job_end(2, 3200),
        job_start(3, None, 4000, [4]),         # untagged
        job_end(3, 4100),
        job_start(4, "pb-phase-setup", 100, [5]),
        job_end(4, 200),
    ]


def test_union_ms_merges_and_clips():
    assert union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert union_ms([(0, 10), (5, 20)], 8, 12) == 4
    assert union_ms([(50, 60)], 0, 40) == 0
    assert union_ms([], 0, 10) == 0


def test_parse_reads_groups_stages_and_task_metrics():
    jobs, tasks = parse_events(events())
    assert jobs[0].group == "pb-0-index.search_bcast"
    assert jobs[3].group is None
    assert jobs[1].stages == (1, 2) and jobs[1].end_ms == 1600
    assert [t.stage_id for t in tasks] == [0, 1, 2, 3]
    assert tasks[0].input_records == 10 and tasks[0].shuffle_bytes == 64
    assert tasks[2].shuffle_records == 5


def test_attribution_and_driver_time():
    jobs, tasks = parse_events(events())
    got = attribute(spans(), jobs, tasks)
    # span a: jobs cover 1100..1600 of 1000..2000 -> 0.5 s of driver time;
    # span b: job covers 3100..3200 of 3000..3500 -> 0.4 s. Means over 2 calls.
    assert abs(got["index.search_bcast.driver_s"] - (0.5 + 0.4) / 2) < 1e-9
    assert got["index.search_bcast.wall_s"] == 0.75
    assert got["index.search_bcast.jobs"] == 1.5
    # stage 1 belongs to job 0 (first listed), so span a has 3 tasks, b has 1
    assert got["index.search_bcast.tasks"] == 2.0
    assert abs(got["index.search_bcast.executor_run_s"] - 0.65 / 2) < 1e-9
    assert got["index.search_bcast.shuffle_bytes"] == 32.0
    assert got["index.search_bcast.idle_task_frac"] == 0.25
    assert got["trace.untagged_jobs"] == 1


def test_warmup_spans_are_left_out():
    a, b = spans()
    b.phase = "warmup"
    jobs, tasks = parse_events(events())
    got = attribute([a, b], jobs, tasks)
    assert got["index.search_bcast.wall_s"] == 1.0
    assert got["index.search_bcast.jobs"] == 2


def test_cover_frac():
    a, b = spans()  # 1.5 s of ops over a 2.5 s phase
    assert abs(cover_frac([a, b]) - 0.6) < 1e-9
    assert cover_frac([]) == 0.0
