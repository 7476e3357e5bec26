import os

import pytest

from perfbench import eventlog

SAMPLE = os.path.join(os.path.dirname(__file__), "data", "eventlog-sample.jsonl")


@pytest.fixture(scope="module")
def log():
    # recorded from a local[2] session: span "scan" ran one identity
    # mapInArrow over a 4-file parquet table; span "job" ran a groupBy
    # count on it (two AQE jobs, one reused stage); the rest is untagged.
    # Only the event types the parser reads were kept, and the recording
    # host's paths were replaced by /data/
    with open(SAMPLE) as f:
        return eventlog.parse(f)


def test_scan_span_folds_its_one_stage(log):
    jobs, stages = log.for_span("scan")
    assert [j.job_id for j in jobs] == [2]
    assert [s.stage_id for s in stages] == [2]
    m = eventlog.stage_metrics(stages)
    assert m["stage.run_s"] == pytest.approx(2.031)
    assert m["stage.input_bytes"] == 1614 + 1616 + 1604 + 1606
    assert stages[0].input_records == 20000  # every row of the table, once
    assert m["stage.shuffle_write_bytes"] == 0
    assert m["stage.cpu_s"] == pytest.approx((407621549 + 166258674 + 20301643 + 28312503) / 1e9)
    # task durations 1726, 1814, 179, 268 ms: median 997
    assert m["stage.task_max_over_median"] == pytest.approx(1814 / 997)


def test_job_span_skips_the_reused_stage(log):
    jobs, stages = log.for_span("job")
    assert sorted(j.job_id for j in jobs) == [3, 4]
    assert sum(j.wall_s for j in jobs) == pytest.approx(0.294 + 0.078)
    # job 4 lists stages 4 and 5; stage 4 was reused, never submitted
    assert sorted(s.stage_id for s in stages) == [3, 5]
    assert sum(s.input_records for s in stages) == 20000
    m = eventlog.stage_metrics(stages)
    assert m["stage.shuffle_write_bytes"] == 164 + 164 + 156 + 156
    assert m["stage.shuffle_read_bytes"] == 640
    assert m["stage.gc_s"] == pytest.approx(0.112)
    assert m["stage.run_s"] == pytest.approx(0.284 + 0.073)


def test_untagged_jobs_belong_to_no_span(log):
    tagged = {j.job_id for span in ("scan", "job") for j in log.for_span(span)[0]}
    assert tagged == {2, 3, 4}
    assert {j.job_id for j in log.jobs.values() if j.span is None} == {0, 1, 5, 6}


def test_empty_span_reports_zeros(log):
    assert eventlog.stage_metrics(log.for_span("absent")[1]) == {
        "stage.run_s": 0,
        "stage.cpu_s": 0,
        "stage.gc_s": 0,
        "stage.input_bytes": 0,
        "stage.shuffle_write_bytes": 0,
        "stage.shuffle_read_bytes": 0,
        "stage.task_max_over_median": 0.0,
    }


def test_rolling_log_parts_in_index_order_and_open_log_refused(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for i in (10, 2, 1):
        (app / f"events_{i}_local-1").write_text("")
    (app / "appstatus_local-1.inprogress").write_text("")
    with pytest.raises(ValueError, match="still open"):
        eventlog.log_files(str(tmp_path))
    (app / "appstatus_local-1.inprogress").rename(app / "appstatus_local-1")
    assert [os.path.basename(p) for p in eventlog.log_files(str(tmp_path))] == [
        "events_1_local-1",
        "events_2_local-1",
        "events_10_local-1",
    ]
