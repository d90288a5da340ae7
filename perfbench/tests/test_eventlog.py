import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


def _parse_recorded(tmp_path, prefix):
    (tmp_path / "local-1700000000000").write_text(open(LOG).read())
    (tmp_path / ".local-1700000000000.crc").write_text("")
    return eventlog.parse_dir(str(tmp_path), prefix)


def test_recorded_log_groups_work_by_benchmark_tag(tmp_path):
    # recorded from local[2]: a tagged count (build), a tagged groupBy
    # collect with one shuffle (collect), then an untagged job
    work = _parse_recorded(tmp_path, "bench:")
    assert set(work) == {"bench:t:k:0:build", "bench:t:k:0:collect"}
    build, collect = work["bench:t:k:0:build"], work["bench:t:k:0:collect"]
    assert (build.jobs, build.stages, build.tasks) == (1, 2, 3)
    assert (collect.jobs, collect.stages, collect.tasks) == (1, 2, 5)
    assert collect.shuffle_write_bytes == collect.shuffle_read_bytes > 0
    assert collect.run_ms > 0 and collect.cpu_ms > 0
    assert collect.last_job_end_ms > build.last_job_end_ms > 0


def test_prefix_filters_foreign_tags(tmp_path):
    assert _parse_recorded(tmp_path, "other:") == {}


def test_a_second_log_is_an_error(tmp_path):
    (tmp_path / "app-1").write_text("")
    (tmp_path / "app-2").write_text("")
    with pytest.raises(ValueError):
        eventlog.parse_dir(str(tmp_path), "bench:")


def test_stage_of_two_jobs_counts_once():
    ev = [
        '{"Event":"SparkListenerJobStart","Job ID":0,"Stage IDs":[0],'
        '"Properties":{"spark.job.tags":"bench:a"}}',
        '{"Event":"SparkListenerJobStart","Job ID":1,"Stage IDs":[0,1],'
        '"Properties":{"spark.job.tags":"bench:a"}}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":0,'
        '"Task Metrics":{"Executor Run Time":10}}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":1,'
        '"Task Metrics":{"Executor Run Time":5}}',
    ]
    w = eventlog.parse(ev, "bench:")["bench:a"]
    assert (w.jobs, w.stages, w.tasks, w.run_ms) == (2, 2, 2, pytest.approx(15))
