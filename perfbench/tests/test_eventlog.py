import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures")


def test_rolling_log_files_read_in_order():
    files = eventlog.log_files(FIXTURE)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1", "events_2_local-1"]
    events = eventlog.read_events(FIXTURE)
    assert events[0]["Event"] == "SparkListenerLogStart"
    assert events[-1]["Event"] == "SparkListenerApplicationEnd"


def test_engine_counters_on_fixture():
    events = eventlog.read_events(FIXTURE)
    c = eventlog.engine_counters(events, (1000, 2000), cores=4, requests=2)
    # the task launched at 600 ms and the job submitted at 500 ms fall
    # outside the window
    assert c["spark.tasks"] == 4
    assert c["spark.jobs"] == 2 and c["spark.jobs_per_request"] == 1.0
    assert c["spark.task_busy_s"] == pytest.approx(1.15)
    assert c["spark.core_utilization"] == pytest.approx(1.15 / 4)
    # duration - run - deserialize - result serialization - getting result
    assert c["spark.scheduler_delay_s"] == pytest.approx((0.07 + 0.07 + 0.07 + 0.0) / 4)
    assert c["spark.input_bytes"] == 12000
    assert c["spark.shuffle_write_bytes"] == 350
    assert c["spark.spill_bytes"] == 96
    assert c["spark.gc_s"] == pytest.approx(0.01)
    assert c["spark.stage_skew"] == pytest.approx(2.0)  # stage 1: max 0.6 / median 0.3
    assert c["spark.scan_tasks"] == 3


def test_empty_window():
    c = eventlog.engine_counters(eventlog.read_events(FIXTURE), (5000, 6000), cores=4, requests=0)
    assert c["spark.tasks"] == 0 and c["spark.jobs_per_request"] == 0.0
    assert c["spark.scheduler_delay_s"] == 0.0 and c["spark.stage_skew"] == 1.0
