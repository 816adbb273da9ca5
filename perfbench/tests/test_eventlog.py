"""Event-log reader against a small captured local[4] log
(data/eventlog_small.jsonl, made by capture_eventlog.py).

Run from the checkout root: python3 -m pytest perfbench/tests -q
"""

import os

from perfbench.eventlog import EventLog, log_files

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                   "eventlog_small.jsonl")


def test_stages_map_to_job_labels():
    log = EventLog([LOG])
    assert log.jobs("udf") >= 1 and log.jobs("shuffle") >= 1
    labelled = {s.label for s in log.stages}
    assert {"udf", "shuffle"} <= labelled
    assert all(s.task_ms for s in log.stages)


def test_python_worker_counters_only_on_udf_job():
    log = EventLog([LOG])
    udf, shuffle = log.totals("udf"), log.totals("shuffle")
    # 4000 longs go in and come back, plus Arrow framing
    assert udf["python_bytes_sent"] > 4000 * 8
    assert udf["python_bytes_returned"] > 4000 * 8
    assert udf["python_run_ms"] >= 0
    assert udf["cpu_ns"] > 0 and udf["run_ms"] > 0
    assert udf["shuffle_write_bytes"] == 0
    assert shuffle["python_bytes_sent"] == 0


def test_shuffle_counters_balance():
    log = EventLog([LOG])
    t = log.totals("shuffle")
    assert t["shuffle_write_bytes"] > 0
    assert t["shuffle_write_records"] > 0
    assert t["shuffle_read_records"] == t["shuffle_write_records"]
    red = log.reduce_stage("shuffle")
    assert red.shuffle_read_records > 0
    assert red.task_skew >= 1.0
    assert log.reduce_stage("no such label") is None


def test_log_files_layouts(tmp_path):
    rolled = tmp_path / "eventlog_v2_app-1"
    rolled.mkdir()
    for n in (10, 2, 1):
        (rolled / f"events_{n}_app-1").write_text("")
    (rolled / "appstatus_app-1").write_text("")
    assert [os.path.basename(p) for p in log_files(str(tmp_path), "app-1")] \
        == ["events_1_app-1", "events_2_app-1", "events_10_app-1"]
    (tmp_path / "app-2").write_text("")
    assert log_files(str(tmp_path), "app-2") == [str(tmp_path / "app-2")]
