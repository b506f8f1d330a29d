"""The event-log parser on a tiny hand-checked log."""

import os

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


def _log():
    with open(LOG) as f:
        return eventlog.parse_lines(f)


def test_jobs_and_stage_groups():
    log = _log()
    assert log.job_groups == {0: "pb1", 1: "pb2", 2: None}
    # stage 1 is listed by jobs 0 and 1: it belongs to its first submitter
    assert {s.stage_id: s.group for s in log.stages.values()} == {
        0: "pb1", 1: "pb1", 2: "pb2", 3: None,
    }
    assert log.jobs_in(["pb1", "pb2"]) == 2


def test_stage_and_task_totals():
    log = _log()
    s0 = log.stages[0]
    assert s0.python and (s0.py_sent, s0.py_received) == (1000, 800)
    assert not log.stages[1].python
    tot = eventlog.totals(log.select(["pb1"]))
    assert tot["stage_s"] == (450 + 60) / 1e3
    assert tot["task_s"] == (90 + 380 + 40) / 1e3
    assert tot["gc_s"] == 20 / 1e3
    assert tot["shuffle_write_bytes"] == 500
    assert tot["shuffle_read_bytes"] == 500
    assert tot["spill_bytes"] == 96
    assert (tot["py_sent"], tot["py_received"]) == (1000, 800)
    # task durations 100, 300... max 400 / median 100
    assert tot["task_skew"] == 400 / 100


def test_skew_edge_cases():
    assert eventlog.skew([]) == 1.0
    assert eventlog.skew([0, 0]) == 1.0
    assert eventlog.skew([10, 10, 30]) == 3.0
