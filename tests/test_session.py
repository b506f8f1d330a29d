"""The conf a new session is built with: per key, an explicit argument, then
the launcher's conf (spark-submit --master / --conf), then the defaults.
And who owns a job's session: ``job_session`` stops only a session it
created. Pure Python with the session calls faked; starts no JVM."""

import pathlib

import pytest

from modern_document_converter_for_ai_library_spark.plans import session
from modern_document_converter_for_ai_library_spark.plans.session import (
    ARROW_BATCH_ROWS,
    DEFAULT_CONF,
    SHUFFLE_PARTITIONS,
    job_session,
    session_conf,
)

JOBS = pathlib.Path(__file__).resolve().parents[1] / "jobs"


def test_no_master_unless_passed():
    assert "spark.master" not in session_conf({})
    assert "spark.master" not in session_conf({"spark.master": "local[2]"})
    assert session_conf({}, master="local[4]")["spark.master"] == "local[4]"


def test_launcher_keys_survive():
    launcher = {SHUFFLE_PARTITIONS: "3", "spark.ui.enabled": "true"}
    conf = session_conf(launcher)
    # left out, so the builder does not override the launcher's value
    assert SHUFFLE_PARTITIONS not in conf
    assert "spark.ui.enabled" not in conf


def test_explicit_arguments_beat_launcher():
    launcher = {
        "spark.master": "local[2]",
        SHUFFLE_PARTITIONS: "3",
        ARROW_BATCH_ROWS: "64",
        "spark.sql.session.timeZone": "America/New_York",
    }
    conf = session_conf(
        launcher,
        master="local[4]",
        shuffle_partitions=8,
        arrow_batch_rows=128,
        extra_conf={"spark.sql.session.timeZone": "UTC"},
    )
    assert conf["spark.master"] == "local[4]"
    assert conf[SHUFFLE_PARTITIONS] == "8"
    assert conf[ARROW_BATCH_ROWS] == "128"
    assert conf["spark.sql.session.timeZone"] == "UTC"


def test_defaults_fill_unset_keys_only():
    conf = session_conf({})
    assert conf == DEFAULT_CONF
    # the shuffle default needs the created context's parallelism
    assert SHUFFLE_PARTITIONS not in conf
    assert session_conf({ARROW_BATCH_ROWS: "64"}).keys() == (
        DEFAULT_CONF.keys() - {ARROW_BATCH_ROWS}
    )


class _FakeSession:
    def __init__(self):
        self.stops = 0

    def stop(self):
        self.stops += 1


def _fake_spark(monkeypatch, active):
    """Fake the active-session lookup and ``get_spark``; returns the list
    of (app_name, master, session) that ``get_spark`` created."""
    created = []

    class FakeSparkSession:
        @staticmethod
        def getActiveSession():
            return active

    def fake_get_spark(app_name, master=None):
        created.append((app_name, master, _FakeSession()))
        return created[-1][2]

    monkeypatch.setattr(session, "SparkSession", FakeSparkSession)
    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    return created


def test_job_session_leaves_an_active_session_running(monkeypatch):
    active = _FakeSession()
    created = _fake_spark(monkeypatch, active)
    with job_session("mdcal-x", master="local[2]") as spark:
        assert spark is active
    with pytest.raises(ValueError):
        with job_session("mdcal-x"):
            raise ValueError("body failed")
    assert active.stops == 0
    assert created == []


def test_job_session_stops_the_session_it_created(monkeypatch):
    created = _fake_spark(monkeypatch, None)
    with job_session("mdcal-x", master="local[2]") as spark:
        assert spark.stops == 0
    assert [(a, m) for a, m, _ in created] == [("mdcal-x", "local[2]")]
    assert spark is created[0][2]
    assert spark.stops == 1


def test_job_session_stops_the_session_it_created_when_the_body_raises(
    monkeypatch,
):
    created = _fake_spark(monkeypatch, None)
    with pytest.raises(ValueError, match="body failed"):
        with job_session("mdcal-x"):
            raise ValueError("body failed")
    assert len(created) == 1
    assert created[0][2].stops == 1


def test_every_job_runs_inside_job_session():
    jobs = sorted(JOBS.glob("*.py"))
    assert len(jobs) == 10
    for path in jobs:
        src = path.read_text()
        assert "with job_session(" in src, path.name
        for banned in ("get_spark(", ".stop(", "pre_existing"):
            assert banned not in src, (path.name, banned)
