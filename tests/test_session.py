"""The conf a new session is built with: per key, an explicit argument, then
the launcher's conf (spark-submit --master / --conf), then the defaults.
Pure dict logic; starts no JVM."""

from modern_document_converter_for_ai_library_spark.plans.session import (
    ARROW_BATCH_ROWS,
    DEFAULT_CONF,
    SHUFFLE_PARTITIONS,
    session_conf,
)


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
