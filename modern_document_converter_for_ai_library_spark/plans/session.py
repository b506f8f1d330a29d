"""SparkSession construction: a job uses the session and the cluster it is given.

``get_spark`` returns an active session untouched, so a job called
in-process runs on its caller's session and leaves its confs as they were.
Only a new session is configured, one key at a time in this order: an
explicit argument, then the launcher's conf (``spark-submit --master`` /
``--conf``, ``spark-defaults.conf``), then the defaults below. No master is
set unless one is passed, so spark-submit's master stands and a bare
``python`` run gets Spark's own ``local[*]``. Every job in ``jobs/`` runs
inside ``job_session``, which stops the session it creates and leaves
running a session it was given.

The defaults are the execution profile SURVEY.md §4 calls for: AQE with
partition coalescing and skew-join handling, Arrow-batched Python exchange
(the only Python in the job is vectorized kernels), and shuffle partitions
sized from the parallelism of the context actually created. The same
settings apply unchanged on a real multi-executor cluster.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator, Mapping

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
ARROW_BATCH_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"

DEFAULT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # documents can be MBs each: batches small enough that one batch of
    # worst-case docs fits executor memory (SURVEY.md §4 item 2)
    ARROW_BATCH_ROWS: "256",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "33554432",
    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    "spark.ui.enabled": "false",
}


def session_conf(
    launcher: Mapping[str, str],
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int | None = None,
    extra_conf: Mapping[str, str] | None = None,
) -> dict[str, str]:
    """The options a new session is built with.

    Per key: an explicit argument wins, a key in ``launcher`` is left out so
    the launcher's value stands, and ``DEFAULT_CONF`` fills the rest. With
    ``master=None`` no ``spark.master`` is set. The shuffle partition
    default depends on the created context, so ``get_spark`` fills it after
    creation.
    """
    conf = {k: v for k, v in DEFAULT_CONF.items() if k not in launcher}
    conf.update(extra_conf or {})
    for key, value in (
        ("spark.master", master),
        (SHUFFLE_PARTITIONS, shuffle_partitions),
        (ARROW_BATCH_ROWS, arrow_batch_rows),
    ):
        if value is not None:
            conf[key] = str(value)
    return conf


def _launcher_conf() -> dict[str, str]:
    """The conf of the JVM this process talks to: spark-submit hands its
    running JVM down in ``PYSPARK_GATEWAY_PORT``, and an earlier session of
    this process may have left one up. With neither there is nothing to
    read yet, and no JVM is started here."""
    if SparkContext._jvm is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    SparkContext._ensure_initialized()  # connects; starts no JVM
    return dict(SparkConf().getAll())


def get_spark(
    app_name: str = "modern-document-converter-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int | None = None,
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """The active session as it is, or a new one built from ``session_conf``.

    Arguments only configure a new session; an active one is returned
    without re-applying any conf, so set confs on the session itself. A new
    session whose shuffle partitions nobody set gets
    ``max(8, 2 * defaultParallelism)`` of its context: enough parallelism
    for AQE to coalesce down, not so many that task overhead dominates at
    small scale. The context is created first so that default can go into
    the session's initial options; setting it on a live session instead
    would build the session state at startup.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    conf = session_conf(
        _launcher_conf(), master, shuffle_partitions, arrow_batch_rows, extra_conf
    )
    sc = SparkContext.getOrCreate(SparkConf().setAppName(app_name).setAll(conf.items()))
    sc.setLogLevel("WARN")
    if not sc.getConf().contains(SHUFFLE_PARTITIONS):
        conf[SHUFFLE_PARTITIONS] = str(max(8, 2 * sc.defaultParallelism))
    return SparkSession.builder.config(map=conf).getOrCreate()


@contextmanager
def job_session(app_name: str, master: str | None = None) -> Iterator[SparkSession]:
    """The session a job runs on, owned by whoever created it.

    An active session belongs to the caller (a test, a notebook, any code
    that calls a job's ``main`` in-process): it is yielded as it is and
    never stopped.
    Without one (a spark-submit or ``python`` run), a session is created
    through ``get_spark`` and stopped on exit, also when the body raises;
    the exception still propagates.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        yield active
        return
    spark = get_spark(app_name=app_name, master=master)
    try:
        yield spark
    finally:
        spark.stop()
