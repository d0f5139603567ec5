"""One local Spark session for the benchmark's own tests, with the
event log on and every temporary write under pytest's temp dir.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import pytest


@pytest.fixture(scope="session")
def spark_env(tmp_path_factory):
    root = tmp_path_factory.mktemp("perfbench")
    from perfbench.run import configure_env

    conf = configure_env(root)
    eventlog = root / "eventlog"
    eventlog.mkdir()
    conf.update(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog}",
            "spark.eventLog.compress": "false",
        }
    )
    return root, conf, eventlog


@pytest.fixture(scope="session")
def spark(spark_env):
    from mongo2pq_spark.session import get_spark

    from perfbench.run import stop_spark

    _, conf, _ = spark_env
    session = get_spark(app_name="perfbench-tests", extra_conf=conf)
    yield session
    stop_spark(session)
