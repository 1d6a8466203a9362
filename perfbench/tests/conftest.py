import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def traced(tmp_path_factory):
    """A small session that writes an event log to a temp dir, and
    that dir."""
    from datagrowth_spark.core.session import get_spark

    from perfbench import eventlog

    log_dir = tmp_path_factory.mktemp("eventlog")
    session = get_spark(master="local[2]", shuffle_partitions=2, extra_conf={
        **eventlog.CONF, "spark.eventLog.dir": str(log_dir),
        "spark.ui.showConsoleProgress": "false"})
    yield session, str(log_dir)
    session.stop()
