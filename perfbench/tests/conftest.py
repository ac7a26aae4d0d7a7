import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def log_dir(tmp_path_factory):
    """Configure Spark the way a traced benchmark run does (local[2],
    plain-JSON event log); returns the event log directory."""
    from perfbench import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    os.rmdir(work)
    run.configure(work, 2, trace=True)
    return os.path.join(work, "eventlog")


@pytest.fixture
def spark(log_dir):
    """The active session, or a new application if a test stopped it."""
    from rdbms_metadata_manager_spark.session import get_spark

    return get_spark("perfbench-tests")
