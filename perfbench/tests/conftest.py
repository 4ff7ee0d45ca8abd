import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # executors' Python workers import muller_spark (IVF build, decode)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from muller_spark.session import get_spark

    session = get_spark("perfbench-tests", **{
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    })
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()
