import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, os.path.join(ROOT, "tools"), BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from chatbot_spark.session import get_spark

    local = str(tmp_path_factory.mktemp("spark-local"))
    s = get_spark(
        "perfbench-tests", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false", "spark.local.dir": local},
    )
    yield s
    s.stop()
