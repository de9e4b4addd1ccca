import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)
# Python workers import the engine from the checkout
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)


def make_session(event_log_dir: str | None = None):
    from marie_icr_spark.session import build_session

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(
        app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@pytest.fixture(scope="module")
def spark():
    s = make_session()
    yield s
    s.stop()
