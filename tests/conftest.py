import os

import pytest

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_CORRECTNESS = os.path.join(TESTDATA, "sf0.01")
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO_ROOT, "tests", "fixtures")
CACHE = os.path.join(REPO_ROOT, ".cache")


@pytest.fixture(scope="session")
def spark():
    from oct_report_ocr_spark.session import get_spark

    s = get_spark(app_name="tests", cores=8)
    yield s
    s.stop()
