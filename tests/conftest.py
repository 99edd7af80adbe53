import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from .oracle import REFERENCE  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("pdf_parser_python_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def fixture_dirs() -> list[str]:
    """The reference's ``test_soa*`` snapshot dirs; none without the checkout."""
    if not os.path.isdir(REFERENCE):
        return []
    dirs = []
    for name in sorted(os.listdir(REFERENCE)):
        p = os.path.join(REFERENCE, name)
        if name.startswith("test_soa") and os.path.isdir(p):
            if any(f.endswith("_raw_blocks.json") for f in os.listdir(p)):
                dirs.append(p)
    return dirs
