import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from html_to_document_spark.plans.job import build_session

    # the production session (plans/job.py), at a test-sized width/heap
    spark = build_session(
        cpus=4,
        shuffle_partitions=4,
        app="h2d-spark-tests",
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark
    spark.stop()
