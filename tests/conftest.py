import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from html_to_document_spark.plans.job import WORKER_DAEMON_CONF

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("h2d-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # the production worker path (plans/job.py)
        .config(map=WORKER_DAEMON_CONF)
        .getOrCreate()
    )
    yield spark
    spark.stop()
