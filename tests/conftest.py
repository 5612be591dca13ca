import os
import shutil
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FIXTURE_DOCS = 300


@contextmanager
def job_group(sc, group: str):
    """Run the block's Spark jobs (on this thread) in job group `group`.
    Yields a function that counts the jobs the group has started
    (statusTracker), callable inside the block or after it."""
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from searchengine_spark.config import recommended_spark_conf

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("searchengine-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in recommended_spark_conf().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def fixture_pages():
    from searchengine_spark.sources.corpus import gen_pages_local

    return gen_pages_local(N_FIXTURE_DOCS)


@pytest.fixture(scope="session")
def oracle_index(fixture_pages):
    from searchengine_spark import oracle as O

    return O.build_index(fixture_pages)


@pytest.fixture(scope="session")
def built_engine(spark, tmp_path_factory):
    """SearchEngine with a fully built index over the fixture corpus."""
    from searchengine_spark.plans.api import SearchEngine
    from searchengine_spark.sources.corpus import gen_pages_spark

    work = str(tmp_path_factory.mktemp("engine_work"))
    eng = SearchEngine(spark, work)
    eng.build_index(gen_pages_spark(spark, N_FIXTURE_DOCS, partitions=4))
    yield eng
    shutil.rmtree(work, ignore_errors=True)
