from __future__ import annotations

import os
import uuid

import pytest

from dbpedia_spotlight_db_spark import fixtures
from dbpedia_spotlight_db_spark.session import get_spark

# The whole suite shares one session-scoped JVM. With the 48g default
# heap its RSS grows past the RAM of a 16 GB host and the kernel kills
# it mid-run, failing every later Spark test; a bounded heap makes the
# JVM collect instead. A caller's SPARK_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def jobs_during(spark):
    """``jobs_during(fn)`` -> ``(fn(), ids of the Spark jobs fn submitted)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def pages_pdf():
    return fixtures.gen_pages(n_pages=200)


@pytest.fixture(scope="session")
def wiki_pdf():
    return fixtures.gen_wiki_corpus(n_wiki=400)


@pytest.fixture(scope="session")
def pages_df(spark, pages_pdf):
    from dbpedia_spotlight_db_spark import schemas

    return spark.createDataFrame(pages_pdf, schema=schemas.PAGES).cache()


@pytest.fixture(scope="session")
def wiki_df(spark, wiki_pdf):
    from dbpedia_spotlight_db_spark import schemas

    return spark.createDataFrame(wiki_pdf, schema=schemas.WIKI_CORPUS).cache()


@pytest.fixture(scope="session")
def stores(spark, wiki_df):
    from dbpedia_spotlight_db_spark.plans.build_stores import build_stores

    return build_stores(spark, wiki_df)
