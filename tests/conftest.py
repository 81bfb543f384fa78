from __future__ import annotations

from contextlib import contextmanager

import pytest

from dbsyncer_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dbsyncer_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_pdf():
    from dbsyncer_spark.fixtures.corpus import gen_corpus_pdf

    return gen_corpus_pdf(n_docs=1000, seed=42)


@pytest.fixture(scope="session")
def corpus(spark, corpus_pdf):
    df = spark.createDataFrame(
        corpus_pdf,
        schema="repo string, path string, commit string, lang string, content string",
    )
    df = df.cache()
    df.count()
    return df


@contextmanager
def zero_spark_jobs(spark, group: str):
    """Run the ``with`` body under Spark job group ``group`` and assert
    that it submitted no Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "must stay empty")
    try:
        yield
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert list(jobs) == [], f"{group} submitted Spark jobs: {jobs}"
