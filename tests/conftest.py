from __future__ import annotations

import uuid

import pandas as pd
import pytest

from smart_pdf_md_spark.corpus import corpus_pandas
from smart_pdf_md_spark.session import build_session

SF_SMALL = 400  # unit/correctness corpus size (FIXTURES.md sf-small scaled for test speed)


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="kg-tests", master="local[4]",
                      shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf() -> pd.DataFrame:
    return corpus_pandas(SF_SMALL)


@pytest.fixture(scope="session")
def corpus_sdf(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    df.persist()
    df.count()
    return df


def group_jobs(spark, group: str) -> int:
    """Spark jobs fired under job group ``group``, counted once the
    listener bus has delivered every job event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def set_job_group(spark, group: str | None) -> None:
    """Label the calling thread's next jobs with ``group`` (None: none)."""
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


def jobs_fired(spark, fn) -> int:
    """Spark jobs fired by ``fn()``, counted through a fresh job group."""
    group = f"count-{uuid.uuid4().hex}"
    set_job_group(spark, group)
    try:
        fn()
    finally:
        set_job_group(spark, None)
    return group_jobs(spark, group)
