import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from htrc_feature_reader_spark import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def job_labels(spark):
    """``job_labels(fn)`` runs ``fn()`` and returns the description of
    every Spark job it started, read from the application status store
    the way the benchmark's tracer reads finished jobs."""
    sc = spark.sparkContext._jsc.sc()

    def jobs():
        sc.listenerBus().waitUntilEmpty(10_000)
        return sc.statusStore().jobsList(None)  # newest first

    def run(fn):
        before = jobs()
        floor = before.apply(0).jobId() if before.size() else -1
        fn()
        after, descs = jobs(), []
        for i in range(after.size()):
            j = after.apply(i)
            if j.jobId() <= floor:
                break
            descs.append(j.description().get() if j.description().isDefined()
                         else None)
        return descs

    return run


@pytest.fixture(scope="session")
def tokenlist_df(spark):
    from htrc_feature_reader_spark.synth import generate_tokenlist

    return generate_tokenlist(spark, n_docs=3, pages_per_doc=12, rows_per_page=25).cache()


@pytest.fixture(scope="session")
def sequences_df(spark):
    from htrc_feature_reader_spark.synth import generate_sequences

    return generate_sequences(spark, n_rows=3000, n_docs=40, seed=42).cache()
