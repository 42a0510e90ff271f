import contextlib
import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from lucenenet_spark.session import get_spark

    s = get_spark(app_name="lucenenet-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_rows():
    from tests.corpus import generate_corpus

    return generate_corpus(n_docs=200, seed=42)


@pytest.fixture(scope="session")
def spark_index(spark, corpus_rows):
    from lucenenet_spark.index import CorpusSpec, build_index

    corpus = spark.createDataFrame(corpus_rows)
    idx = build_index(
        spark,
        corpus,
        CorpusSpec(
            text_col="content",
            order_cols=("repo", "path", "commit"),
            meta_cols=("repo", "path", "commit", "lang"),
        ),
    )
    idx.cache()
    yield idx


@pytest.fixture(scope="session")
def oracle_index(corpus_rows):
    from lucenenet_spark.oracle import build_oracle_index
    from tests.corpus import corpus_texts

    return build_oracle_index(corpus_texts(corpus_rows))


@pytest.fixture()
def no_spark_job(spark):
    """Context manager that fails if its block starts a Spark job."""

    @contextlib.contextmanager
    def guard():
        sc = spark.sparkContext
        group = f"no-job-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "must start no Spark job")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []

    return guard
