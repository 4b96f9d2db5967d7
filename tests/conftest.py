from __future__ import annotations

import pytest

from tgist_features_spark import get_spark
from tgist_features_spark.sources.corpus import (
    generate_queries_pdf,
    generate_transcripts_pdf,
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", shuffle_partitions=8, app_name="tgist-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_pdf():
    return generate_transcripts_pdf(n_convs=20, seed=42)


@pytest.fixture(scope="session")
def small_pdf():
    return generate_transcripts_pdf(n_convs=300, seed=42)


@pytest.fixture(scope="session")
def queries_pdf(small_pdf):
    return generate_queries_pdf(small_pdf, n_queries=400, seed=43)


@pytest.fixture
def arrow_batch_rows(spark):
    """``arrow_batch_rows(n)`` sets ``spark.sql.execution.arrow.maxRecordsPerBatch``
    to ``n`` for the rest of the test; the session's value is restored
    afterwards."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, before)
