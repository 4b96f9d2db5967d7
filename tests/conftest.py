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
def hot_above(monkeypatch):
    """``hot_above(build, rows)`` budgets one as-of merge-scan task at
    ``rows`` rows of ``build`` (all of one payload width), so that entities
    with more than ``rows`` build rows are hot in ``asof_join``."""
    from tgist_features_spark.operators import asof

    def apply(build, rows):
        widths = build.select(asof._row_bytes(build).alias("w")).distinct().collect()
        assert len(widths) == 1, widths
        monkeypatch.setattr(asof, "ASOF_TASK_BYTES", rows * widths[0]["w"])
        return build

    return apply
