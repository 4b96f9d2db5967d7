"""``plans.backfill.run_backfill``, the one backfill call: its output equals
the pandas oracle with zero leakage, it runs exactly the Spark jobs of the
persist -> ``backfill_features`` -> write composition it owns, and it leaves
no persisted features behind, also when the write fails."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tgist_features_spark.oracle.pandas_oracle import (
    oracle_backfill,
    oracle_turn_features,
)
from tgist_features_spark.plans.backfill import (
    backfill_features,
    run_backfill,
    turn_features,
)
from tgist_features_spark.sources.corpus import (
    generate_queries_pdf,
    queries_df,
    transcripts_df,
)


@pytest.fixture(scope="module")
def sides(spark, tiny_pdf):
    qpdf = generate_queries_pdf(tiny_pdf, n_queries=80, seed=7)
    return transcripts_df(spark, tiny_pdf), queries_df(spark, qpdf), qpdf


def _persisted(spark) -> set[int]:
    """Ids of the RDDs the session holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _jobs_in_group(spark, group: str, fn) -> int:
    """Run ``fn`` with its Spark jobs tagged ``group``; return the job count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_backfill_equals_oracle(spark, tiny_pdf, sides, tmp_path):
    t, q, qpdf = sides
    before = _persisted(spark)
    out = str(tmp_path / "out")
    run_backfill(t, q, out)
    assert _persisted(spark) == before

    got = spark.read.parquet(out)
    assert got.count() == len(qpdf)
    assert got.filter("ts > query_ts").count() == 0
    a = got.toPandas().sort_values("query_id").reset_index(drop=True)
    b = (
        oracle_backfill(oracle_turn_features(tiny_pdf), qpdf)
        .sort_values("query_id").reset_index(drop=True)
    )
    assert a["query_id"].tolist() == b["query_id"].tolist()
    for c in ("ts", "turn_idx"):
        x, y = a[c], b[c]
        assert ((x == y) | (x.isna() & y.isna())).all(), c
    for u, v in zip(a["feature_vec"], b["feature_vec"]):
        assert (u is None) == (v is None or (isinstance(v, float) and pd.isna(v)))
        if u is not None:
            np.testing.assert_allclose(np.asarray(u, float), np.asarray(v, float))


def test_run_backfill_runs_the_composed_jobs(spark, sides, tmp_path):
    t, q, _ = sides

    def composed():
        feats = turn_features(t).persist()
        backfill_features(feats, q).write.mode("overwrite").parquet(
            str(tmp_path / "composed"))
        feats.unpersist()

    n_composed = _jobs_in_group(spark, "backfill-composed", composed)
    n_run = _jobs_in_group(
        spark, "backfill-run", lambda: run_backfill(t, q, str(tmp_path / "run")))
    assert n_run == n_composed > 0


def test_run_backfill_unpersists_when_write_fails(spark, sides, tmp_path):
    """The write fails after the persisted features have been computed
    (the output's parent is a plain file); the features are unpersisted
    all the same."""
    t, q, _ = sides
    plain = tmp_path / "plain"
    plain.write_text("not a directory")
    before = _persisted(spark)
    with pytest.raises(Exception, match="(?i)not a directory"):
        run_backfill(t, q, str(plain / "out"))
    assert _persisted(spark) == before
