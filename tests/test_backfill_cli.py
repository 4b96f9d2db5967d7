"""jobs/backfill_features.py end to end under spark-submit: the launcher's
--master reaches the job, and the output equals the pandas oracle with zero
leakage.

``asof_join`` has one route; its batch-boundary cases and hot-entity memory
bound are covered in-process (tests/test_asof.py,
tests/test_property_asof.py)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyspark

from tgist_features_spark.oracle.pandas_oracle import (
    oracle_backfill,
    oracle_turn_features,
)
from tgist_features_spark.sources.corpus import (
    generate_queries_pdf,
    queries_df,
    transcripts_df,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "jobs", "backfill_features.py")


def _spark_submit() -> str:
    return shutil.which("spark-submit") or os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )


def test_cli_under_spark_submit(spark, tiny_pdf, tmp_path):
    inp, qry, out = (str(tmp_path / n) for n in ("transcripts", "queries", "out"))
    queries_pdf = generate_queries_pdf(tiny_pdf, n_queries=60)
    transcripts_df(spark, tiny_pdf).write.parquet(inp)
    queries_df(spark, queries_pdf).write.parquet(qry)
    pkg = shutil.make_archive(
        str(tmp_path / "pkg"), "zip", REPO, "tgist_features_spark"
    )

    env = {**os.environ, "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    p = subprocess.run(
        [_spark_submit(), "--master", "local[2]", "--py-files", pkg, JOB,
         "--input", inp, "--queries", qry, "--output", out],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert line["master"] == "local[2]"
    # no shuffle-partition setting anywhere: 2 x the launcher's 2 cores
    assert line["shuffle_partitions"] == 4

    got = spark.read.parquet(out)
    assert got.count() == len(queries_pdf)
    assert got.filter("ts > query_ts").count() == 0
    a = got.toPandas().sort_values("query_id").reset_index(drop=True)
    b = (
        oracle_backfill(oracle_turn_features(tiny_pdf), queries_pdf)
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
