"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q            # verifier + smoke runs (~4 min)
    python3 -m pytest perfbench -q -k verify  # verifier only, no Spark

The verifier tests build a correct output with the pandas oracle and show
that each check rejects a deliberately corrupted copy. The smoke tests run
every workload on tiny inputs and require every metric BENCHMARK.json names
to be printed with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, verify  # noqa: E402
from tgist_features_spark.oracle.pandas_oracle import (  # noqa: E402
    oracle_backfill,
    oracle_turn_features,
)
from tgist_features_spark.sources.corpus import (  # noqa: E402
    generate_queries_pdf,
    generate_transcripts_pdf,
)


@pytest.fixture(scope="module")
def backfill_case():
    transcripts = generate_transcripts_pdf(n_convs=40, seed=5)
    probes = generate_queries_pdf(transcripts, n_queries=300, seed=6)
    features = oracle_turn_features(transcripts)
    convs = gen._sample_convs(transcripts, 10, seed=5)
    expected = gen._expected(features, probes, convs)
    out = oracle_backfill(features, probes)[list(expected.columns)]
    return out, probes, set(transcripts["conv_id"]), expected


def test_verify_accepts_oracle_output(backfill_case):
    out, probes, known, expected = backfill_case
    assert verify.check_backfill(out, probes, known, expected) == []


def _corrupt(out: pd.DataFrame, expected: pd.DataFrame, how: str) -> pd.DataFrame:
    bad = out.copy()
    sampled = bad["query_id"].isin(expected["query_id"]) & bad["ts"].notna()
    i = bad.index[sampled][0]
    if how == "leak":
        bad.loc[i, "ts"] = bad.loc[i, "query_ts"] + pd.Timedelta(seconds=1)
    elif how == "vector":
        v = np.array(bad.at[i, "feature_vec"], dtype=np.float64)
        v[1] += 1.0
        bad.at[i, "feature_vec"] = v
    elif how == "drop":
        bad = bad.drop(index=i)
    elif how == "unseen":
        j = bad.index[~bad["conv_id"].str.startswith("c")][0]
        bad.loc[j, "ts"] = bad.loc[i, "ts"]
    return bad


@pytest.mark.parametrize("how,needle", [
    ("leak", "leakage"), ("vector", "feature vectors"), ("drop", "rows"),
    ("unseen", "unseen"),
])
def test_verify_rejects_corrupted_output(backfill_case, how, needle):
    out, probes, known, expected = backfill_case
    bad = _corrupt(out, expected, how)
    problems = verify.check_backfill(bad, probes, known, expected)
    assert any(needle in p for p in problems), problems


def test_verify_materialize_rejects_bad_rerun():
    manifest = pd.DataFrame({"snapshot_id": "s", "bucket": range(4), "rows_out": 5})
    crash = {"buckets_run": [0, 1], "rows_out": 10}
    resume = {"buckets_run": [2, 3], "rows_out": 10}
    ok = [crash, resume, {"buckets_run": [], "rows_out": 0}]
    assert verify.check_materialize(ok, manifest, 20, 4, "s") == []
    rerun = [crash, resume, {"buckets_run": [1], "rows_out": 5}]
    assert any("rerun" in p for p in verify.check_materialize(rerun, manifest, 20, 4, "s"))
    dup = pd.concat([manifest, manifest.iloc[:1]])
    assert any("manifest" in p for p in verify.check_materialize(ok, dup, 20, 4, "s"))


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["backfill", "materialize"])
def test_smoke_prints_every_metric(workload, trace):
    spec = _bench_json()
    assert workload in {w["name"] for w in spec["workloads"]}
    cmd = [*spec["command"], "--workload", workload, "--seed", "11", "--seconds", "1",
           "--trace", str(trace), "--smoke"]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    result = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float))
