"""jobs/incremental_features.py end to end: crash, resume, rerun, each as
its own process on one warehouse."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tgist_features_spark.sources.corpus import transcripts_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "jobs", "incremental_features.py")


def _run(inp: str, wh: str, *extra: str) -> dict:
    env = {**os.environ, "PYTHONPATH": REPO}
    p = subprocess.run(
        [sys.executable, JOB, "--input", inp, "--warehouse", wh,
         "--n-buckets", "8", "--master", "local[2]", *extra],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_cli_crash_resume_rerun(spark, tiny_pdf, tmp_path):
    inp = str(tmp_path / "transcripts")
    transcripts_df(spark, tiny_pdf).write.parquet(inp)
    wh = str(tmp_path / "wh")

    crash = _run(inp, wh, "--fail-after", "2", "--run-id", "crash")
    resume = _run(inp, wh, "--run-id", "resume")
    rerun = _run(inp, wh, "--run-id", "rerun")

    assert len(crash["buckets_run"]) == 2
    assert set(crash["buckets_run"]).isdisjoint(resume["buckets_run"])
    assert sorted(crash["buckets_run"] + resume["buckets_run"]) == list(range(8))
    assert crash["rows_out"] + resume["rows_out"] == len(tiny_pdf)
    assert rerun["buckets_run"] == [] and rerun["rows_out"] == 0
    assert crash["snapshot_id"] == resume["snapshot_id"] == rerun["snapshot_id"]
