"""Lineage manifest + resume idempotence (SURVEY.md §5: resume tests)."""

from __future__ import annotations

import numpy as np
import pytest

from tgist_features_spark.plans.backfill import FEATURE_COLS
from tgist_features_spark.plans.lineage import (
    done_buckets,
    read_features,
    run_incremental,
)
from tgist_features_spark.sources.corpus import transcripts_df
from tgist_features_spark.sources.table_io import TableIO


@pytest.fixture()
def io(spark, tmp_path):
    return TableIO(spark, str(tmp_path))


def _canon(pdf):
    return (
        pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )


def test_crash_resume_equals_single_run(spark, tiny_pdf, tmp_path, io):
    df = transcripts_df(spark, tiny_pdf)
    snap = "snap-a"

    # phase 1: "crash" after 3 buckets
    s1 = run_incremental(spark, io, df, snap, run_id="r1",
                         n_buckets=8, fail_after_buckets=3)
    assert len(s1["buckets_run"]) <= 3
    assert done_buckets(io, snap) == s1["buckets_run"]

    # phase 2: resume completes the rest
    s2 = run_incremental(spark, io, df, snap, run_id="r2", n_buckets=8)
    assert set(s1["buckets_run"]).isdisjoint(s2["buckets_run"])

    # single uninterrupted run in a fresh location
    io2 = TableIO(spark, str(tmp_path / "single"))
    run_incremental(spark, io2, df, snap, run_id="r0", n_buckets=8)

    a = _canon(read_features(io).toPandas())
    b = _canon(read_features(io2).toPandas())
    assert len(a) == len(b) == len(tiny_pdf)
    assert (a["text"].to_numpy() == b["text"].to_numpy()).all()
    for c in FEATURE_COLS:
        np.testing.assert_allclose(
            a[c].astype(float), b[c].astype(float), equal_nan=True, err_msg=c
        )


def test_rerun_is_noop(spark, tiny_pdf, io):
    df = transcripts_df(spark, tiny_pdf)
    run_incremental(spark, io, df, "snap-b", run_id="r1", n_buckets=4)
    before = read_features(io).count()
    s = run_incremental(spark, io, df, "snap-b", run_id="r2", n_buckets=4)
    assert s["buckets_run"] == [] and s["rows_out"] == 0
    assert read_features(io).count() == before


def test_new_snapshot_reprocesses(spark, tiny_pdf, io):
    df = transcripts_df(spark, tiny_pdf)
    run_incremental(spark, io, df, "snap-c", run_id="r1", n_buckets=4)
    s = run_incremental(spark, io, df, "snap-d", run_id="r2", n_buckets=4)
    assert len(s["buckets_run"]) == 4, "a new input snapshot redoes all buckets"


def test_manifest_contents(spark, tiny_pdf, io):
    df = transcripts_df(spark, tiny_pdf)
    run_incremental(spark, io, df, "snap-e", run_id="r1", n_buckets=4)
    m = spark.read.parquet(io.path("manifest")).toPandas()
    assert set(m.columns) == {
        "run_id", "snapshot_id", "bucket", "rows_in", "rows_out", "watermark_us"
    }
    assert m["rows_out"].sum() == len(tiny_pdf)
    assert (m["rows_in"] == m["rows_out"]).all(), "per-bucket rows_in"
    assert (m["watermark_us"] > 0).all()


def test_crash_without_manifest_row_is_overwritten(spark, tiny_pdf, io):
    """Features written but manifest row missing (crash between the two
    writes) -> rerun overwrites that bucket partition, no duplicates."""
    df = transcripts_df(spark, tiny_pdf)
    run_incremental(spark, io, df, "snap-f", run_id="r1", n_buckets=4)
    # simulate: drop manifest rows for bucket 0 (features remain on disk)
    m = spark.read.parquet(io.path("manifest")).filter("bucket <> 0")
    m.toPandas().to_parquet(io.path("manifest") + "/rewrite.parquet")
    import glob
    import os
    for f in glob.glob(io.path("manifest") + "/part-*.parquet"):
        os.remove(f)
    assert 0 not in done_buckets(io, "snap-f")
    run_incremental(spark, io, df, "snap-f", run_id="r2", n_buckets=4)
    total = read_features(io).count()
    assert total == len(tiny_pdf), "bucket rewrite must not duplicate rows"


def test_zero_row_buckets_get_manifest_rows(spark, tiny_pdf, io):
    """A pending bucket with no input rows must still record a manifest row
    (rows_out=0) — otherwise it is re-selected as pending on every resume
    forever and the 'rerun is noop' contract breaks."""
    df = transcripts_df(spark, tiny_pdf)
    n_buckets = 64  # far more buckets than conversations -> some are empty
    s1 = run_incremental(spark, io, df, "snap-z", run_id="r1", n_buckets=n_buckets)
    assert s1["buckets_run"] == list(range(n_buckets))
    assert done_buckets(io, "snap-z") == list(range(n_buckets))
    m = spark.read.parquet(io.path("manifest")).toPandas()
    assert len(m) == n_buckets
    empties = m[m["rows_out"] == 0]
    assert len(empties) > 0, "fixture should leave some buckets empty"
    assert (empties["rows_in"] == 0).all()
    assert empties["watermark_us"].isna().all()
    s2 = run_incremental(spark, io, df, "snap-z", run_id="r2", n_buckets=n_buckets)
    assert s2["buckets_run"] == [] and s2["rows_out"] == 0


def test_stale_partition_cleared_for_zero_input_bucket(spark, tiny_pdf, io):
    """Reusing a warehouse across snapshots: a bucket that had rows under
    snapshot A but zero input rows under snapshot B must not leak A's data
    into B's features or B's manifest stats."""
    from tgist_features_spark.plans.lineage import bucket_of
    from pyspark.sql import functions as F

    df = transcripts_df(spark, tiny_pdf)
    run_incremental(spark, io, df, "snap-s1", run_id="r1", n_buckets=4)
    feats_a = read_features(io)
    a_bucket3 = feats_a.filter(F.col("bucket") == 3).count()
    assert a_bucket3 > 0, "fixture should populate bucket 3 under snapshot A"

    # snapshot B: remove every conversation that hashes to bucket 3
    df_b = df.withColumn("b", bucket_of("conv_id", 4)).filter("b <> 3").drop("b")
    run_incremental(spark, io, df_b, "snap-s2", run_id="r2", n_buckets=4)
    assert read_features(io).filter(F.col("bucket") == 3).count() == 0, (
        "snapshot A's rows must not linger in B's bucket-3 partition"
    )
    m = spark.read.parquet(io.path("manifest")).toPandas()
    b3 = m[(m["snapshot_id"] == "snap-s2") & (m["bucket"] == 3)]
    assert len(b3) == 1 and int(b3["rows_out"].iloc[0]) == 0
    assert int(b3["rows_in"].iloc[0]) == 0


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


def test_job_budget_and_observed_figures_match_disk(spark, tiny_pdf, io):
    """crash -> resume -> rerun runs one manifest read, one feature write
    (range sampling + shuffle map + write) and one manifest append each;
    the manifest's observed figures equal a read-back of what is on disk."""
    from pyspark.sql import functions as F

    from tgist_features_spark.functions.timeu import us

    df = transcripts_df(spark, tiny_pdf)
    snap = "snap-jobs"
    budget = {"crash": (3, 4), "resume": (None, 5), "rerun": (None, 1)}
    for name, (fail, max_jobs) in budget.items():
        n_jobs = _jobs_in_group(
            spark, f"lineage-{name}",
            lambda: run_incremental(spark, io, df, snap, run_id=name,
                                    n_buckets=8, fail_after_buckets=fail),
        )
        assert n_jobs <= max_jobs, f"{name}: {n_jobs} jobs > {max_jobs}"

    m = spark.read.parquet(io.path("manifest")).toPandas()
    assert sorted(m["bucket"]) == list(range(8))
    disk = {
        r["bucket"]: (r["n"], r["wm"])
        for r in read_features(io)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.max(us("ts")).alias("wm"))
        .collect()
    }
    for r in m.itertuples():
        n, wm = disk.get(r.bucket, (0, None))
        assert (r.rows_in, r.rows_out) == (n, n), f"bucket {r.bucket}"
        if n:
            assert r.watermark_us == wm, f"bucket {r.bucket}"
        else:
            assert np.isnan(r.watermark_us), f"bucket {r.bucket}"
    assert m["rows_out"].sum() == len(tiny_pdf)


def test_session_overwrite_mode_untouched(spark, tiny_pdf, io):
    """The dynamic overwrite is a per-write option: a session set to static
    stays static, and no library code sets the session-wide mode."""
    import pathlib

    import tgist_features_spark

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        df = transcripts_df(spark, tiny_pdf)
        run_incremental(spark, io, df, "snap-conf", run_id="r1",
                        n_buckets=4, fail_after_buckets=2)
        run_incremental(spark, io, df, "snap-conf", run_id="r2", n_buckets=4)
        assert spark.conf.get(key).lower() == "static"
        # the resume kept the crash run's buckets: the overwrite was dynamic
        assert read_features(io).count() == len(tiny_pdf)
    finally:
        spark.conf.unset(key)
    pkg = pathlib.Path(tgist_features_spark.__file__).parent
    setters = [
        f"{p}:{i}"
        for p in pkg.rglob("*.py")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if f'conf.set("{key}"' in line
    ]
    assert setters == []


def test_manifest_layout(spark, tiny_pdf, io):
    """One part file per append; a zero-row bucket's null watermark
    round-trips; done_buckets returns only the asked snapshot's buckets,
    sorted and unique."""
    import glob
    import shutil

    import pyarrow.parquet as pq

    df = transcripts_df(spark, tiny_pdf)

    def parts():
        return sorted(glob.glob(io.path("manifest") + "/part-*.parquet"))

    n_buckets = 64  # far more buckets than conversations -> some are empty
    run_incremental(spark, io, df, "snap-x", run_id="r1",
                    n_buckets=n_buckets, fail_after_buckets=40)
    assert len(parts()) == 1
    run_incremental(spark, io, df, "snap-x", run_id="r2", n_buckets=n_buckets)
    assert len(parts()) == 2
    run_incremental(spark, io, df, "snap-x", run_id="r3", n_buckets=n_buckets)
    assert len(parts()) == 2, "a no-op rerun appends nothing"

    t = pq.read_table(parts())
    assert t.schema.field("watermark_us").type == "int64"
    m = t.to_pandas()
    empties = m[m["rows_out"] == 0]
    assert len(empties) > 0, "fixture should leave some buckets empty"
    assert empties["watermark_us"].isna().all()
    assert m.loc[m["rows_out"] > 0, "watermark_us"].notna().all()

    run_incremental(spark, io, df, "snap-y", run_id="r4",
                    n_buckets=4, fail_after_buckets=2)
    # overlapping runs can record a bucket twice: dedupe on read
    shutil.copy(parts()[0], io.path("manifest") + "/part-dup.parquet")
    assert done_buckets(io, "snap-x") == list(range(n_buckets))
    assert done_buckets(io, "snap-y") == [0, 1]
    assert done_buckets(io, "snap-none") == []
