"""Golden end-to-end: Spark pipeline vs the pure pandas oracle (north_rule:
allclose per entity x timestamp + per-turn text equality under stable
(conv_id, turn_idx) ordering)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tgist_features_spark.oracle.pandas_oracle import oracle_turn_features
from tgist_features_spark.plans.backfill import FEATURE_COLS, turn_features
from tgist_features_spark.sources.corpus import transcripts_df


@pytest.fixture(scope="module")
def engine_vs_oracle(spark, small_pdf):
    feats = turn_features(transcripts_df(spark, small_pdf))
    out = (
        feats.toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    ref = oracle_turn_features(small_pdf)
    return out, ref


def test_row_parity(engine_vs_oracle):
    out, ref = engine_vs_oracle
    assert len(out) == len(ref)


def test_per_turn_text_equality(engine_vs_oracle):
    """The per-row invariant vs the reference (BASELINE.json:15)."""
    out, ref = engine_vs_oracle
    assert (out["conv_id"].to_numpy() == ref["conv_id"].to_numpy()).all()
    assert (out["turn_idx"].to_numpy() == ref["turn_idx"].to_numpy()).all()
    assert (out["text"].to_numpy() == ref["text"].to_numpy()).all()


@pytest.mark.parametrize("col", FEATURE_COLS)
def test_feature_allclose(engine_vs_oracle, col):
    out, ref = engine_vs_oracle
    np.testing.assert_allclose(
        out[col].astype("float64").to_numpy(),
        ref[col].astype("float64").to_numpy(),
        equal_nan=True,
        err_msg=col,
    )


def test_feature_vec_allclose(engine_vs_oracle):
    out, ref = engine_vs_oracle
    a = np.stack([np.asarray(v, dtype=float) for v in out["feature_vec"]])
    b = np.stack([np.asarray(v, dtype=float) for v in ref["feature_vec"]])
    np.testing.assert_allclose(a, b, equal_nan=True)


def test_categorical_features(engine_vs_oracle):
    out, ref = engine_vs_oracle
    for col in ["prev_role", "next_role", "last_tool"]:
        a, b = out[col], ref[col]
        assert ((a.isna() & b.isna()) | (a == b)).all(), col


def test_ngram_sig_exact(engine_vs_oracle):
    out, ref = engine_vs_oracle
    assert (out["ngram_sig"].to_numpy() == ref["ngram_sig"].to_numpy()).all()


@pytest.mark.parametrize("gap_s", [0.0, 60, 1800.0, float("inf")])
def test_gap_s_reaches_plan(spark, small_pdf, gap_s):
    """``gap_s`` (a float, an int or inf) sets the session boundaries
    exactly as the oracle's: every feature column matches."""
    out = (
        turn_features(transcripts_df(spark, small_pdf), gap_s=gap_s)
        .toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    ref = oracle_turn_features(small_pdf, gap_s=gap_s)
    for c in FEATURE_COLS:
        np.testing.assert_allclose(
            out[c].astype("float64").to_numpy(),
            ref[c].astype("float64").to_numpy(),
            equal_nan=True,
            err_msg=c,
        )


def test_gap_s_must_be_a_number(spark, tiny_pdf):
    """A ``gap_s`` that is not a number is refused when the plan is built."""
    with pytest.raises(ValueError):
        turn_features(transcripts_df(spark, tiny_pdf), gap_s="half an hour")


def test_gap_s_values_differ(small_pdf):
    """The data behind ``test_gap_s_reaches_plan`` tells its gap values
    apart: each gives a different number of sessions."""
    sessions = [
        oracle_turn_features(small_pdf, gap_s=g)["session_id"].sum()
        for g in (0.0, 60, 1800.0, float("inf"))
    ]
    assert len(set(sessions)) == 4, sessions


def test_parallelism_invariance(spark, tiny_pdf):
    """Same result regardless of partitioning (float-order discipline)."""
    df = transcripts_df(spark, tiny_pdf)
    a = (
        turn_features(df.repartition(1))
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    b = (
        turn_features(df.repartition(16))
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    for c in FEATURE_COLS:
        np.testing.assert_allclose(
            a[c].astype(float), b[c].astype(float), equal_nan=True, err_msg=c
        )
