"""Local replica of the driver's verification: run every queries() entry at
sf0.01 (sf0.001 for the heavy pairwise ones) and diff against oracle_sql()
via DuckDB — row count, column names, and order-insensitive value compare
(floats with tolerance). Catches contract drift before the real driver runs.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            ok = np.isclose(av, bv, rtol=1e-9, atol=1e-9, equal_nan=True)
            assert ok.all(), f"{name}.{c}: {int((~ok).sum())} value mismatches, e.g. {av[~ok][:3]} vs {bv[~ok][:3]}"
        else:
            ok = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
            assert ok.all(), f"{name}.{c}: {int((~ok).sum())} mismatches, e.g. {a[c][~ok][:3].tolist()} vs {b[c][~ok][:3].tolist()}"


_ALL = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", _ALL)
def test_query_vs_oracle(spark, ducks, name):
    q = entry_mod.queries()[name]
    oracles = entry_mod.oracle_sql()
    got = q(spark, SF_DIR).toPandas()
    if name not in oracles:
        # rows-only contract: every oracle-less query is known non-empty
        # at sf0.01 — an empty result means the operator silently broke
        assert len(got) > 0, f"{name}: rows-only query returned no rows"
        return
    ref = ducks.sql(oracles[name]).df()
    _compare(got, ref, name)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_driver_window_composition():
    """The driver checks the FIRST 50 registry keys. Late-round-6
    rotation policy (jobs/rotation_plan.py): (1) every key with NO
    driver row yet — all 37 round-6 additions; (2) every key whose
    backing FUNCTION changed after the r05 driver run (ADVICE
    floor-div/validation fixes, components cost cut, cluster_sizes
    cap, multimodal_bytes dispatch); (3) six session-4 keys — never-
    checked first outranks refreshing r04-green untouched keys.
    Guards against accidental reordering."""
    ks = list(entry_mod.queries())
    window = set(ks[:50])
    must_be_checked = {
        # round-6 keys needing FIRST-TIME driver evidence
        "transitions", "rolling_distinct", "group_trend", "overlap_join",
        "funnel_chain", "token_bigrams", "cooccurrence", "group_cdf",
        "equidepth_bins", "conversion_latency", "rolling_outliers",
        "population_drift", "interval_islands", "vocab_edit1",
        "cohort_retention", "stratified_kfold", "level_shift",
        "gap_histogram", "scd2_intervals", "transition_latency",
        "winsorize", "char_pairs", "weighted_median", "heavy_hitters",
        "time_weighted_avg", "behavior_fp", "moments", "triangles",
        "zorder", "tf_cosine", "ohlc", "rank_fusion", "snapshot_diff",
        "dq_report", "bpe_merges", "ks_drift", "spearman",
        # backing functions changed after the r05 driver run
        "group_norm", "centroids", "cross_dedup", "budget_sample",
        "dup_clusters", "cluster_sizes", "multimodal_bytes",
        # session-4 never-checked keys (same policy: first-time
        # evidence outranks refreshing r04-green untouched keys)
        "pagerank3", "ewma", "rfm", "auc", "loo_encode", "bpe_encode",
    }
    missing = must_be_checked - window
    assert not missing, f"driver window lost round-6 evidence for: {missing}"
    assert len(ks) == len(set(ks)) == 135
    assert set(entry_mod.oracle_sql()) == set(ks)
