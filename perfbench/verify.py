"""Output checks run after every benchmark pass (outside the timed region).

Each check returns a list of problems; an empty list means the pass's
output is correct. The checks are plain pandas over the pass's output so
the benchmark's own tests can feed them a deliberately corrupted frame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ATOL = 1e-9
RTOL = 1e-9


def naive_utc(s: pd.Series) -> pd.Series:
    """Timestamps as naive UTC datetime64[us] (parquet reads tz-aware)."""
    s = pd.to_datetime(s)
    if s.dt.tz is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]")


def _vec(v) -> np.ndarray | None:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    return np.array([np.nan if x is None else x for x in v], dtype=np.float64)


def check_backfill(out: pd.DataFrame, probes: pd.DataFrame, known_convs: set[str],
                   expected: pd.DataFrame) -> list[str]:
    """Point-in-time output against its probes and the oracle sample.

    * one output row per probe (same query_ids);
    * zero leakage: every matched row has ts <= query_ts;
    * probes of conversations absent from the feature side match nothing;
    * on the oracle's sampled conversations, the matched (ts, turn_idx)
      are identical and the feature vectors allclose.
    """
    problems = []
    if len(out) != len(probes):
        problems.append(f"rows: {len(out)} output rows for {len(probes)} probes")
    if set(out["query_id"]) != set(probes["query_id"]):
        problems.append("query_id: output ids differ from the probe ids")
    ts, qts = naive_utc(out["ts"]), naive_utc(out["query_ts"])
    leaked = int((ts.notna() & (ts > qts)).sum())
    if leaked:
        problems.append(f"leakage: {leaked} rows matched a turn after query_ts")
    unseen = ~out["conv_id"].isin(known_convs)
    bad_unseen = int((unseen & (ts.notna() | out["feature_vec"].notna())).sum())
    if bad_unseen:
        problems.append(f"unseen: {bad_unseen} probes of unknown conversations matched")
    problems += _match_sample(out, expected)
    return problems


def _match_sample(out: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    got = out[out["query_id"].isin(expected["query_id"])].set_index("query_id")
    exp = expected.set_index("query_id")
    if len(got) != len(exp):
        return [f"sample: {len(got)} of {len(exp)} sampled probes in the output"]
    got = got.loc[exp.index]
    problems = []
    g_ts, e_ts = naive_utc(got["ts"]), naive_utc(exp["ts"])
    ts_bad = int((g_ts.isna() != e_ts.isna()).sum() + ((g_ts != e_ts) & e_ts.notna()).sum())
    if ts_bad:
        problems.append(f"sample: {ts_bad} probes matched a different turn time")
    g_ti = pd.to_numeric(got["turn_idx"]).astype("float64")
    e_ti = pd.to_numeric(exp["turn_idx"]).astype("float64")
    ti_bad = int((~((g_ti == e_ti) | (g_ti.isna() & e_ti.isna()))).sum())
    if ti_bad:
        problems.append(f"sample: {ti_bad} probes matched a different turn")
    vec_bad = 0
    for g, e in zip(got["feature_vec"], exp["feature_vec"]):
        gv, ev = _vec(g), _vec(e)
        if gv is None or ev is None:
            vec_bad += (gv is None) != (ev is None)
        elif gv.shape != ev.shape or not np.allclose(gv, ev, rtol=RTOL, atol=ATOL,
                                                     equal_nan=True):
            vec_bad += 1
    if vec_bad:
        problems.append(f"sample: {vec_bad} feature vectors differ from the oracle")
    return problems


def check_materialize(runs: list[dict], manifest: pd.DataFrame, n_turns: int,
                      n_buckets: int, snapshot_id: str) -> list[str]:
    """Crash, resume and rerun of run_incremental into one warehouse.

    * the crash and the resume together wrote every input turn once;
    * the manifest lists each bucket exactly once for the snapshot;
    * the same-snapshot rerun ran no bucket.
    """
    crash, resume, rerun = runs
    problems = []
    rows = crash["rows_out"] + resume["rows_out"]
    if rows != n_turns:
        problems.append(f"rows_out: {rows} written for {n_turns} input turns")
    if set(crash["buckets_run"]) & set(resume["buckets_run"]):
        problems.append("resume: re-ran buckets the crashed run had committed")
    m = manifest[manifest["snapshot_id"] == snapshot_id]
    counts = m["bucket"].value_counts()
    if sorted(counts.index) != list(range(n_buckets)) or (counts != 1).any():
        problems.append("manifest: buckets not listed exactly once for the snapshot")
    if int(m["rows_out"].sum()) != n_turns:
        problems.append("manifest: rows_out does not sum to the input turns")
    if rerun["buckets_run"]:
        problems.append(f"rerun: ran buckets {rerun['buckets_run']}, expected none")
    return problems
