#!/usr/bin/env python3
"""Seeded, cached input generation for the benchmark.

Runs in its own process, before the measured Spark session starts:

    python3 perfbench/gen.py --workload backfill --seed 7 [--smoke]

prints the directory holding the inputs. The cache key covers every
generator parameter (workload sizes, seed, smoke mode) and the source of
every module that shapes the inputs, so a changed generator never reuses a
stale corpus. Generation writes into a temporary directory that is renamed
into place only when complete: a killed generation leaves nothing the
runner treats as a finished corpus.

Everything is written with pyarrow (no JVM here). Timestamps are stored as
UTC-adjusted microseconds, which Spark reads as its session-zone
``timestamp`` type, the transcript schema's type.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench", "data")

# Workload sizes. Turn totals are exact: the number of conversations is
# chosen per seed from the seeded Zipf(1.5) length draw and the last one is
# cut short, so every seed measures the same amount of work.
SIZES = {
    "backfill": {"turns": 80_000, "probes": 10_000, "sample_convs": 40},
    "materialize": {"turns": 75_000, "n_buckets": 16, "crash_after": 6},
}
SMOKE_SIZES = {
    "backfill": {"turns": 3_000, "probes": 600, "sample_convs": 8},
    "materialize": {"turns": 3_000, "n_buckets": 16, "crash_after": 6},
}
N_FILES = 8  # input files, so the scan splits across the local[4] cores

# modules whose code decides what the generated inputs contain
_SOURCES = (
    "perfbench/gen.py",
    "tgist_features_spark/sources/corpus.py",
    "tgist_features_spark/oracle/pandas_oracle.py",
    "tgist_features_spark/plans/backfill.py",
)


def sizes(workload: str, smoke: bool) -> dict:
    return dict((SMOKE_SIZES if smoke else SIZES)[workload])


def cache_dir(workload: str, seed: int, smoke: bool) -> str:
    h = hashlib.sha256()
    h.update(json.dumps({"workload": workload, "seed": seed, "smoke": smoke,
                         "sizes": sizes(workload, smoke), "files": N_FILES},
                        sort_keys=True).encode())
    for rel in _SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    tag = "smoke-" if smoke else ""
    return os.path.join(CACHE, f"{tag}{workload}-{seed}-{h.hexdigest()[:16]}")


def _n_convs_for(turns: int, seed: int) -> int:
    """Smallest conversation count whose seeded lengths reach ``turns``.

    ``generate_transcripts_pdf`` draws all lengths first from
    ``default_rng(seed)``; a prefix of a longer draw equals a shorter draw.
    """
    import numpy as np

    lens = np.clip(np.random.default_rng(seed).zipf(1.5, size=4 * turns), 2, 5000)
    return int(np.searchsorted(np.cumsum(lens), turns)) + 1


def _transcripts(turns: int, seed: int):
    """Exactly ``turns`` turns: the generator's conversation-ordered rows
    up to that count (cutting the last conversation short), then shuffled
    with a seeded permutation."""
    import numpy as np

    from tgist_features_spark.sources.corpus import generate_transcripts_pdf

    pdf = generate_transcripts_pdf(n_convs=_n_convs_for(turns, seed), seed=seed,
                                   shuffled=False).iloc[:turns]
    perm = np.random.default_rng(seed + 2000).permutation(turns)
    return pdf.iloc[perm].reset_index(drop=True)


def _sample_convs(transcripts, k: int, seed: int) -> list[str]:
    """Fixed seeded sample of conversations, always including the hottest."""
    import numpy as np

    counts = transcripts["conv_id"].value_counts()
    hottest = str(counts.index[0])
    rest = sorted(set(counts.index) - {hottest})
    rng = np.random.default_rng(seed + 1000)
    pick = rng.choice(len(rest), size=min(k, len(rest)), replace=False)
    return sorted([hottest] + [rest[i] for i in pick])


def _arrow_table(pdf):
    import numpy as np
    import pyarrow as pa

    cols = {}
    for c in pdf.columns:
        s = pdf[c]
        if str(s.dtype).startswith("datetime64"):
            cols[c] = pa.array(s.to_numpy("datetime64[us]"), pa.timestamp("us", tz="UTC"))
        elif c == "feature_vec":
            # the engine's feature_vec is array<double> with null elements
            # where a feature is undefined (the oracle's NaN)
            vals = np.stack(s.to_numpy()).astype(np.float64)
            flat = pa.array(vals.ravel(), mask=np.isnan(vals.ravel()))
            cols[c] = pa.FixedSizeListArray.from_arrays(flat, vals.shape[1]).cast(
                pa.list_(pa.float64()))
        else:
            cols[c] = pa.array(s.to_numpy(), from_pandas=True)
    return pa.table(cols)


def _write(pdf, path: str, n_files: int) -> int:
    import numpy as np
    import pyarrow.parquet as pq

    os.makedirs(path)
    total = 0
    for i, idx in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(_arrow_table(pdf.iloc[idx]), f)
        total += os.path.getsize(f)
    return total


def _expected(features, probes, convs):
    """Oracle backfill on the sampled conversations, keyed by query_id."""
    from tgist_features_spark.oracle.pandas_oracle import oracle_backfill

    f = features[features["conv_id"].isin(convs)]
    q = probes[probes["conv_id"].isin(convs)]
    out = oracle_backfill(f, q)
    return out[["query_id", "conv_id", "query_ts", "ts", "turn_idx", "feature_vec"]]


def generate(workload: str, seed: int, smoke: bool, out: str) -> dict:
    from tgist_features_spark.oracle.pandas_oracle import oracle_turn_features
    from tgist_features_spark.sources.corpus import generate_queries_pdf

    sz = sizes(workload, smoke)
    meta = {"workload": workload, "seed": seed, "smoke": smoke, **sz}
    transcripts = _transcripts(sz["turns"], seed)
    meta["n_turns"] = int(len(transcripts))
    meta["hottest_turns"] = int(transcripts["conv_id"].value_counts().iloc[0])
    meta["input_bytes"] = _write(transcripts, os.path.join(out, "transcripts"), N_FILES)
    if workload == "materialize":
        return meta

    probes = generate_queries_pdf(transcripts, n_queries=sz["probes"], seed=seed + 1)
    meta["n_probes"] = int(len(probes))
    convs = _sample_convs(transcripts, sz["sample_convs"], seed)
    features = oracle_turn_features(transcripts[transcripts["conv_id"].isin(convs)])
    _write(probes, os.path.join(out, "probes"), 2)
    _expected(features, probes, convs).to_pickle(os.path.join(out, "expected.pkl"))
    meta["sample_conv_ids"] = convs
    return meta


def ensure(workload: str, seed: int, smoke: bool) -> str:
    """Return the cached input directory, generating it if absent."""
    final = cache_dir(workload, seed, smoke)
    if os.path.isdir(final):
        return final
    os.makedirs(CACHE, exist_ok=True)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        meta = generate(workload, seed, smoke, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    print(ensure(args.workload, args.seed, args.smoke))


if __name__ == "__main__":
    main()
