"""Deterministic synthetic transcript corpus (FIXTURES.md §A).

The reference consumed real patent corpora from disk; this engine's input is
an Iceberg-style table of multi-turn agent transcripts with the exact shape
mandated by BASELINE.json:15:

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp[us]

Everything below is seeded ``numpy.random.default_rng`` — no wall clock, no
external data — so the pandas oracle and the Spark engine see byte-identical
inputs and "per-turn text equality under stable (conv_id, turn_idx) ordering"
is checkable exactly.

Skew is built in: per-conversation turn counts are Zipf(a=1.5) clipped to
[2, 5000], so a few conversations are hot — the as-of's time slicing of hot
conversations and the AQE skew configs have something real to chew on even
at small scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

QUERIES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("query_ts", T.TimestampType(), False),
        T.StructField("query_id", T.LongType(), False),
    ]
)

_VOCAB = np.array(
    [f"w{i:03d}" for i in range(180)]
    + ["spark", "table", "join", "merge", "window", "filter", "scan", "sort",
       "agg", "batch", "stream", "query", "row", "column", "vector", "hash",
       "key", "value", "order", "group"],
    dtype=object,
)
_TOOLS = np.array([f"tool_{n}" for n in
                   ["search", "code", "browse", "sql", "math", "file", "shell",
                    "fetch", "plot", "test", "diff", "lint"]], dtype=object)

_EPOCH_START = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
_EPOCH_END = np.datetime64("2024-03-31T00:00:00", "us").astype(np.int64)

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — stable per-(conv, turn) hash for text gen."""
    x = (x + _MIX).astype(np.uint64)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    return (x ^ (x >> np.uint64(31))).astype(np.uint64)


def generate_transcripts_pdf(
    n_convs: int = 2000,
    seed: int = 42,
    mean_gap_s: float = 3.0,
    session_gap_p: float = 0.08,
    dup_ts_p: float = 0.01,
    shuffled: bool = True,
) -> pd.DataFrame:
    """Generate the transcript corpus as a pandas DataFrame (FIXTURES.md A1)."""
    rng = np.random.default_rng(seed)

    lens = np.clip(rng.zipf(1.5, size=n_convs), 2, 5000).astype(np.int64)
    total = int(lens.sum())
    conv_num = np.repeat(np.arange(n_convs, dtype=np.int64), lens)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    turn_idx = (np.arange(total, dtype=np.int64) - np.repeat(starts, lens)).astype(np.int32)

    # roles: turn 0 is system; afterwards user/assistant alternate with a
    # 15% chance that the slot after an assistant turn is a tool turn.
    role = np.where(turn_idx % 2 == 1, "user", "assistant").astype(object)
    role[turn_idx == 0] = "system"
    after_assistant = (turn_idx >= 2) & (turn_idx % 2 == 1)
    tool_mask = after_assistant & (rng.random(total) < 0.15)
    role[tool_mask] = "tool"

    tool = np.full(total, None, dtype=object)
    tool_weights = 1.0 / np.arange(1, len(_TOOLS) + 1) ** 1.2
    tool_weights /= tool_weights.sum()
    tool[tool_mask] = rng.choice(_TOOLS, size=int(tool_mask.sum()), p=tool_weights)

    # text: deterministic per (conv, turn) via splitmix64 so equality under
    # stable (conv_id, turn_idx) ordering is byte-checkable from the key alone
    key = (conv_num.astype(np.uint64) * np.uint64(1_000_003)
           + turn_idx.astype(np.uint64))
    h0 = _splitmix64(key)
    n_tok = (3 + (h0 % np.uint64(38))).astype(np.int64)
    max_tok = int(n_tok.max())
    cols = []
    hj = h0
    for j in range(max_tok):
        hj = _splitmix64(hj + np.uint64(j + 1))
        cols.append(hj % np.uint64(len(_VOCAB)))
    tok_idx = np.stack(cols, axis=1)  # (total, max_tok)
    words = _VOCAB[tok_idx]
    mask = np.arange(max_tok)[None, :] < n_tok[:, None]
    text = np.array(
        [" ".join(row[:k]) for row, k in zip(words, n_tok)], dtype=object
    )
    del words, mask, tok_idx

    # timestamps: conv start uniform over Q1-2024; lognormal inter-turn gaps;
    # 8% of gaps pushed past the 30-min session threshold; ~1% zero gaps to
    # force the turn_idx tiebreak.
    conv_start = rng.integers(_EPOCH_START, _EPOCH_END, size=n_convs)
    gap_us = (rng.lognormal(np.log(mean_gap_s), 1.0, size=total) * 1e6)
    boundary = rng.random(total) < session_gap_p
    gap_us = np.where(boundary, gap_us + 1800e6 + rng.exponential(600e6, size=total), gap_us)
    dup = rng.random(total) < dup_ts_p
    gap_us = np.where(dup, 0.0, gap_us)
    gap_us = gap_us.astype(np.int64)
    gap_us[turn_idx == 0] = 0
    # per-conv cumulative sum without a Python loop: global cumsum minus the
    # carried-over total at each conv start
    g = np.cumsum(gap_us)
    carry = np.repeat(g[starts] - gap_us[starts], lens)
    ts_us = np.repeat(conv_start, lens) + (g - carry)

    pdf = pd.DataFrame(
        {
            "conv_id": np.char.add("c", np.char.zfill(conv_num.astype(str), 8)).astype(object),
            "turn_idx": turn_idx,
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts_us.astype("datetime64[us]"),
        }
    )
    if shuffled:
        pdf = pdf.iloc[rng.permutation(total)].reset_index(drop=True)
    return pdf


def generate_queries_pdf(
    transcripts: pd.DataFrame, n_queries: int = 500, seed: int = 43
) -> pd.DataFrame:
    """As-of probe side (FIXTURES.md A2): 90% real conv_ids at exact/±ε/out-of
    -range timestamps, 10% unseen conv_ids (must yield null matches)."""
    rng = np.random.default_rng(seed)
    ts_by_conv = transcripts.groupby("conv_id")["ts"]
    lo, hi = ts_by_conv.min(), ts_by_conv.max()

    n_real = int(n_queries * 0.9)
    rows = []
    # probes pair a sampled TURN's own (conv_id, ts) so mode 0 really is an
    # exact timestamp hit within that conversation — this is what exercises
    # the <= vs < inclusivity boundary of the as-of join
    sampled = transcripts.sample(n=n_real, replace=True, random_state=int(rng.integers(2**31)))
    eps = pd.Timedelta(microseconds=1)
    for i, (cid, base) in enumerate(
        zip(sampled["conv_id"].to_numpy(), sampled["ts"].to_numpy())
    ):
        base = pd.Timestamp(base)
        mode = i % 5
        if mode == 0:
            qts = base                      # exact hit: tests <= inclusivity
        elif mode == 1:
            qts = base + eps
        elif mode == 2:
            qts = base - eps
        elif mode == 3:
            qts = lo[cid] - pd.Timedelta(hours=1)   # before conv start -> null
        else:
            qts = hi[cid] + pd.Timedelta(hours=1)   # after conv end
        rows.append((cid, qts))
    for j in range(n_queries - n_real):
        rows.append((f"x{j:08d}", pd.Timestamp("2024-02-01") + pd.Timedelta(seconds=j)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "query_ts"])
    pdf["query_ts"] = pdf["query_ts"].astype("datetime64[us]")
    pdf["query_id"] = np.arange(len(pdf), dtype=np.int64)
    return pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)


def transcripts_df(spark: SparkSession, pdf: pd.DataFrame | None = None, **kw) -> DataFrame:
    if pdf is None:
        pdf = generate_transcripts_pdf(**kw)
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


def queries_df(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(pdf, schema=QUERIES_SCHEMA)
