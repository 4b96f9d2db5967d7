"""Deduplication operators for large-scale training-data pipelines.

All paths are shuffle-frugal by design for the 100 TB point:

* exact:     one hash aggregation on a 16-byte digest (no text shuffle —
             md5 computed JVM-side before the exchange, so only the digest
             and ids move).
* MinHash+LSH: signatures in ONE vectorized pandas UDF pass (segmented
             numpy reduceat over flattened token hashes — no per-doc Python
             objects); banding turns the quadratic all-pairs problem into a
             groupBy on (band, hash) whose buckets are tiny; candidate pairs
             emerge from a per-bucket self-join only. Degenerate buckets
             (empty/boilerplate texts sharing one signature) are CAPPED:
             every bucket keeps a deterministic ``max_bucket``-row subset
             (same ids across bands) before the self-join, bounding the
             worst-case pair output at C(max_bucket, 2) instead of a
             within-bucket cartesian product while still collapsing giant
             near-dup clusters among the kept subset.
* SimHash:   64-bit signature per doc; near-dup candidates via band-equality
             (4 x 16-bit chunks) — Hamming<=k candidates without any
             all-pairs step; same bucket cap.
* n-gram Jaccard: explode distinct n-grams -> DF-cap (drop grams whose
             document frequency exceeds ``max_df`` — stopword grams carry
             ~no Jaccard signal and make the self-join quadratic) ->
             self-equi-join on the n-gram -> count intersections. Join
             strategy for the per-doc count tables is left to AQE (they
             grow linearly with the corpus, so no forced broadcast).
"""

from __future__ import annotations

import hashlib
import logging

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from tgist_features_spark.functions.text import _tokens

logger = logging.getLogger(__name__)

# ------------------------------------------------------------------ exact


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the count of
    duplicates and the smallest id kept as canonical."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(id_col).alias("keep_id"),
        )
    )


# --------------------------------------------------------------- bucket cap


def cap_buckets(
    df: DataFrame, keys: list[str], max_bucket: int | None, id_col: str = "id"
) -> DataFrame:
    """Keep a deterministic ``max_bucket``-row subset of every LSH bucket.

    One window over the bucket keys (the rows were headed for a shuffle on
    the same keys anyway), ordered by ``xxhash64(id)`` so the SAME ids
    survive in every bucket/band: distinct pairs from a degenerate bucket
    are then bounded by C(max_bucket, 2) total — not per band — instead of
    a cartesian blow-up. Unlike dropping the whole bucket, a giant
    NEAR-duplicate cluster (templated docs, not byte-identical, so exact
    dedup can't touch it) still collapses among its kept subset; members
    outside the subset survive this pass (re-run after dropping, or raise
    the cap, for a full collapse — the conservative direction for dedup).

    Straggler bound: the cap limits the JOIN OUTPUT, not the window input —
    a degenerate bucket still routes all its rows through one partition's
    sort before the filter, so the worst single task is O(B log B) in the
    biggest bucket B (a sort, no pair blow-up). Accepted trade: a
    pre-filter on a per-bucket ``xxhash64(id)`` quantile would need an
    extra aggregation pass over the same shuffle to learn the thresholds,
    costing every healthy bucket a second exchange to shave one
    straggler's sort.
    """
    if max_bucket is None:
        return df
    w = Window.partitionBy(*keys).orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )


# ----------------------------------------------------------- MinHash + LSH

_M61 = np.uint64((1 << 61) - 1)
_MIXA = np.uint64(0x9E3779B97F4A7C15)


def _shingle_hashes(texts: pd.Series, shingle: int) -> tuple[np.ndarray, np.ndarray]:
    """Flatten a batch of texts into (shingle_hash_values, per_doc_counts).

    One Arrow split + one hash of the distinct tokens for the whole batch;
    word-k-shingle hashes come from a vectorized rolling mix over
    consecutive token hashes. Docs shorter than ``shingle`` tokens
    contribute one whole-doc shingle.
    MinHash is invariant to duplicate shingles (min over a multiset equals
    min over its set), so no per-doc dedup is needed.
    """
    n = len(texts)
    uniq, codes, row_id, lens = _tokens(pa.array(texts, type=pa.string()))
    h = pd.util.hash_array(uniq, categorize=False)[codes]
    k = shingle
    with np.errstate(over="ignore"):
        if len(h) >= k:
            wh = h[: len(h) - k + 1].copy()
            for j in range(1, k):
                wh = wh * _MIXA + h[j : len(h) - k + 1 + j]
            wrow = row_id[: len(h) - k + 1]
            valid = row_id[: len(h) - k + 1] == row_id[k - 1 :]
            wh, wrow = wh[valid], wrow[valid]
        else:
            wh = np.empty(0, dtype=np.uint64)
            wrow = np.empty(0, dtype=np.int64)

        counts = np.bincount(wrow, minlength=n).astype(np.int64)
        short = np.flatnonzero(counts == 0)  # docs with < k tokens (or empty)
        if len(short):
            # tiny per-doc fallback: whole-doc shingle (few rows, < k tokens each)
            starts = np.concatenate(([0], np.cumsum(lens)))
            extra = np.empty(len(short), dtype=np.uint64)
            empty_h = pd.util.hash_array(np.array([""], dtype=object)).astype(
                np.uint64
            )[0]
            for i, d in enumerate(short):
                seg = h[starts[d] : starts[d + 1]]
                if len(seg) == 0:
                    extra[i] = empty_h
                else:
                    v = seg[0]
                    for x in seg[1:]:
                        v = v * _MIXA + x
                    extra[i] = v
            wh = np.concatenate([wh, extra])
            wrow = np.concatenate([wrow, short.astype(np.int64)])
            order = np.argsort(wrow, kind="stable")
            wh, wrow = wh[order], wrow[order]
            counts = np.bincount(wrow, minlength=n).astype(np.int64)
    return wh, counts


def _minhash_batch(
    texts: pd.Series,
    n_hashes: int,
    shingle: int,
    seed: int,
    max_chunk_vals: int = 1 << 21,
) -> list:
    """MinHash signatures for one Arrow batch: (a*x + b) mod 2^61-1, min per
    doc via ``np.minimum.reduceat`` over the flattened shingle-hash array —
    no per-doc Python work. Chunked over docs so the (n_hashes x n_shingles)
    intermediate stays under ~``max_chunk_vals`` cells."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _M61, size=n_hashes, dtype=np.uint64)
    b = rng.integers(0, _M61, size=n_hashes, dtype=np.uint64)
    wh, counts = _shingle_hashes(texts, shingle)
    n = len(counts)
    starts = np.concatenate(([0], np.cumsum(counts)))
    out: list = [None] * n
    max_cols = max(1, max_chunk_vals // max(n_hashes, 1))
    d0 = 0
    with np.errstate(over="ignore"):
        while d0 < n:
            d1 = d0
            while d1 < n and starts[d1 + 1] - starts[d0] <= max_cols:
                d1 += 1
            d1 = max(d1, d0 + 1)  # always take >=1 doc even if oversized
            seg = wh[starts[d0] : starts[d1]] % _M61
            vals = (a[:, None] * seg[None, :] + b[:, None]) % _M61
            local = starts[d0:d1] - starts[d0]
            mins = np.minimum.reduceat(vals, local, axis=1)  # (n_hashes, docs)
            sig = mins.astype(np.int64).T
            for i in range(d1 - d0):
                out[d0 + i] = sig[i]
            d0 = d1
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    shingle: int = 3,
    seed: int = 42,
    parallelism: int | None = None,
) -> DataFrame:
    # NOTE: do NOT probe df.rdd.getNumPartitions() here to decide — under
    # AQE, Dataset.rdd resolves the final physical plan by EXECUTING every
    # upstream shuffle stage, and that work is not reused by the real job
    # (review finding: the probe double-computed shuffle-bearing inputs).
    # Callers that KNOW their input already fans out pass parallelism=None.
    if parallelism:
        # single-file sources otherwise feed the UDF one task
        df = df.repartition(parallelism)
    @pandas_udf(T.ArrayType(T.LongType()))
    def mh(texts: pd.Series) -> pd.Series:
        return pd.Series(_minhash_batch(texts, n_hashes, shingle, seed))

    return df.select(F.col(id_col).alias("id"), mh(F.col(text_col)).alias("sig"))


def _banded_numeric(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, band, bhash) — the exploded LSH band relation WITHOUT the
    signature payload: the band-equality shuffle moves three narrow
    columns; the band hash is numeric (xxhash64 over the band's signature
    elements), no array-slice/string casts in the wide projection.

    The band array is built with ONE ``transform`` lambda over the band
    indices, not ``bands`` unrolled xxhash64 nodes: a 64-wide CreateArray
    of hash expressions compiles to a Janino method wall (~3s of cold
    codegen measured at bands=64 — the F.lit(list) trap class, see
    BASELINE.md), while the loop form is a constant-size body. Hash
    VALUES are identical (same xxhash64 over the same ``rows`` elements;
    only the band index moved from Python unrolling into the lambda
    variable), so bucket assignment — and therefore candidate recall —
    is bit-for-bit unchanged (pinned by test)."""
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.xxhash64(*[
            F.element_at("sig", i * rows + j + 1) for j in range(rows)
        ]),
    )
    # posexplode_OUTER, not posexplode: InferFiltersFromGenerate would
    # otherwise push an inferred size(band_hashes) > 0 filter below the
    # projection and evaluate the whole band-hash array a SECOND time per
    # row (the measured gram-explode trap, BASELINE.md); outer generates
    # are exempt, and the array is never empty (bands >= 1), so the
    # null-row filter is a no-op that only exists to keep the schema
    # non-nullable.
    return (
        sigs.select("id", F.posexplode_outer(band_hashes).alias("band", "bhash"))
        .filter(F.col("band").isNotNull())
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 128,
    bands: int = 64,
    shingle: int = 3,
    seed: int = 42,
    min_est_jaccard: float = 0.5,
    max_bucket: int | None = 200,
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) with the MinHash-estimated
    Jaccard. Only same-bucket pairs are ever materialized, and buckets
    larger than ``max_bucket`` are capped to a deterministic subset
    (degenerate content — see module docstring); the over-cap bucket count
    is logged.

    Default banding 64 bands x 2 rows: candidate-recall threshold
    ~(1/64)^(1/2) = 0.125 Jaccard — generous recall, with precision
    restored by the ``min_est_jaccard`` filter on the full signature.

    The returned DataFrame is eagerly materialized and PERSISTED inside
    this call — it is small (candidate pairs only) — so the big signature
    cache can be released before returning. Long-lived sessions calling
    this repeatedly should ``unpersist()`` each result when done with it;
    an eager ``localCheckpoint`` would self-clean but measures ~3s slower
    per call (it bypasses AQE), the wrong trade for a bounded pair cache.
    """
    pairs, sigs, _banded_raw = _lsh_pairs_lazy(
        df, id_col, text_col, n_hashes, bands, shingle, seed,
        min_est_jaccard, max_bucket,
    )
    out = (
        pairs
        # persist + count (NOT localCheckpoint: measured ~3s slower here —
        # the RDD checkpoint path bypasses AQE's runtime re-planning):
        # materializes the small pair set while the signature cache is hot
        .persist()
    )
    n_pairs = out.count()
    if max_bucket is not None and logger.isEnabledFor(logging.INFO):
        dropped = (
            _banded_raw.groupBy("band", "bhash")
            .count()
            .filter(F.col("count") > max_bucket)
            .count()
        )
        if dropped:
            logger.info(
                "minhash_lsh_pairs: capped %d oversized buckets to %d rows "
                "each; %d candidate pairs kept", dropped, max_bucket, n_pairs,
            )
    sigs.unpersist()
    return out


def _lsh_pairs_lazy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    bands: int,
    shingle: int,
    seed: int,
    min_est_jaccard: float,
    max_bucket: int | None,
    input_fans_out: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The un-materialized core of ``minhash_lsh_pairs``: returns (lazy
    pairs, PERSISTED-but-unmaterialized signature cache, raw band
    relation). Callers that immediately reduce the pairs (the dedup
    pipeline's near-drop aggregation) fuse that reduction into the single
    job that materializes everything, instead of paying a separate
    persist+count barrier here — one fewer serial action in the stage
    chain. The caller OWNS ``sigs.unpersist()`` once its consumers have
    materialized."""
    rows = n_hashes // bands
    # input_fans_out: the caller guarantees the plan already ends in a
    # shuffle/aggregation wide enough to feed the UDF, so the repartition
    # exchange is skipped WITHOUT probing partition counts (a df.rdd
    # probe would execute upstream stages twice under AQE — see
    # minhash_signatures)
    par = None if input_fans_out else df.sparkSession.sparkContext.defaultParallelism
    sigs = minhash_signatures(
        df, id_col, text_col, n_hashes, shingle, seed, parallelism=par
    ).persist()
    # at the 100 TB point dragging the 128-long signature through 64
    # bands x 2 join sides would dominate the job — see _banded_numeric
    banded_raw = _banded_numeric(sigs, bands, rows)
    banded = cap_buckets(banded_raw, ["band", "bhash"], max_bucket)
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bhash") == F.col("r.bhash"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    # signatures join back once, onto the (small) deduped candidate set
    sa = sigs.select(F.col("id").alias("a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("b"), F.col("sig").alias("sig_b"))
    cand = cand.join(sa, "a").join(sb, "b")
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(n_hashes))
    out = (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("a", "b", "est_jaccard")
    )
    return out, sigs, banded_raw


# ------------------------------------------------------------------ SimHash


_MD5_TOKEN_CACHE: dict = {}
_MD5_CACHE_MAX = 1 << 20


def _md5_token_hashes(uniq: np.ndarray) -> np.ndarray:
    """64-bit token hashes: first 8 bytes (big-endian) of md5(utf-8).

    md5 — not pandas' siphash — so the signature is reproducible in ANY
    engine with an md5 builtin (the driver's DuckDB oracle recomputes it in
    SQL and verifies hamming pairs exhaustively). The loop is O(new unique
    tokens), memoized across batches per worker — not O(tokens), not
    O(docs); the per-bit work in ``_simhash_batch`` is the hot part and is
    fully vectorized.
    """
    if len(_MD5_TOKEN_CACHE) > _MD5_CACHE_MAX:
        _MD5_TOKEN_CACHE.clear()
    out = np.empty(len(uniq), dtype=np.uint64)
    for i, tok in enumerate(uniq):
        h = _MD5_TOKEN_CACHE.get(tok)
        if h is None:
            h = np.uint64(
                int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
            )
            _MD5_TOKEN_CACHE[tok] = h
        out[i] = h
    return out


def _simhash_batch(texts: pd.Series, chunk_tokens: int = 1 << 16) -> np.ndarray:
    """Vectorized SimHash for one Arrow batch: single-space tokens
    (``string_split(text, ' ')`` semantics, see ``_tokens``) ->
    memoized md5 hashes -> (tokens x 64) ±1 bit matrix -> per-doc segment
    sums via ``np.add.reduceat`` -> sign pack. No per-document Python loop;
    chunked over docs so the bit matrix stays ~``chunk_tokens`` x 64."""
    n = len(texts)
    uniq, codes, _, lens = _tokens(pa.array(texts, type=pa.string()), sep=" ")
    starts = np.concatenate(([0], np.cumsum(lens)))
    fh = _md5_token_hashes(uniq)[codes]
    shifts = np.arange(64, dtype=np.uint64)
    weights = np.uint64(1) << shifts
    sig = np.zeros(n, dtype=np.uint64)
    d0 = 0
    while d0 < n:
        d1 = d0
        while d1 < n and starts[d1 + 1] - starts[d0] <= chunk_tokens:
            d1 += 1
        d1 = max(d1, d0 + 1)  # always take >=1 doc even if oversized
        seg = fh[starts[d0] : starts[d1]]
        # every doc has >=1 token under single-space split, so the reduceat
        # boundaries are strictly increasing; int32 bounds per-doc sums at
        # 2^31 tokens, far above any chunk
        bits = ((seg[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
        acc = np.add.reduceat(bits * 2 - 1, (starts[d0:d1] - starts[d0]), axis=0)
        sig[d0:d1] = ((acc > 0).astype(np.uint64) * weights[None, :]).sum(axis=1)
        d0 = d1
    return sig.astype(np.int64)


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    parallelism: int | None = None,
) -> DataFrame:
    """64-bit SimHash per doc: sign of the per-bit ±1 sums over md5 token
    hashes. Tokens split on the literal single space (``string_split``
    semantics) and hashed with md5 so the signature is bit-for-bit
    reproducible outside Spark — the driver's DuckDB oracle recomputes it
    in SQL. Fully vectorized per Arrow batch (see ``_simhash_batch``).

    ``parallelism``: optional repartition before the signature UDF —
    single-file sources otherwise feed the whole corpus to ONE Python
    worker (the minhash_signatures discipline; signatures are per-row
    deterministic, so fan-out never changes values). Callers whose input
    already fans out pass None."""
    if parallelism:
        df = df.repartition(parallelism)

    @pandas_udf(T.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series(_simhash_batch(texts))

    # The UDF never returns null: a null text tokenizes as "" and gets the
    # signature of "". 0 is a legal SimHash, so the coalesce is no
    # out-of-domain sentinel; it exists only to make the column STATICALLY
    # non-nullable (Catalyst only sees the declared nullability). Without
    # it, every downstream equi-join key derived from the signature gets
    # an inferred isnotnull filter pushed BELOW the fan-out exchange,
    # re-evaluating the UDF once per row per side (guide §4.4); the
    # non-nullable output kills the inference at the source while keeping
    # the expression deterministic, so AQE's cross-side stage reuse stays
    # intact.
    return df.select(
        F.col(id_col).alias("id"),
        F.coalesce(sh(F.col(text_col)), F.lit(0)).alias("simhash"),
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = 256,
    parallelism: int | None = 0,
) -> DataFrame:
    """Near-dup candidates: docs whose 64-bit simhash agrees on >=1 of 4
    16-bit bands (pigeonhole: Hamming<=3 guarantees a matching band); exact
    Hamming filter applied on candidates only. Buckets over ``max_bucket``
    rows keep a deterministic subset before the self-join (see module
    docstring) — with the cap the Hamming<=3 guarantee holds for docs whose
    shared band-bucket is within the cap, and for the kept subset of
    degenerate buckets.

    ``parallelism``: fan-out for the signature UDF; the default sentinel 0
    resolves to the cluster's default parallelism (single-file sources
    otherwise run the whole signature pass on one Python worker); None
    skips the repartition for callers whose input already fans out.
    Worktree-A/B note (r07): the fan-out invites Catalyst's
    filter-pushdown UDF duplication below the new exchange (an inferred
    isnotnull(simhash) pre-filter re-evaluates the UDF). Marking the UDF
    nondeterministic suppresses the duplicate but breaks AQE's
    cross-side stage reuse (measured ~+1.5s on dup_clusters); the fix
    that dominates both is `simhash_signatures`' statically non-nullable
    output (identity coalesce), which stops the isnotnull inference at
    the source while keeping the expression deterministic — one
    signature pass per side, stage reuse intact (dedup_simhash steady
    2.1–5.1s → 1.3–1.6s under co-tenant load)."""
    if parallelism == 0:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
    sigs = simhash_signatures(df, id_col, text_col, parallelism=parallelism)
    bands = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned("simhash", 16 * i)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("bval"),
                )
                for i in range(4)
            ])
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.bval")
    bands = cap_buckets(bands, ["band", "bval"], max_bucket)
    l, r = bands.alias("l"), bands.alias("r")
    hamming = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    ).cast("int")
    # Hamming filter BEFORE the (a, b) distinct: the filter is a cheap
    # per-row bit op on columns already in the join output, and hamming is
    # a pure function of (a, b), so filter-then-distinct emits exactly the
    # distinct-then-filter pair set while shuffling only the surviving
    # candidates into the dedup exchange.
    return (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bval") == F.col("r.bval"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
    )


# ------------------------------------------------------- n-gram Jaccard


def _gram_expr(toks, n: int):
    """Word-n-gram array from a MATERIALIZED token-array column, built in
    ONE indexed transform: gram i = concat_ws(' ', toks[i..i+n-1]).

    The token column must come from its own projection (see ``_gram_array``)
    — inlining ``split(text)`` here would re-execute the split for every
    element of the transform (Catalyst does not CSE inside lambda bodies),
    turning an O(tokens) expression into O(tokens^2) per row. At sf0.1's
    ~54-token docs that's only ~12% of the decontamination wall (measured
    4.04s -> 3.60s steady), but the quadratic term dominates for the long
    documents a real 100 TB corpus contains.

    Replaces the earlier n-1 chained zip_with formulation: the chain is
    n-1 linear passes allocating progressively longer intermediate
    strings, the indexed form is one pass with n element_at reads per
    gram — measured parity at n=2..3 and ~1.6x faster at n=8 on the
    sf0.1 corpus, with identical output (incl. short docs -> [] and
    null token arrays -> null, pinned by the gram-edge tests)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + F.lit(j + 1)) for j in range(n)]
        ),
    )
    # size(null) is null under ANSI, so a null token array falls through
    # both whens -> null grams (the zip_with chain's semantics exactly)
    return F.when(F.size(toks) >= n, grams).when(
        toks.isNotNull(), F.array().cast("array<string>")
    )


def _gram_array_from_tokens(tok_col: str, n: int):
    """Distinct word-n-gram array (see ``_gram_expr`` for the build)."""
    return F.array_distinct(_gram_expr(F.col(tok_col), n))


def _with_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, grams) with the tokenize step in its OWN projection so the
    split runs once per row: the gram expression references the array many
    times, which blocks CollapseProject from inlining it back."""
    return df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__tk")
    ).select(
        "id",
        # null text -> null token array -> null grams; coalesce to empty so
        # downstream size()/intersect arithmetic stays 0-based (legacy
        # sizeOfNull would otherwise yield -1 and a negative jaccard)
        F.coalesce(
            _gram_array_from_tokens("__tk", n), F.array().cast("array<string>")
        ).alias("grams"),
    )


def _distinct_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """explode_outer + null-filter, NOT plain explode: Catalyst's
    InferFiltersFromGenerate rule turns a plain explode into an implicit
    ``size(grams) > 0`` predicate that gets pushed below the token
    projection, re-inlining and re-evaluating the ENTIRE gram expression
    (split included) once more per row — measured 4.4s -> 0.8s on the
    sf0.1 decontamination gram scan. The rule exempts outer generates,
    and the post-filter on the generated column is a cheap column ref."""
    return (
        _with_grams(df, id_col, text_col, n)
        .select("id", F.explode_outer("grams").alias("g"))
        .filter(F.col("g").isNotNull())
    )


def ngram_jaccard_score(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for GIVEN candidate pairs (a, b) — the 100 TB
    composition: discovery via ``minhash_lsh_pairs`` (bounded LSH), exact
    scoring here. Gram ARRAYS are built only for docs that appear in a
    candidate pair (left-semi join first) and the score is two equi-joins
    plus one JVM-side ``array_intersect`` per pair — no gram explode, no
    aggregation, so the whole scoring plan is candidate-bounded and never
    touches the rest of the corpus. EVERY input pair (deduped) gets an
    output row: pairs sharing no gram — including docs shorter than ``n``
    tokens (no n-grams under this strict definition), docs with null
    text, and ids absent from ``df`` entirely (left joins + empty-array
    coalesce) — score jaccard 0."""
    p = pairs.select("a", "b").distinct()  # duplicate pairs would double `inter`
    cand_ids = (
        p.select(F.col("a").alias(id_col))
        .union(p.select(F.col("b").alias(id_col)))
        .distinct()
    )
    # the gram relation feeds BOTH join sides below; without materialization
    # the split + zip_with gram build executes twice (once per branch).
    # Candidates are LSH-bounded, so the eager localCheckpoint is small at
    # any corpus scale and halves the scorer's gram work — ~5-10% of the
    # scorer wall at sf0.1's tiny candidate sets (measured steady 1.1s ->
    # 1.0s), growing with candidate count x doc length; self-cleans on GC
    docs_c = _with_grams(
        df.join(cand_ids, id_col, "left_semi"), id_col, text_col, n
    ).localCheckpoint(eager=True)
    empty = F.array().cast("array<string>")
    out = (
        # LEFT joins: a pair referencing an id absent from df still gets an
        # output row (its side scores as an empty gram set -> jaccard 0)
        # rather than being silently dropped
        p.join(
            docs_c.select(F.col("id").alias("a"), F.col("grams").alias("ga")),
            "a",
            "left",
        )
        .join(
            docs_c.select(F.col("id").alias("b"), F.col("grams").alias("gb")),
            "b",
            "left",
        )
        .withColumn("ga", F.coalesce("ga", empty))
        .withColumn("gb", F.coalesce("gb", empty))
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")).cast("long"))
        .withColumn("na", F.size("ga"))
        .withColumn("nb", F.size("gb"))
    )
    denom = F.col("na") + F.col("nb") - F.col("inter")
    return out.withColumn(
        "jaccard",
        F.when(denom > 0, F.col("inter") / denom).otherwise(F.lit(0.0)),
    ).select("a", "b", "inter", "jaccard")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    min_intersection: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for pairs sharing >= min_intersection n-grams.

    ``max_df`` drops n-grams whose document frequency exceeds the cap
    BEFORE the self-join: a gram shared by d docs emits d^2/2 pair rows, so
    stopword grams ("of the") make the raw self-join quadratic in corpus
    size while carrying ~no Jaccard signal. With the cap, Jaccard is
    computed over the capped gram universe on both the intersection and the
    union side (a consistent similarity definition; per-doc counts are
    taken after the filter). ``max_df=None`` keeps the exact all-gram
    semantics for use as a small-scale oracle.

    Shuffles key on the (capped) n-gram; per-doc counts join by doc id with
    the strategy left to AQE — they grow with the corpus, so no broadcast
    hint.
    """
    grams = _distinct_grams(df, id_col, text_col, n)
    if max_df is not None:
        # grams are distinct per doc, so count(*) per gram == doc frequency;
        # the over-cap gram list is the heavy-hitter tail — small, and AQE
        # turns the anti-join into a broadcast when it fits
        hot = (
            grams.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("g")
        )
        grams = grams.join(hot, "g", "left_anti")
    counts = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    l, r = grams.alias("l"), grams.alias("r")
    inter = (
        l.join(r, on=[F.col("l.g") == F.col("r.g"), F.col("l.id") < F.col("r.id")])
        .groupBy(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
        .filter(F.col("inter") >= min_intersection)
    )
    ca = counts.select(F.col("id").alias("a"), F.col("n_grams").alias("na"))
    cb = counts.select(F.col("id").alias("b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(ca, "a")
        .join(cb, "b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .select("a", "b", "inter", "jaccard")
    )


# ------------------------------------------------------------ decontamination


def contamination_hits(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Training docs that share at least one token n-gram with the eval
    set — the standard pretraining decontamination check (eval benchmarks
    must not leak into the training corpus verbatim).

    Scale shape: the eval side is DISTINCT n-grams of a benchmark suite —
    thousands of docs, so the gram set broadcasts; the train side builds
    within-doc-distinct gram arrays row-locally (zero shuffle), explodes
    into a broadcast-hash semi-probe, and only the HIT grams reach the
    final (doc_id)-keyed partial-agg count. The full corpus is never
    shuffled.

    Returns (id_col, n_hit_grams) — one row per contaminated train doc
    with its count of distinct colliding grams.
    """
    ev = _distinct_grams(evalset, id_col, text_col, n).select("g").distinct()
    tr = _distinct_grams(train, id_col, text_col, n)
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
        .select(F.col("id").alias(id_col), "n_hit_grams")
    )


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Drop every train doc flagged by ``contamination_hits`` (left-anti
    join on the small hit list — broadcastable)."""
    hits = contamination_hits(train, evalset, id_col, text_col, n)
    return train.join(hits.select(id_col), id_col, "left_anti")


def _position_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, __total, g): one row per n-gram POSITION — no within-doc
    dedup, because span-level statistics weight repeated spans by how
    often they occur. Same indexed-transform + explode_outer discipline
    as ``_distinct_grams`` (see ``_gram_expr`` / those docstrings for the
    optimizer traps this dodges)."""
    return (
        df.select(
            F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__tk")
        )
        .select("id", _gram_expr(F.col("__tk"), n).alias("grams"))
        .select(
            "id",
            F.size("grams").cast("long").alias("__total"),
            F.explode_outer("grams").alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )


def cross_doc_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    max_frac: float = 0.5,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Sequence-level duplication signal: per document, the fraction of
    token n-gram positions whose n-gram also occurs in at least
    ``min_docs - 1`` OTHER documents — what document-level dedup misses
    (boilerplate headers, quoted passages, templated spans; the drop rule
    of Lee et al.'s 'Deduplicating Training Data' line of work, applied
    as a per-doc filter). Returns (id_col, n_spans, n_dup_spans,
    dup_span_frac, keep) for every doc with >= n tokens.

    Scale shape: one position explode (~tokens rows), a (g)-keyed
    distinct-doc count (partial-aggregated), a shuffle join back on g,
    and a (doc)-keyed partial agg. The span-stats side is span-vocabulary
    sized — too big to broadcast at 100 TB, so the g-join is the honest
    standard cost of sequence-level dedup (cheaper than suffix arrays,
    same signal for fixed n).

    ``max_df`` bounds the g-join's hot keys WITHOUT changing semantics:
    a gram in more than ``max_df`` documents is dup by definition (its
    doc frequency already exceeds ``min_docs``), so its positions never
    need the per-gram join — they are flagged through a broadcast join
    against the (small) heavy-hitter tail, and their join key is salted
    per-doc so universal boilerplate grams stop concentrating on single
    reducers. To keep the gram pipeline at the uncapped plan's two
    evaluations (probe + doc-frequency agg), the dup-gram relation is
    materialized ONCE via an eager localCheckpoint — it is the vocabulary
    the uncapped plan shuffles anyway, filtered down to dup grams — and
    both the hot broadcast and the cold join read the materialized
    blocks. The capped and uncapped plans produce IDENTICAL output
    (oracle-verified); ``max_df=None`` keeps the lazy single-join plan."""
    if min_docs < 1:
        raise ValueError("cross_doc_span_stats: min_docs must be >= 1")
    pos = _position_grams(df, id_col, text_col, n)
    gd = pos.groupBy("g").agg(F.count_distinct("id").alias("__nd"))
    if max_df is None or n < 2:
        per_doc = (
            pos.join(gd, "g")
            .groupBy("id")
            .agg(
                F.max("__total").alias("n_spans"),
                F.sum(
                    F.when(F.col("__nd") >= min_docs, F.lit(1)).otherwise(F.lit(0))
                ).alias("n_dup_spans"),
            )
        )
    else:
        max_df = max(max_df, min_docs)  # hot must imply dup
        dup_grams = (
            gd.filter(F.col("__nd") >= min_docs)
            .select("g", (F.col("__nd") > max_df).cast("int").alias("__hot"))
            .localCheckpoint(eager=True)
        )
        hot = dup_grams.filter(F.col("__hot") == 1).select("g", "__hot")
        cold_dup = dup_grams.filter(F.col("__hot") == 0).select(
            "g", F.lit(1).alias("__cold")
        )
        # every n>=2 gram contains a space, so a space-free salted key can
        # never collide with a real gram in the cold join below
        salted = F.concat(
            F.lit("\x00"),
            F.translate(F.col("id").cast("string"), " ", ""),
        )
        pos2 = pos.join(F.broadcast(hot), "g", "left").withColumn(
            "__jk", F.when(F.col("__hot") == 1, salted).otherwise(F.col("g"))
        )
        scored = pos2.join(
            cold_dup.withColumnRenamed("g", "__jk"), "__jk", "left"
        )
        per_doc = scored.groupBy("id").agg(
            F.max("__total").alias("n_spans"),
            F.sum(
                F.when(
                    (F.col("__hot") == 1) | (F.col("__cold") == 1), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_dup_spans"),
        )
    frac = F.round(F.col("n_dup_spans") / F.col("n_spans"), 6)
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_spans",
        "n_dup_spans",
        frac.alias("dup_span_frac"),
        (frac <= max_frac).cast("int").alias("keep"),
    )


def _position_grams_idx(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, p, g): one row per n-gram position with its 0-based start
    index — the positional variant of ``_position_grams`` for operators
    that must map dup grams back onto token spans. Same indexed-transform
    + posexplode_outer discipline (InferFiltersFromGenerate exempts outer
    generates; see ``_gram_expr`` / ``_distinct_grams``)."""
    return (
        df.select(
            F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__tk")
        )
        .select("id", _gram_expr(F.col("__tk"), n).alias("grams"))
        .select("id", F.posexplode_outer("grams").alias("p", "g"))
        .filter(F.col("g").isNotNull())
    )


def remove_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Span-level dedup as an ACTION, not just a statistic: delete every
    token covered by an n-gram that occurs in >= ``min_docs`` documents —
    the removal rule of Lee et al.'s 'Deduplicating Training Data'
    (ExactSubstr), applied at token n-gram granularity. Where
    ``cross_doc_span_stats`` decides keep-or-drop per document, this
    operator surgically removes the boilerplate/quoted spans and keeps
    the rest of the document.

    Returns (id_col, clean_text, n_tokens, n_removed) for EVERY input
    row: docs shorter than ``n`` tokens (and null-text docs) pass through
    untouched with n_removed 0.

    Scale shape: the positional gram explode and the g-keyed
    doc-frequency aggregation are shared machinery with
    ``cross_doc_span_stats``; dup positions come back per doc as a sorted
    start array (bounded by doc length), and the token mask is pure
    per-row higher-order arithmetic — no second text shuffle. Mask cost
    is O(tokens x covered_positions) per doc (an array_contains per
    token): linear for the typical low-dup-fraction corpus, quadratic
    only for a long document that is MOSTLY duplicated spans — which
    doc-level dedup (the cheaper pass) should have dropped first; run
    this operator after it, as ``jobs/score_corpus.py`` does.

    ``max_df`` bounds the positions-to-dup-grams join's hot keys exactly
    as in ``cross_doc_span_stats`` (see that docstring): a gram in more
    than ``max_df`` docs is dup by definition (max_df is clamped to
    >= min_docs), so its positions are flagged through a broadcast of the
    small heavy-hitter tail and their shuffle key is salted per-doc — a
    universal boilerplate gram no longer concentrates a join key at
    scale. Capped and uncapped plans produce IDENTICAL output (pinned by
    test); ``max_df=None`` keeps the single-join plan."""
    pos = _position_grams_idx(df, id_col, text_col, n)
    gd_all = pos.groupBy("g").agg(F.count_distinct("id").alias("__nd"))
    if max_df is None or n < 2:
        gd = gd_all.filter(F.col("__nd") >= min_docs).select("g")
        dup_pos = pos.join(gd, "g")
    else:
        max_df = max(max_df, min_docs)  # hot must imply dup
        dup_grams = (
            gd_all.filter(F.col("__nd") >= min_docs)
            .select("g", (F.col("__nd") > max_df).cast("int").alias("__hot"))
            .localCheckpoint(eager=True)
        )
        hot = dup_grams.filter(F.col("__hot") == 1).select("g", "__hot")
        cold_dup = dup_grams.filter(F.col("__hot") == 0).select(
            "g", F.lit(1).alias("__cold")
        )
        # every n>=2 gram contains a space, so a space-free salted key can
        # never collide with a real gram in the cold join below
        salted = F.concat(
            F.lit("\x00"),
            F.translate(F.col("id").cast("string"), " ", ""),
        )
        pos2 = pos.join(F.broadcast(hot), "g", "left").withColumn(
            "__jk", F.when(F.col("__hot") == 1, salted).otherwise(F.col("g"))
        )
        dup_pos = pos2.join(
            cold_dup.withColumnRenamed("g", "__jk"), "__jk", "left"
        ).filter((F.col("__hot") == 1) | (F.col("__cold") == 1))
    starts = dup_pos.groupBy("id").agg(
        F.sort_array(F.collect_set("p")).alias("__starts")
    )
    joined = df.join(
        starts.withColumnRenamed("id", id_col), id_col, "left"
    )
    toks = F.split(F.col(text_col), " ")
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
                lambda p: F.sequence(p, p + F.lit(int(n) - 1)),
            )
        )
    )
    kept = F.filter(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.size(toks) - 1),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda s: ~F.array_contains(F.col("__covered"), s["i"]),
    )
    return (
        joined.withColumn("__covered", covered)
        .withColumn(
            "clean_text",
            F.when(
                F.col(text_col).isNull(), F.col(text_col)
            ).otherwise(
                F.array_join(F.transform(kept, lambda s: s["t"]), " ")
            ),
        )
        .select(
            F.col(id_col),
            "clean_text",
            F.coalesce(F.size(toks), F.lit(0)).cast("long").alias("n_tokens"),
            F.size("__covered").cast("long").alias("n_removed"),
        )
    )


def cross_corpus_near_pairs(
    df: DataFrame,
    ref: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 128,
    bands: int = 64,
    shingle: int = 3,
    seed: int = 42,
    min_est_jaccard: float = 0.5,
    max_bucket: int | None = 200,
    ref_signatures: DataFrame | None = None,
    lazy: bool = False,
) -> DataFrame | tuple:
    """Near-duplicate pairs BETWEEN two corpora: (a from ``df``, b from
    ``ref``, est_jaccard) — the document-level decontamination /
    cross-corpus dedup primitive ("drop training docs near-duplicating
    anything in the held-out or already-trained corpus"; the n-gram
    containment probe in ``contamination_hits`` is the span-level sibling).

    Same machinery as ``minhash_lsh_pairs`` — identical signature function
    and SEED on both sides, so band hashes are comparable — but the bucket
    join is a two-sided equi-join on (band, bhash) instead of a self-join:
    only cross-corpus bucket collisions materialize, never within-corpus
    pairs. Buckets are capped per side (deterministic subset, same id
    survival rule), bounding a degenerate bucket's output at
    max_bucket^2 instead of |A_bucket| x |B_bucket|.

    Like the self-join variant, the (small) pair result is eagerly
    persisted so both signature caches release before returning — callers
    should ``unpersist()`` it when done.

    ``ref_signatures`` skips signing the reference side: pass a
    precomputed (id, sig) relation — ``minhash_signatures`` output,
    typically persisted once via TableIO for a STATIC reference corpus
    ("dedup every incoming batch against the trained corpus") — and
    ``ref`` may be None. The cache MUST have been built with the same
    ``n_hashes``/``shingle``/``seed`` or band hashes stop being
    comparable; signature width is validated against ``n_hashes`` in the
    plan (a width-mismatched cache fails loudly, a wrong seed or shingle
    cannot be detected from the data and is on the caller — stamp cache
    paths with those parameters, as jobs/dedup_corpus.py does)."""
    rows = n_hashes // bands
    par = df.sparkSession.sparkContext.defaultParallelism
    sig_a = minhash_signatures(
        df, id_col, text_col, n_hashes, shingle, seed, parallelism=par
    ).persist()
    own_b = ref_signatures is None
    if own_b:
        if ref is None:
            raise ValueError(
                "cross_corpus_near_pairs: need ref docs or ref_signatures"
            )
        sig_b = minhash_signatures(
            ref, id_col, text_col, n_hashes, shingle, seed, parallelism=par
        ).persist()
    else:
        # the per-row width check below never fires on an EMPTY cache
        # (wrong/stale path, zero rows) — which would silently drop
        # nothing, the exact failure the validation exists to prevent;
        # probe one row up front and refuse loudly. The head() is a
        # 1-row bounded driver read, not a data-scale action.
        probe = ref_signatures.select("id", F.size("sig").alias("__w")).head(1)
        if not probe:
            sig_a.unpersist()
            raise ValueError(
                "cross_corpus_near_pairs: ref_signatures is EMPTY — "
                "wrong or stale cache path? refusing to dedup against "
                "nothing"
            )
        sig_b = ref_signatures.select(
            "id",
            F.when(F.size("sig") == n_hashes, F.col("sig"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "cross_corpus_near_pairs: cached signature width "
                        ),
                        F.size("sig").cast("string"),
                        F.lit(f" != n_hashes {n_hashes}"),
                    )
                )
            )
            .alias("sig"),
        )
    ba = cap_buckets(_banded_numeric(sig_a, bands, rows), ["band", "bhash"], max_bucket)
    bb = cap_buckets(_banded_numeric(sig_b, bands, rows), ["band", "bhash"], max_bucket)
    cand = (
        ba.alias("l")
        .join(
            bb.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bhash") == F.col("r.bhash"),
            ],
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    sa = sig_a.select(F.col("id").alias("a"), F.col("sig").alias("sig_a"))
    sb = sig_b.select(F.col("id").alias("b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(n_hashes))
    out = (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("a", "b", "est_jaccard")
    )
    if lazy:
        # caller owns materialization + cache lifecycle: the returned
        # sig handles must be unpersist()ed once the pair relation (or a
        # derivation of it) has materialized — saves the separate
        # persist+count barrier when the caller's first action over the
        # pairs is itself a materializing job (the dedup-score shape)
        return out, sig_a, (sig_b if own_b else None)
    out = out.persist()
    out.count()
    sig_a.unpersist()
    if own_b:
        sig_b.unpersist()
    return out


def vocab_edit1_pairs(
    df: DataFrame,
    text_col: str = "text",
    min_len: int = 4,
) -> DataFrame:
    """EXACT edit-distance-1 pairs over the corpus vocabulary — the
    typo/variant detector behind spell-candidate tables, OCR-noise
    audits, and token-normalization maps ("recieve" vs "receive"
    collapse before dedup and frequency stats). Returns every unordered
    pair (w_a < w_b) of distinct corpus tokens (lowercased [a-z0-9]+
    forms of length >= ``min_len``, the cooccurrence_counts token
    pipeline) whose Levenshtein distance is EXACTLY 1, plus both
    lengths.

    The quadratic-free plan is the deletion-neighborhood signature
    scheme (FastSS family): a token's signatures are itself plus every
    single-character deletion. Two distinct tokens at edit distance 1
    ALWAYS share a signature — a deletion/insertion pair shares the
    shorter token itself; a substitution pair shares the deletion at
    the substituted position — so joining the vocabulary to itself on
    exploded signatures has PERFECT recall, and the final
    levenshtein == 1 filter leaves zero false positives. Pairs sharing
    several signatures are deduplicated with one distinct on the pair.

    Why this scales where LSH-style schemes stay approximate: a
    signature bucket can only contain the signature string itself plus
    tokens formed by inserting ONE character into it — at most
    (len+1) x |alphabet| + 1 tokens, a combinatorial bound independent
    of corpus size. No cap, no skew handling, no recall loss: hot
    buckets are impossible by construction. Cost is the (L+1)-way
    signature explode over the DISTINCT vocabulary (not the corpus),
    and the vocabulary relation is tiny relative to the token stream.

    ``min_len`` keeps trivial short-word pairs (cat/bat/hat...) out —
    below 4 chars edit distance 1 is closer to alphabet enumeration
    than to variant detection — and guarantees signatures stay
    non-empty."""
    if min_len < 2:
        raise ValueError("vocab_edit1_pairs: min_len must be >= 2")
    toks = (
        df.select(
            F.explode_outer(
                F.filter(
                    F.transform(
                        F.split(F.lower(F.col(text_col)), " "),
                        lambda t: F.regexp_replace(t, "[^a-z0-9]", ""),
                    ),
                    lambda t: F.length(t) >= min_len,
                )
            ).alias("w")
        )
        .filter(F.col("w").isNotNull())
        .distinct()
    )
    # deletion neighborhood: the token itself (index 0 sentinel) plus
    # the token with character i removed, i = 1..len — one transform
    # lambda, no per-row Python, no 2^k unrolled CreateArray
    sigs = F.transform(
        F.sequence(F.lit(0), F.length("w")),
        lambda i: F.when(i == 0, F.col("w")).otherwise(
            F.concat(
                F.substring(F.col("w"), 1, (i - 1).cast("int")),
                F.col("w").substr(
                    (i + 1).cast("int"), F.length("w")
                ),
            )
        ),
    )
    # explode_outer + null-filter: the InferFiltersFromGenerate
    # double-eval guard (a plain explode re-evaluates the signature
    # array once more per row via the inferred size() filter)
    rel = (
        toks.select(F.col("w"), F.explode_outer(sigs).alias("sig"))
        .filter(F.col("sig").isNotNull())
    )
    a = rel.alias("A")
    b = rel.alias("B")
    pairs = (
        a.join(b, (F.col("A.sig") == F.col("B.sig")) & (F.col("A.w") < F.col("B.w")))
        .select(F.col("A.w").alias("w_a"), F.col("B.w").alias("w_b"))
        .distinct()
        .filter(F.levenshtein("w_a", "w_b") == 1)
    )
    return pairs.select(
        "w_a",
        "w_b",
        F.length("w_a").cast("bigint").alias("len_a"),
        F.length("w_b").cast("bigint").alias("len_b"),
    )


def behavior_fingerprints(
    df: DataFrame,
    entity_col: str,
    type_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-entity behavioral fingerprint: md5 of the entity's FULL
    event-type sequence in (ts, id) order — the bot/spam/replay
    detector for training-data curation: two accounts (or two scraped
    transcript copies) with byte-identical action sequences collapse
    to one fingerprint, and ``groupBy(behavior_fp)`` is the cluster
    report. md5 keeps the fingerprint reproducible OUTSIDE Spark (the
    sampling-module contract), so the oracle is one ordered
    string_agg away in any engine.

    NULL types are encoded as an explicit sentinel BEFORE joining (a
    skipped NULL would make "a, NULL, b" collide with "a, b" — both
    engines skip NULLs in their join/agg primitives, silently).
    Sequence text uses a single-space joiner; event types must not
    contain spaces (true for categorical action labels; hash the type
    first if yours can).

    Scale shape: one shuffle on the entity; the sequence materializes
    per entity in one task (fingerprinting is a whole-sequence
    property by definition — the sessionize-family hot-entity caveat;
    for adversarial entities cap events upstream, e.g. debounce or a
    per-entity limit, before fingerprinting)."""
    from tgist_features_spark.functions.timeu import us

    ev = F.struct(
        us(F.col(ts_col)).alias("t"),
        F.col(id_col).alias("i"),
        F.coalesce(F.col(type_col), F.lit("\x01")).alias("y"),
    )
    seq = F.array_join(
        F.transform(F.array_sort(F.collect_list(ev)), lambda x: x["y"]),
        " ",
    )
    return df.groupBy(entity_col).agg(
        F.md5(seq).alias("behavior_fp"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


def tf_cosine_pairs(
    terms: DataFrame,
    id_col: str,
    term_col: str,
    threshold_pct: int = 60,
    max_df: int = 10,
) -> DataFrame:
    """D17: all-pairs WEIGHTED similarity over term-frequency vectors —
    the TF-cosine counterpart to the set-based n-gram Jaccard (D4): two
    docs repeating the same phrases score high even when their term
    SETS overlap modestly, which is exactly the boilerplate/template
    signal set similarity under-weights.

    Input is an exploded (id, term) occurrence relation (one row per
    occurrence — the operator builds the TF vectors); output is
    (a, b, dot, n2_a, n2_b) for every discovered pair with
    cos(a, b) >= threshold_pct/100, all EXACT bigints: the cosine test
    is evaluated as dot^2 * 10^4 >= thr^2 * n2_a * n2_b (dot >= 0
    always — TFs are non-negative), so no float, no sqrt, bitwise
    reproducible in any engine.

    Discovery contract (the inverted-index bound): candidate pairs come
    ONLY from terms with df <= max_df — candidate volume is bounded by
    sum over rare terms of C(df, 2) <= max_df/2 * (rare posting rows),
    and hot terms are diverted entirely (a df-10^7 stopword generates
    zero join fan-out at any corpus size — the same divert discipline
    as span stats' max_df). A pair sharing ONLY hot terms is not
    discovered: documented recall bound, the right trade for near-dup
    mining where shared RARE phrases are the signal. Scoring, however,
    is exact over the FULL vectors (hot terms included) for every
    discovered pair. The oracle mirrors the same candidate rule, so
    rows match hash-for-hash.
    """
    if threshold_pct < 1 or threshold_pct > 100:
        raise ValueError("tf_cosine_pairs: threshold_pct in [1, 100]")
    if max_df < 2:
        raise ValueError("tf_cosine_pairs: max_df must be >= 2")
    tf_rel = terms.groupBy(
        F.col(id_col).alias("id"), F.col(term_col).alias("term")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    n2 = tf_rel.groupBy("id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("n2")
    )
    rare = (
        tf_rel.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("term")
    )
    posts = tf_rel.join(rare, "term").select("term", "id", "tf")
    # Candidate PRUNE before exact scoring (the expensive part is joining
    # every candidate pair back onto both docs' FULL vectors — O(pairs x
    # terms/doc) rows). The posts self-join below enumerates EVERY shared
    # rare term of a pair, so aggregating it per pair gives the EXACT dot
    # restricted to rare terms (dot_sr). The residual dot can only come
    # from shared HOT (df > max_df) terms, and Cauchy-Schwarz over each
    # doc's hot sub-vector bounds it by sqrt(hot2_a * hot2_b) with
    # hot2 = n2 - rare2 (rare2 = per-doc sum of tf^2 over its rare terms).
    # A pair whose upper bound cannot reach the cosine threshold is
    # dropped WITHOUT touching the full vectors; the bound is exact-safe
    # (floor(sqrt)+2 dominates the true sqrt even at the double-precision
    # edge), so the surviving set is a superset of every passing pair and
    # the exact scoring below reproduces the unpruned output bitwise
    # (pinned by test incl. a hot-overlap adversarial case).
    rare2 = posts.groupBy("id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("rare2")
    )
    docstats = (
        n2.join(rare2, "id", "left")
        .select(
            "id",
            "n2",
            (F.col("n2") - F.coalesce("rare2", F.lit(0))).alias("hot2"),
        )
    )
    pair_sr = (
        posts.alias("pa")
        .join(posts.alias("pb"), "term")
        .filter(F.col("pa.id") < F.col("pb.id"))
        .groupBy(F.col("pa.id").alias("a"), F.col("pb.id").alias("b"))
        .agg(
            F.sum(F.col("pa.tf") * F.col("pb.tf")).cast("bigint").alias("dot_sr")
        )
    )
    thr2 = threshold_pct * threshold_pct
    hot_ub = (
        F.floor(F.sqrt((F.col("hot2_a") * F.col("hot2_b")).cast("double")))
        .cast("bigint")
        + F.lit(2)
    )
    ub = F.col("dot_sr") + hot_ub
    cand = (
        pair_sr.join(
            docstats.select(
                F.col("id").alias("a"),
                F.col("n2").alias("n2_a"),
                F.col("hot2").alias("hot2_a"),
            ),
            "a",
        )
        .join(
            docstats.select(
                F.col("id").alias("b"),
                F.col("n2").alias("n2_b"),
                F.col("hot2").alias("hot2_b"),
            ),
            "b",
        )
        .filter(
            ub * ub * F.lit(10_000) >= F.lit(thr2) * F.col("n2_a") * F.col("n2_b")
        )
        .select("a", "b", "n2_a", "n2_b")
    )
    ta = tf_rel.select(
        F.col("id").alias("a"), F.col("term").alias("t"), F.col("tf").alias("tfa")
    )
    tb = tf_rel.select(
        F.col("id").alias("b"), F.col("term").alias("t"), F.col("tf").alias("tfb")
    )
    dot = (
        cand.join(ta, "a")
        .join(tb, ["b", "t"])
        .groupBy("a", "b", "n2_a", "n2_b")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).cast("bigint").alias("dot"))
    )
    return (
        dot.filter(
            F.col("dot") * F.col("dot") * F.lit(10_000)
            >= F.lit(thr2) * F.col("n2_a") * F.col("n2_b")
        )
        .select("a", "b", "dot", "n2_a", "n2_b")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """D18: keyed diff between two table snapshots — (key..., change,
    plus <col>_old / <col>_new for every compared column), change in
    {'added', 'removed', 'changed'}; unchanged rows are omitted. The
    audit primitive behind incremental publishing ("what did this
    ingest actually change?"), upsert verification, and drift triage —
    the relational form of a snapshot-diff in a table format's history.

    NULL is a VALUE, not a wildcard: comparisons are null-safe (<=>),
    so NULL -> 'x' and 'x' -> NULL are both 'changed' and NULL -> NULL
    is unchanged — the scd2_intervals change-detection contract.
    Callers guarantee keys are unique per snapshot (the upsert table
    contract); duplicate keys diff positionally-nondeterministically
    and are the caller's bug, not masked here.

    Scale shape: ONE full-outer shuffle join on the key columns — both
    sides partition by the same key, no broadcast assumption (both
    snapshots are corpus-scale); the change classification is a pure
    projection. At 100 TB the join co-locates if both snapshots are
    bucketed by key (TableIO's layout), making the diff shuffle-free."""
    o = old.select(
        *[F.col(k).alias(f"__k_{k}") for k in key_cols],
        *[F.col(c).alias(f"{c}_old") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__k_{k}") for k in key_cols],
        *[F.col(c).alias(f"{c}_new") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    j = o.join(n, [f"__k_{k}" for k in key_cols], "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"{c}_old").eqNullSafe(F.col(f"{c}_new"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    out_cols = (
        [F.col(f"__k_{k}").alias(k) for k in key_cols]
        + [F.col("__change").alias("change")]
        + [F.col(f"{c}_old") for c in compare_cols]
        + [F.col(f"{c}_new") for c in compare_cols]
    )
    return (
        j.withColumn("__change", change)
        .filter(F.col("__change").isNotNull())
        .select(*out_cols)
    )
