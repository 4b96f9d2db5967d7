"""Text features (F1/F2/F6, SURVEY.md §2.8) — the tagger->chunker->feature
stages of the reference, re-expressed as columnar ops.

The reference ran a per-line Python loop over POS-tagged text to emit chunk
features (first_word, last_word, plen, suffix3/4/5, prev/next context).
Here the cheap features are pure Catalyst expressions (whole-stage codegen,
zero Python) and the n-gram/signature features are ONE vectorized Arrow UDF
(`arrow_udf`: Arrow batches in and out, tokens split by Arrow compute) — no
per-row Python UDFs anywhere (BASELINE.json:15 input_hint).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema

from tgist_features_spark.functions.sqltext import ident

# ---------------------------------------------------------------- F1 tokenize

_TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def tokenize(col: str | Column, mode: str = "whitespace") -> Column:
    """text -> array<string>. 'whitespace' for the pre-normalized corpora;
    'bpeish' uses a word/punct regex closer to a BPE pre-tokenizer."""
    c = F.col(col) if isinstance(col, str) else col
    if mode == "whitespace":
        return F.split(c, r"\s+")
    return F.regexp_extract_all(c, F.lit(_TOKEN_RE), 0)


# ----------------------------------------------- cheap chunk features (F2 lite)


def with_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Catalyst-only chunk features: plen, first_word, last_word, suffix3/4/5
    (mirrors the reference's chunk feature names)."""
    toks = tokenize(text_col)
    last = F.element_at(toks, -1)
    return (
        df.withColumn("n_chars_f", F.length(text_col).cast("long"))
        .withColumn("plen", F.size(toks).cast("long"))
        .withColumn("first_word", F.element_at(toks, 1))
        .withColumn("last_word", last)
        .withColumn("suffix3", F.substring(last, -3, 3))
        .withColumn("suffix4", F.substring(last, -4, 4))
        .withColumn("suffix5", F.substring(last, -5, 5))
    )


def with_quality_features(
    df: DataFrame,
    text_col: str = "text",
    stopwords: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is"),
) -> DataFrame:
    """Quality-scoring features for training-data pipelines: length, token
    stats, stopword ratio, punctuation ratio, uppercase ratio. All Catalyst."""
    toks = tokenize(text_col)
    n = F.size(toks)
    sw = F.array([F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    n_punct = F.length(text_col) - F.length(F.regexp_replace(text_col, r"[^\w\s]", ""))
    n_upper = F.length(text_col) - F.length(F.regexp_replace(text_col, r"[A-Z]", ""))
    safe_len = F.greatest(F.length(text_col), F.lit(1))
    return (
        df.withColumn("n_tokens", n.cast("long"))
        .withColumn("stopword_ratio", n_stop / F.greatest(n, F.lit(1)))
        .withColumn("punct_ratio", n_punct / safe_len)
        .withColumn("upper_ratio", n_upper / safe_len)
        .withColumn(
            "quality_score",
            F.round(
                F.least(F.lit(1.0), F.log1p(n) / F.lit(5.0))
                * (F.lit(1.0) - (n_punct / safe_len)),
                6,
            ),
        )
    )


def with_repetition_features(
    df: DataFrame,
    text_col: str = "text",
    min_ttr: float = 0.35,
    max_top_bigram: float = 0.15,
    max_dup_trigram: float = 0.02,
) -> DataFrame:
    """Gopher/RefinedWeb-style repetition filters, adapted to token streams:
    type-token ratio, fraction of tokens covered by the single most frequent
    bigram, fraction of duplicated trigram instances, plus the composite
    ``keep`` decision. These are the "junk detector" half of quality
    filtering (`with_quality_features` is the surface-statistics half).

    Everything is per-row higher-order-function arithmetic — ZERO shuffle,
    fuses into whatever scan already runs (the naive explode-ngrams +
    groupBy(doc, gram) plan would shuffle tokens x docs rows; within-doc
    stats never need to leave the row). The most-frequent-bigram count is
    an `array_sort` + one `aggregate` run-length scan, O(k log k) per doc.
    """
    # literal single-space split (NOT tokenize()'s \s+): every oracled doc
    # query uses this split so the stats are engine-reproducible against
    # DuckDB's string_split(text, ' ') beyond pre-normalized corpora —
    # consecutive whitespace yields empty-string tokens in BOTH engines
    toks = F.split(F.col(text_col), " ")
    out = df.withColumn("__tk", toks)
    n = F.size("__tk")
    # chained zip_with against shifted copies (not an indexed transform —
    # ~1.7x per row; see operators/dedup.py _gram_array_from_tokens). The
    # zip_with null-padding makes the tail entries null; the slice drops
    # exactly those, and the size<n case degenerates to an empty slice.
    big = (
        "slice(zip_with(__tk, slice(__tk, 2, greatest(size(__tk)-1, 0)),"
        " (a, b) -> concat(a, ' ', b)), 1, greatest(size(__tk)-1, 0))"
    )
    tri = (
        "slice(zip_with(zip_with(__tk, slice(__tk, 2, greatest(size(__tk)-1, 0)),"
        " (a, b) -> concat(a, ' ', b)), slice(__tk, 3, greatest(size(__tk)-2, 0)),"
        " (ab, c) -> concat(ab, ' ', c)), 1, greatest(size(__tk)-2, 0))"
    )
    # longest equal-run over the sorted bigram array == max bigram count
    best_bigram = F.expr(
        "aggregate(array_sort(__big),"
        " named_struct('p', cast(null as string), 'r', 0L, 'b', 0L),"
        " (a, x) -> named_struct('p', x,"
        "   'r', IF(x <=> a.p, a.r + 1L, 1L),"
        "   'b', greatest(a.b, IF(x <=> a.p, a.r + 1L, 1L))),"
        " a -> a.b)"
    )
    out = (
        out.withColumn("__big", F.expr(big))
        .withColumn("__tri", F.expr(tri))
        .withColumn("n_tokens", n.cast("long"))
        .withColumn(
            "ttr",
            F.round(F.size(F.array_distinct("__tk")) / F.greatest(n, F.lit(1)), 6),
        )
        .withColumn(
            "top_bigram_frac",
            F.round(F.lit(2) * best_bigram / F.greatest(n, F.lit(1)), 6),
        )
        .withColumn(
            "dup_trigram_frac",
            F.when(F.size("__tri") == 0, F.lit(0.0)).otherwise(
                F.round(
                    F.lit(1.0)
                    - F.size(F.array_distinct("__tri")) / F.size("__tri"),
                    6,
                )
            ),
        )
    )
    keep = (
        (F.col("ttr") >= min_ttr)
        & (F.col("top_bigram_frac") <= max_top_bigram)
        & (F.col("dup_trigram_frac") <= max_dup_trigram)
    )
    return out.withColumn("keep", keep).drop("__tk", "__big", "__tri")


# PII patterns chosen from the regex subset where Java (Spark) and RE2
# (DuckDB/Go tooling) agree — plain character classes, no backrefs or
# lookarounds — so redaction is reproducible across engines (parity is
# oracle-verified). Order matters: emails before the bare-domain URL rule.
REDACTION_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^ ]+", "<URL>"),
    ("ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
)


def with_redaction(
    df: DataFrame,
    text_col: str = "text",
    rules: tuple[tuple[str, str, str], ...] = REDACTION_RULES,
    out_col: str = "redacted",
) -> DataFrame:
    """PII scrubbing for training corpora: apply each (name, pattern,
    replacement) rule in order and count matches per rule (``n_<name>``
    columns) so the pipeline can both clean and AUDIT. Pure Catalyst
    (regexp_replace / regexp_extract_all) — fuses into the scan, zero
    shuffle, and the counts come from the PRE-redaction text so
    overlapping rules don't hide each other's hits."""
    out = df
    red = F.col(text_col)
    for name, pat, repl in rules:
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
            .cast("long"),
        )
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn(out_col, red)


def chunk_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Sliding-window chunking (RAG/embedding-index style): one row per
    (doc, window) with the window's token span rejoined as text. Windows
    start every ``stride`` tokens; the final window may be short; a doc
    with <= ``size`` tokens yields exactly one window. Per-row explode
    arithmetic — zero shuffle (contrast ``pack_chunks``, which packs
    ACROSS documents and needs the global prefix sum)."""
    if size <= 0 or stride <= 0:
        raise ValueError("chunk_windows: size and stride must be positive")
    toks = F.split(F.col(text_col), " ")
    base = df.select(
        F.col(id_col), toks.alias("__tk"), F.size(toks).alias("__n")
    )
    n_extra = F.expr(f"(__n - {size} + {stride} - 1) div {stride}")
    last_i = F.when(F.col("__n") > size, n_extra).otherwise(F.lit(0))
    win = F.explode(F.sequence(F.lit(0), last_i))
    return (
        base.select(F.col(id_col), "__tk", "__n", win.alias("win_idx"))
        .select(
            F.col(id_col),
            F.col("win_idx").cast("long").alias("win_idx"),
            F.concat_ws(
                " ", F.slice("__tk", F.col("win_idx") * stride + 1, size)
            ).alias("window_text"),
            F.least(
                F.lit(size), F.col("__n") - F.col("win_idx") * stride
            ).cast("long").alias("n_window_tokens"),
        )
    )


# ------------------------------------------------------- F6 vectorized n-gram

NGRAM_STRUCT = T.StructType(
    [
        T.StructField("plen", T.LongType()),
        T.StructField("n_distinct", T.LongType()),
        T.StructField("bigram_distinct", T.LongType()),
        T.StructField("trigram_distinct", T.LongType()),
        T.StructField("ngram_sig", T.LongType()),
        T.StructField("distinct_ratio", T.DoubleType()),
    ]
)

def _distinct_per_row(row_id: np.ndarray, key: np.ndarray, m: int, n_rows: int) -> np.ndarray:
    """Count distinct ``key`` values (ints in ``[0, m)``) per row_id: one
    sort of the packed ``row_id * m + key`` and a boundary scan."""
    if len(row_id) == 0:
        return np.zeros(n_rows, dtype=np.int64)
    packed = np.sort(row_id * m + key)
    new = np.empty(len(packed), dtype=bool)
    new[0] = True
    np.not_equal(packed[1:], packed[:-1], out=new[1:])
    return np.bincount(packed[new] // m, minlength=n_rows).astype(np.int64)


def _dense(key: np.ndarray) -> tuple[np.ndarray, int]:
    """Dense ids of ``key``'s distinct values, and how many there are."""
    uniq, inv = np.unique(key, return_inverse=True)
    return inv.reshape(-1), len(uniq)


def _tokens(
    text: pa.Array, sep: str | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Split a batch of texts in Arrow and dictionary-encode the tokens:
    ``(uniq, codes, row_id, lens)``, where ``uniq[codes]`` is the flat
    token sequence, ``row_id`` its source row and ``lens`` the per-row
    token counts. Callers hash ``uniq`` once and gather with ``codes``.

    ``sep=None`` is ``str.split()`` (runs of Unicode whitespace, no empty
    tokens); ``sep=" "`` is ``str.split(" ")``, i.e. SQL
    ``string_split(text, ' ')`` (empty tokens kept). A null text
    tokenizes as ``""``."""
    text = pc.fill_null(text, "")
    # trimmed first: when the bytes after the batch's last text are not
    # ASCII (buffer padding is not guaranteed zero), Arrow 16's
    # utf8_split_whitespace keeps that text's trailing whitespace in its
    # last token
    lists = (pc.utf8_split_whitespace(pc.utf8_trim_whitespace(text)) if sep is None
             else pc.split_pattern(text, sep))
    flat, row_id = pc.list_flatten(lists), pc.list_parent_indices(lists)
    if sep is None:  # Arrow emits "" for an empty (or all-whitespace) text
        keep = pc.not_equal(flat, "")
        flat, row_id = flat.filter(keep), row_id.filter(keep)
    row_id = row_id.to_numpy().astype(np.int64)
    lens = np.bincount(row_id, minlength=len(text)).astype(np.int64)
    enc = pc.dictionary_encode(flat)
    uniq = enc.dictionary.to_numpy(zero_copy_only=False)
    return uniq, enc.indices.to_numpy(), row_id, lens


_NGRAM_ARROW = to_arrow_schema(NGRAM_STRUCT)


def ngram_stats_batch(text: pa.Array) -> pa.StructArray:
    """Vectorized n-gram stats for one Arrow batch. Token, bigram and
    trigram distinct counts are exact: they count distinct dictionary
    codes of the tokens, and of dense ids of adjacent code pairs and
    triples (``_dense``, so no packed key can overflow), with one sort per
    n-gram order. The document signature is pandas' stable 64-bit string
    hash. No per-row Python loop anywhere — one Arrow split per batch."""
    n = len(text)
    uniq, codes, row_id, lens = _tokens(text)
    m = len(uniq)
    c = codes.astype(np.int64)

    n_distinct = _distinct_per_row(row_id, c, m, n)

    # short batches need no guard: the shifted slices are just empty; a
    # pair or triple that crosses rows gets an id too, but is never counted
    same2 = row_id[1:] == row_id[:-1]
    same3 = same2[1:] & same2[:-1]
    d2, m2 = _dense(c[:-1] * m + c[1:])
    bi = _distinct_per_row(row_id[1:][same2], d2[same2], m2, n)
    d3, m3 = _dense(d2[:-1][same3] * m + c[2:][same3])
    tri = _distinct_per_row(row_id[2:][same3], d3, m3, n)

    texts = pc.fill_null(text, "").to_numpy(zero_copy_only=False)
    sig = pd.util.hash_array(texts, categorize=False).astype(np.int64)
    lens_f = lens.astype(np.float64)
    ratio = np.where(lens_f > 0, n_distinct / np.maximum(lens_f, 1.0), 0.0)
    cols = [lens, n_distinct, bi, tri, sig, ratio]
    return pa.StructArray.from_arrays(cols, fields=list(_NGRAM_ARROW))


@arrow_udf(NGRAM_STRUCT)
def ngram_features(text: pa.Array) -> pa.Array:
    """Arrow-batched n-gram/signature features (the reference's chunker
    feature pass as one columnar op). Executed once per Arrow batch, Arrow
    in and Arrow out — vectorized Arrow compute and numpy inside, no
    Spark-row-level Python."""
    return ngram_stats_batch(text)


def with_ngram_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` plus the six ``NGRAM_STRUCT`` columns of ``text_col``, added
    in one projection with ``withColumn``'s semantics: a column of ``df``
    with the same name is replaced where it stands."""
    fields = [f.name for f in NGRAM_STRUCT.fields]
    cols = [f"__nf.{c} AS {c}" if c in fields else ident(c) for c in df.columns]
    cols += [f"__nf.{c} AS {c}" for c in fields if c not in df.columns]
    out = df.select("*", ngram_features(F.col(text_col)).alias("__nf"))
    return out.selectExpr(*cols)


# ----------------------------------------------------------- TF-IDF


def tfidf_topk(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document — pure Catalyst: one token explode,
    two hash aggregations (term frequency, document frequency), idf from an
    in-plan broadcast of the corpus count (no driver-side collect), one
    rank window. idf = ln(N / df); rank orders by the ROUNDED score (then
    term asc) so the ordering is reproducible across engines.

    Scale shape: the explode shuffles on (id, tok) and (tok) — both
    map-side combinable; df-per-term is vocabulary-sized; the corpus count
    comes from parquet row-group metadata."""
    # explode_outer, not explode: a plain explode makes Catalyst infer a
    # size(split(text)) > 0 filter that re-runs the split once more per row
    # (InferFiltersFromGenerate — see operators/dedup.py _distinct_grams)
    toks = (
        df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__tk"))
        .select(F.col(id_col), F.explode_outer("__tk").alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "tok", "score")
    )


# ----------------------------------------------------------------- BM25


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25 for a fixed query-term list — the retrieval
    scorer a training-data curation pipeline uses to pull topical slices
    out of a corpus. Pure Catalyst: the token explode is filtered to the
    query terms BEFORE any aggregation (the only per-corpus pass is the
    scan itself), corpus stats (N, avg doc length) ride in as a 1-row
    broadcast, and the final top-k is a TakeOrdered — no full sort.

    idf = ln(1 + (N - df + 0.5) / (df + 0.5)); score rounded to 6dp for
    cross-engine reproducibility (verified against the same formula in
    DuckDB by the driver oracle)."""
    terms = F.array(*[F.lit(t) for t in query_terms])
    # token array materialized in its OWN projection (multi-referenced by
    # dl and the explode, so CollapseProject keeps it — one split per row
    # instead of three: dl, explode, and the explode's inferred filter)
    toks = (
        df.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("__tk")
        )
        .select(
            F.col(id_col),
            F.size("__tk").alias("dl"),
            F.explode_outer("__tk").alias("tok"),
        )
        .filter(F.array_contains(terms, F.col("tok")))
    )
    tf = toks.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    stats = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(F.split(F.col(text_col), " "))).alias("avg_dl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    w = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avg_dl")))
    )
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(w), 6).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


# ----------------------------------------------------------- language ID

_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "et", "des"),
}


def with_lang_id(df: DataFrame, text_col: str = "text",
                 out_col: str = "lang_pred") -> DataFrame:
    """n-gram-heuristic language ID: argmax over per-language stopword hit
    counts; ties resolve in _LANG_MARKERS declaration order; 'und'
    (undetermined) when nothing matches. Pure Catalyst."""
    toks = tokenize(text_col)
    scores = {}
    for lang, markers in _LANG_MARKERS.items():
        arr = F.array([F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t))))
    m = F.greatest(*scores.values())
    expr = F.lit("und")
    pred = F.when(m == 0, F.lit("und"))
    for lang in _LANG_MARKERS:
        pred = pred.when(scores[lang] == m, F.lit(lang))
    return df.withColumn(out_col, pred.otherwise(expr))


def token_frequency_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    hot_min: int = 10_000,
) -> DataFrame:
    """Corpus-relative token-frequency scoring — the integer-exact stand-in
    for unigram-LM perplexity filtering (CCNet lineage): documents made of
    globally rare tokens (typos, junk, OCR noise) score a low mean token
    frequency and a high OOV rate against the ``min_count``-pruned
    vocabulary; boilerplate scores high. All outputs are INTEGERS (the
    x1e4 / x1e6 fixed-point columns), so the numbers are bitwise
    reproducible in any engine — a log-probability formulation would hinge
    on cross-engine ``ln`` rounding (see BASELINE.md's average-rounding
    trap, same class).

    Returns (id_col, n_tokens, sum_tf, mean_tf_x1e4, oov_count,
    oov_rate_x1e6): sum_tf = sum over the doc's token instances of each
    token's GLOBAL occurrence count; mean_tf_x1e4 = floor(sum_tf * 1e4 /
    n_tokens) computed overflow-safely as div/mod; oov_count = doc tokens
    whose global count < ``min_count``.

    Scale shape: one explode -> per-(doc, token) counts (shuffle on
    (id, tok) — skew-free, multiplicities bounded by doc length), the
    vocabulary derived from the SAME relation by a second partial-agged
    shuffle, and the frequency join split head/tail: tokens with global
    count >= ``hot_min`` ("the", "of" — the keys that would melt a plain
    shuffle join) broadcast; the remainder shuffle-joins with key
    multiplicity bounded by ``hot_min`` docs. Diverted rows take a
    per-doc salted key (a leading space — a split-token can never contain
    one) so they spread instead of re-concentrating."""
    toks = F.split(F.col(text_col), " ")
    dt = (
        df.select(F.col(id_col).alias("id"), F.explode_outer(toks).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = dt.groupBy("tok").agg(F.sum("cnt").alias("C"))
    head = vocab.filter(F.col("C") >= hot_min).select(
        "tok", F.col("C").alias("__hc")
    )
    tail = vocab.filter(F.col("C") < hot_min).select(
        "tok", F.col("C").alias("__tc")
    )
    salted = F.concat(F.lit(" "), F.col("id").cast("string"))
    with_head = dt.join(F.broadcast(head), "tok", "left").withColumn(
        "__jk", F.when(F.col("__hc").isNotNull(), salted).otherwise(F.col("tok"))
    )
    scored = with_head.join(
        tail.withColumnRenamed("tok", "__jk"), "__jk", "left"
    ).withColumn("__C", F.coalesce("__hc", "__tc"))
    per_doc = scored.groupBy("id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * F.col("__C")).alias("sum_tf"),
        F.sum(
            F.when(F.col("__C") < min_count, F.col("cnt")).otherwise(F.lit(0))
        ).alias("oov_count"),
    )
    # floor(x * s / n) without overflow: (x div n)*s + ((x mod n)*s) div n
    def _fixed(x: str, s: int) -> F.Column:
        return (
            F.expr(f"({x} div n_tokens) * {s}")
            + F.expr(f"(({x} % n_tokens) * {s}) div n_tokens")
        ).cast("bigint")

    return per_doc.select(
        F.col("id").alias(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("sum_tf").cast("bigint").alias("sum_tf"),
        _fixed("sum_tf", 10_000).alias("mean_tf_x1e4"),
        F.col("oov_count").cast("bigint").alias("oov_count"),
        _fixed("oov_count", 1_000_000).alias("oov_rate_x1e6"),
    )


def normalize_for_dedup(col: str | Column) -> Column:
    """Canonical text normalization BEFORE hashing/shingling — the step
    real curation pipelines run so that case, punctuation and whitespace
    variants of the same passage dedup together (the difference between
    "exact" dedup and what practitioners actually mean by it).

    Chain (pure Catalyst, Java∩RE2 regex subset so any engine
    reproduces it bit-for-bit — the with_redaction pattern discipline):
    lowercase -> every non-[a-z0-9] run becomes ONE space -> trim.
    NULL passes through as NULL (callers' null-text accounting, e.g.
    the dedup pipeline's __null_text__ fingerprint, stays intact)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def token_bigram_counts(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Corpus-wide token bigram count table (w1, w2, n_pairs) — the
    n-gram language-model / next-token statistics a data pipeline
    publishes for perplexity filtering, vocabulary induction, or a
    classic bigram LM baseline.

    Pair construction is ZERO-shuffle pure Catalyst: tokens come from
    the corpus's single-space convention (``split(text, ' ')``, the
    same tokenization the tokenize/oracle contract pins), and each
    doc's consecutive pairs are built with arrays_zip over two slices
    of the SAME token array — no posexplode self-join, no per-doc
    window. The only exchange is the final count aggregation, which is
    map-side combinable and keyed by the (vocabulary²-bounded, in
    practice Zipf-tiny) pair domain.

    ``min_count`` prunes the long tail AFTER full aggregation (a
    HAVING, not a sample) — the published table stays exact for the
    pairs it contains."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("w1"),
            F.slice(toks, 2, n - 1).alias("w2"),
        ),
    ).otherwise(F.array())
    out = (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    if min_count > 1:
        out = out.filter(F.col("n_pairs") >= min_count)
    return out


def cooccurrence_counts(
    df: DataFrame,
    text_col: str = "text",
    max_tokens: int = 32,
) -> DataFrame:
    """Document-level token co-occurrence counts — the integer core of
    PMI / word-association features: for every unordered token pair
    (a < b) that co-occurs in a document, how many documents contain
    both (n_ab), plus each token's document frequency (n_a, n_b) and
    the corpus size (n_docs), so PMI = log(n_ab * n_docs / (n_a * n_b))
    is one float expression away for the caller. Counts stay integers
    end-to-end — bitwise reproducible in any engine; the log is the
    caller's presentation choice, not pipeline state.

    Per doc the token SET is lowercased, restricted to [a-z0-9]+ forms
    (ASCII-only tokens sort identically under Java's UTF-16 and
    UTF-8-byte collations — the cross-engine string-order trap), and
    capped at the ``max_tokens`` lexicographically-first distinct
    tokens, bounding pair fan-out at max_tokens²/2 per document by
    construction (the hot-doc guard — a 10^6-token doc contributes no
    more pairs than a 100-token doc). Pair generation is an in-plan
    index HOF over the sorted capped array — zero shuffle; the pair
    count and the marginal document frequencies are two map-side
    combinable aggregations over the SAME exploded relation, met by a
    broadcast join on the (tiny) token marginals."""
    toks = F.array_sort(
        F.array_distinct(
            F.filter(
                F.transform(
                    F.split(F.lower(F.col(text_col)), " "),
                    lambda t: F.regexp_replace(t, "[^a-z0-9]", ""),
                ),
                lambda t: t != "",
            )
        )
    )
    capped = F.slice(toks, 1, max_tokens)
    per_doc = df.select(capped.alias("__toks"))
    # doc frequency of each kept token (marginals) + corpus size
    tok_rel = per_doc.select(F.explode("__toks").alias("tok"))
    marg = tok_rel.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_tok")
    )
    n_docs = per_doc.select(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    # unordered pairs from the sorted array: for index i, zip t[i] with
    # every later element — flatten(transform_with_index) is pure
    # codegen, no join
    pair_arr = F.flatten(
        F.transform(
            F.col("__toks"),
            lambda t, i: F.transform(
                F.slice(
                    F.col("__toks"), i + 2, F.size(F.col("__toks"))
                ),
                lambda u: F.struct(t.alias("a"), u.alias("b")),
            ),
        )
    )
    pairs = (
        per_doc.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    return (
        pairs.join(
            F.broadcast(marg.withColumnRenamed("tok", "a")
                        .withColumnRenamed("df_tok", "n_a")), "a")
        .join(
            F.broadcast(marg.selectExpr("tok AS b", "df_tok AS n_b")), "b")
        .crossJoin(F.broadcast(n_docs))
        .select("a", "b", "n_ab", "n_a", "n_b", "n_docs")
    )


def char_pair_counts(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-weighted adjacent character-pair counts inside words —
    the statistic a BPE tokenizer's FIRST merge decision reads (count
    every adjacent symbol pair over the word-frequency-weighted
    vocabulary, merge the argmax). Emitting the full table instead of
    one argmax keeps the operator an honest relation: the trainer
    folds it, audits read it, and repeated merges re-derive it over a
    re-segmented vocabulary.

    Tokens are the cooccurrence_counts normalization (lowercased
    [a-z0-9]+ forms, ASCII-only so pair strings collate identically
    across engines); words shorter than 2 characters carry no pair.
    The count weights each word's pairs by the word's total corpus
    OCCURRENCES (not document frequency) — the BPE convention.

    Scale shape: one word-count aggregation over the exploded token
    stream (map-side combinable, vocabulary-sized result), then the
    pair explode runs over the DISTINCT vocabulary — corpus size buys
    vocabulary growth only logarithmically, so the expensive explode
    is over the small relation; one final pair aggregation."""
    toks = F.filter(
        F.transform(
            F.split(F.lower(F.col(text_col)), " "),
            lambda t: F.regexp_replace(t, "[^a-z0-9]", ""),
        ),
        lambda t: F.length(t) >= 2,
    )
    words = (
        df.select(F.explode_outer(toks).alias("w"))
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.substring(F.col("w"), i.cast("int"), 2),
    )
    return (
        words.select(F.col("__n"), F.explode_outer(pairs).alias("pair"))
        .filter(F.col("pair").isNotNull())
        .groupBy("pair")
        .agg(F.sum("__n").cast("bigint").alias("n_pairs"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 16,
    return_final_vocab: bool = False,
) -> DataFrame | tuple:
    """X16: distributed BPE tokenizer TRAINING — iterate the merge rule
    ``char_pair_counts`` computes once: per step, count corpus-weighted
    adjacent symbol pairs over the vocabulary, merge the argmax into a
    new symbol, re-segment, repeat. Returns the merge table
    (step, left, right, pair_count) — the artifact a tokenizer ships
    (apply = replay the merges in order).

    Determinism: the argmax tie rule is pinned (count desc, left asc,
    right asc), so the merge list is reproducible anywhere; symbols
    are plain strings, the ASCII-normalized token forms of
    cooccurrence_counts/char_pair_counts.

    Scale shape — the reason BPE training is feasible at 100 TB: ONE
    corpus-sized aggregation total (the word-count pass, map-side
    combinable), after which every iteration runs over the
    vocabulary-sized (word, symbols, n) relation only: a pair explode +
    one combinable agg + a 1-row argmax collect + a pure-Catalyst fold
    (``aggregate``) that applies the merge left-to-right
    non-overlapping — greedy exactly like the reference algorithm,
    because a merged symbol's string differs from its left part, so a
    fresh overlap cannot chain within one pass. The vocabulary
    relation is localCheckpointed per step (tiny; untruncated loops
    re-plan the whole history — the connected_components trap). Each
    merge decision is a 1-row driver action: bounded metadata, the
    same budget as connected_components' convergence counts.

    ``return_final_vocab=True`` additionally applies the LAST merge
    (otherwise skipped — it only exists to feed a next step) and
    returns ``(merge_table, final_vocab)`` with final_vocab =
    (w, syms): the per-word segmentation under the full learned merge
    list. The encode half (``bpe_encode_counts``) consumes it to skip
    re-deriving and re-folding the identical vocabulary."""
    if n_merges < 1:
        raise ValueError("bpe_train: n_merges must be >= 1")
    toks = F.filter(
        F.transform(
            F.split(F.lower(F.col(text_col)), " "),
            lambda t: F.regexp_replace(t, "[^a-z0-9]", ""),
        ),
        lambda t: F.length(t) >= 2,
    )
    vocab = (
        df.select(F.explode_outer(toks).alias("w"))
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "w",
            # split at every inter-character position; the lookahead
            # also matches at end-of-string, so drop the trailing ""
            F.filter(
                F.split(F.col("w"), "(?!^)"), lambda s: s != ""
            ).alias("syms"),
            "n",
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        pair_rel = (
            vocab.select(
                F.explode_outer(
                    F.when(
                        F.size("syms") >= 2,
                        F.transform(
                            F.sequence(F.lit(0), F.size("syms") - 2),
                            lambda i: F.struct(
                                F.col("syms")[i].alias("l"),
                                F.col("syms")[i + 1].alias("r"),
                            ),
                        ),
                    ).otherwise(F.array().cast("array<struct<l:string,r:string>>")),
                ).alias("p"),
                "n",
            )
            .filter(F.col("p").isNotNull())
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").cast("bigint").alias("cnt"))
        )
        best = pair_rel.orderBy(
            F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc()
        ).first()
        if best is None:
            break
        left, right, cnt = best["l"], best["r"], int(best["cnt"])
        merges.append((step, left, right, cnt))
        if step == n_merges and not return_final_vocab:
            # the re-segmentation only exists to feed the NEXT step's
            # pair counts; after the final merge decision it is a pure
            # extra vocabulary pass — skip it (the merge table is
            # already complete and unchanged) unless the caller asked
            # for the fully-folded vocabulary
            break
        merged = F.concat(F.lit(left), F.lit(right))
        # left-to-right non-overlapping merge application as a pure fold;
        # LAZY checkpoint: lineage still truncates, and the next step's
        # argmax action is what materializes it — one job per step
        # instead of two
        vocab = vocab.select(
            "w",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(left))
                    & (s == F.lit(right)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ).alias("syms"),
            "n",
        ).localCheckpoint(eager=False)
    spark = df.sparkSession
    merge_df = spark.createDataFrame(
        merges, "step int, left string, right string, pair_count bigint"
    )
    if return_final_vocab:
        return merge_df, vocab.select("w", "syms")
    return merge_df


def bpe_encode_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_syms: DataFrame | None = None,
) -> DataFrame:
    """X16 (encode half): apply a LEARNED BPE merge list to a corpus and
    report per-document token counts — the deploy-side of ``bpe_train``
    (train emits the merge table; encode replays it), so the repo
    carries the full tokenizer lifecycle, and the count is the number a
    data-mixture or context-budget pipeline actually consumes.

    Replays each merge in learned order with the SAME left-to-right
    non-overlapping Catalyst fold as training (greedy-exact for the
    same reason: a merged symbol's string differs from its left part).
    Words are the bpe_train normalization (lowercase, non-alnum
    stripped, length >= 2); documents with no valid words report 0/0.

    Scale shape: the merge replay runs over the DISTINCT-vocabulary
    relation only (vocab-sized, like training's iterations — the corpus
    is never re-folded per merge); per-word token counts broadcast-join
    back onto the exploded (doc, word) relation, then ONE combinable
    per-doc aggregation. Merge lists are bounded tokenizer artifacts
    (30-50k entries in production BPE) — plan-time literals, the same
    class as a broadcast dimension.

    ``vocab_syms``: optional (w, syms) relation ALREADY folded through
    ``merges`` — ``bpe_train(..., return_final_vocab=True)``'s second
    output over the SAME corpus and token rule (the caller's contract).
    Skips re-deriving the distinct vocabulary and replaying the folds:
    train-then-encode pipelines pay the segmentation once."""
    toks = F.filter(
        F.transform(
            F.split(F.lower(F.col(text_col)), " "),
            lambda t: F.regexp_replace(t, "[^a-z0-9]", ""),
        ),
        lambda t: F.length(t) >= 2,
    )
    rel = (
        df.select(F.col(id_col), F.explode_outer(toks).alias("w"))
        .filter(F.col("w").isNotNull())
    )
    if vocab_syms is not None:
        per_word = vocab_syms.select(
            "w", F.size("syms").cast("bigint").alias("n_toks")
        )
        agg = rel.join(F.broadcast(per_word), "w").groupBy(id_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
        return df.select(id_col).join(agg, id_col, "left").select(
            id_col,
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    vocab = rel.select("w").distinct().select(
        "w",
        F.filter(F.split(F.col("w"), "(?!^)"), lambda s: s != "").alias("syms"),
    )
    for left, right in merges:
        merged = F.concat(F.lit(left), F.lit(right))
        vocab = vocab.select(
            "w",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(left))
                    & (s == F.lit(right)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ).alias("syms"),
        )
    per_word = vocab.select("w", F.size("syms").cast("bigint").alias("n_toks"))
    agg = rel.join(F.broadcast(per_word), "w").groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
    )
    return df.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
    )
