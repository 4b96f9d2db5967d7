"""Property tests for the vectorized text kernels: the Arrow tokenizer and
the n-gram, MinHash and SimHash batches built on it must agree with naive
per-row Python on arbitrary whitespace/unicode."""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_schema

from tgist_features_spark.functions.text import (
    NGRAM_STRUCT,
    _tokens,
    ngram_stats_batch,
)

texts = st.lists(
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_characters=["\x00"],
        ),
        max_size=40,
    ),
    min_size=0,
    max_size=30,
)

# explicit batches every text-kernel property also runs on
_ISSPACE = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]
_EDGE_BATCHES = [
    ["a\x01b c", "\x01", " \x01 x \x01 "],  # the old join sentinel
    ["a" + c + "b" for c in _ISSPACE],  # every str.isspace() code point
    ["  lead", "trail  ", " both ", "   ", "\t\n", ""],
    [],  # empty batch
    [None, None],  # all-null batch
]


def _with_edges(test):
    for rows in _EDGE_BATCHES:
        test = example(rows)(test)
    return test


@settings(max_examples=200, deadline=None)
@given(texts)
@_with_edges
def test_flat_tokens_matches_str_split(rows):
    uniq, codes, row_id, lens = _tokens(pa.array(rows, type=pa.string()))
    ref = [(r or "").split() for r in rows]
    assert lens.tolist() == [len(t) for t in ref]
    assert uniq[codes].tolist() == [t for toks in ref for t in toks]
    assert row_id.tolist() == [i for i, toks in enumerate(ref) for _ in toks]
    assert len(set(uniq.tolist())) == len(uniq)


def test_flat_tokens_ignore_bytes_after_last_text():
    """The bytes after a batch's last text (buffer padding, not guaranteed
    zero) must not change its tokens, for every whitespace it can end in."""
    for last in [*["a" + c for c in _ISSPACE], *["a" + c + "b " for c in _ISSPACE]]:
        for tail in (b"\x00", b"\x80", b"\xc2", b"\xff"):
            batch = ["q r", last]
            data = "".join(batch).encode()
            offsets = pa.array([0, len(batch[0].encode()), len(data)], pa.int32())
            arr = pa.StringArray.from_buffers(
                2, offsets.buffers()[1], pa.py_buffer(data + tail)
            )
            uniq, codes, row_id, lens = _tokens(arr)
            ref = [r.split() for r in batch]
            assert uniq[codes].tolist() == [t for toks in ref for t in toks], (last, tail)
            assert lens.tolist() == [len(t) for t in ref]


@settings(max_examples=100, deadline=None)
@given(texts)
@_with_edges
def test_space_tokens_matches_str_split_space(rows):
    uniq, codes, row_id, lens = _tokens(pa.array(rows, type=pa.string()), sep=" ")
    ref = [(r or "").split(" ") for r in rows]
    assert lens.tolist() == [len(t) for t in ref]
    assert uniq[codes].tolist() == [t for toks in ref for t in toks]
    assert row_id.tolist() == [i for i, toks in enumerate(ref) for _ in toks]
    assert len(set(uniq.tolist())) == len(uniq)


@settings(max_examples=100, deadline=None)
@given(texts)
@_with_edges
def test_ngram_stats_match_naive_sets(rows):
    got = ngram_stats_batch(pa.array(rows, type=pa.string()))
    assert got.type == pa.struct(list(to_arrow_schema(NGRAM_STRUCT)))
    toks = [(r or "").split() for r in rows]
    assert got.field("plen").to_pylist() == [len(t) for t in toks]
    assert got.field("n_distinct").to_pylist() == [len(set(t)) for t in toks]
    assert got.field("bigram_distinct").to_pylist() == [
        len({(a, b) for a, b in zip(t, t[1:])}) for t in toks
    ]
    assert got.field("trigram_distinct").to_pylist() == [
        len({(a, b, c) for a, b, c in zip(t, t[1:], t[2:])}) for t in toks
    ]
    sig = pd.util.hash_array(np.array([r or "" for r in rows], dtype=object))
    assert got.field("ngram_sig").to_pylist() == sig.astype(np.int64).tolist()


# ---------------------------------------------------------------- MinHash

from hypothesis import given, settings
from hypothesis import strategies as st

from tgist_features_spark.operators.dedup import _MIXA, _M61, _minhash_batch


def _naive_minhash(texts, n_hashes, shingle, seed):
    """Reference implementation: per-doc python loop, same hash family."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _M61, size=n_hashes, dtype=np.uint64)
    b = rng.integers(0, _M61, size=n_hashes, dtype=np.uint64)
    out = []
    for text in texts:
        toks = (text or "").split()
        th = pd.util.hash_array(np.asarray(toks, dtype=object)).astype(np.uint64) \
            if toks else np.empty(0, np.uint64)
        shingles = []
        with np.errstate(over="ignore"):
            if len(th) >= shingle:
                for i in range(len(th) - shingle + 1):
                    v = th[i]
                    for x in th[i + 1 : i + shingle]:
                        v = v * _MIXA + x
                    shingles.append(v)
            else:  # whole-doc shingle (empty doc -> hash of "")
                if len(th) == 0:
                    v = pd.util.hash_array(np.array([""], dtype=object)).astype(np.uint64)[0]
                else:
                    v = th[0]
                    for x in th[1:]:
                        v = v * _MIXA + x
                shingles.append(v)
            sh = np.asarray(shingles, dtype=np.uint64) % _M61
            vals = (a[:, None] * sh[None, :] + b[:, None]) % _M61
        out.append(vals.min(axis=1).astype(np.int64))
    return out


_token = st.text(alphabet="abcxyz", min_size=1, max_size=4)
_doc = st.lists(_token, min_size=0, max_size=12).map(" ".join)


@settings(max_examples=60, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=12))
@_with_edges
def test_minhash_segmented_matches_naive(docs):
    """The segmented reduceat vectorization must agree with a naive per-doc
    loop on every doc — including empty docs, sub-shingle docs, and batch
    boundaries (tiny chunk size forces multi-chunk paths)."""
    got = _minhash_batch(pd.Series(docs), n_hashes=8, shingle=3, seed=9,
                         max_chunk_vals=16)
    ref = _naive_minhash(docs, n_hashes=8, shingle=3, seed=9)
    for g, r in zip(got, ref):
        np.testing.assert_array_equal(np.asarray(g), r)


# ------------------------------------------------- vectorized SimHash


def _simhash_naive(text: str) -> int:
    """Slow per-doc reference: the definition the vectorized batch must
    reproduce (single-space split, md5 token hash, sign of ±1 bit sums)."""
    import hashlib

    toks = text.split(" ")
    acc = [0] * 64
    for t in toks:
        h = int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
        for j in range(64):
            acc[j] += 1 if (h >> j) & 1 else -1
    sig = sum(1 << j for j in range(64) if acc[j] > 0)
    return sig - (1 << 64) if sig >= (1 << 63) else sig


@settings(max_examples=100, deadline=None)
@given(texts)
@_with_edges
def test_simhash_batch_matches_naive(rows):
    from tgist_features_spark.operators.dedup import _simhash_batch

    got = _simhash_batch(pd.Series(rows, dtype=object))
    ref = np.array([_simhash_naive(t or "") for t in rows], dtype=np.int64)
    assert (got == ref).all(), (got, ref)


def test_simhash_signature_of_null_is_that_of_empty(spark):
    """A null text signs as "" — never null, so the non-nullability
    coalesce in ``simhash_signatures`` never fires."""
    from tgist_features_spark.operators.dedup import simhash_signatures

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    got = {r.id: r.simhash for r in simhash_signatures(df).collect()}
    assert got[1] == got[2] == _simhash_naive("")
    assert got[3] == _simhash_naive("a b")


def test_simhash_batch_chunking_invariant():
    """Doc-chunked reduceat must give identical signatures whatever the
    chunk budget (exercises multi-chunk and oversized-doc paths)."""
    from tgist_features_spark.operators.dedup import _simhash_batch

    rows = ["a b c d e f g h", "x", "", "lorem ipsum " * 30, "q r s"]
    s = pd.Series(rows, dtype=object)
    ref = _simhash_batch(s)
    for budget in (1, 4, 64):
        assert (_simhash_batch(s, chunk_tokens=budget) == ref).all()


# --- round-6: deletion-neighborhood exact recall (Spark-backed; uses
# the conftest spark fixture like the other property suites)

words = st.lists(
    st.text(alphabet="abcd", min_size=2, max_size=7),
    min_size=1,
    max_size=25,
)


@settings(max_examples=20, deadline=None)
@given(words)
def test_vocab_edit1_perfect_recall_property(spark, ws):
    """The FastSS claim, adversarially: over a tiny alphabet (dense
    edit-1 neighborhoods), the signature-join pair set equals the
    brute-force set EXACTLY — no missed pair (recall), no extra pair
    (the levenshtein filter)."""
    from tgist_features_spark.operators.dedup import vocab_edit1_pairs

    doc = " ".join(ws)
    got = {
        (r.w_a, r.w_b)
        for r in vocab_edit1_pairs(
            spark.createDataFrame([(doc,)], ["text"]), min_len=2
        ).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    vocab = {w for w in ws if len(w) >= 2}
    exp = {(a, b) for a in vocab for b in vocab if a < b and lev(a, b) == 1}
    assert got == exp


def test_bpe_train_matches_reference(spark):
    """X16: the distributed BPE trainer's merge list equals the
    classic reference algorithm (count adjacent pairs over the
    word-frequency vocabulary, merge the argmax with the pinned
    (count desc, left asc, right asc) tie rule, re-segment, repeat) —
    on the canonical low/lower/newest/widest corpus and on random
    corpora with engineered ties."""
    import numpy as np

    from tgist_features_spark.functions.text import bpe_train

    def ref_bpe(word_counts, n_merges):
        vocab = {tuple(w): n for w, n in word_counts.items()}
        merges = []
        for step in range(1, n_merges + 1):
            stats = {}
            for syms, n in vocab.items():
                for i in range(len(syms) - 1):
                    stats[(syms[i], syms[i + 1])] = (
                        stats.get((syms[i], syms[i + 1]), 0) + n
                    )
            if not stats:
                break
            (l, r), c = min(
                stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((step, l, r, c))
            new_vocab = {}
            for syms, n in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == l
                            and syms[i + 1] == r):
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
            vocab = new_vocab
        return merges

    def run_case(words, n_merges):
        # build a corpus whose word counts are exactly `words`
        rows = []
        for w, n in words.items():
            rows.extend([w] * n)
        rng = np.random.default_rng(43)
        rng.shuffle(rows)
        docs = [" ".join(rows[i::7]) for i in range(7)]
        df = spark.createDataFrame([(d,) for d in docs], ["text"])
        got = [
            (r["step"], r["left"], r["right"], r["pair_count"])
            for r in bpe_train(df, "text", n_merges).collect()
        ]
        want = ref_bpe(words, n_merges)
        assert got == want, (got, want)

    # the canonical BPE-paper corpus: 'es' then 'est' merge first
    run_case({"low": 5, "lower": 2, "newest": 6, "widest": 3}, 6)
    # random corpus with deliberate count ties (tie rule must decide)
    rng = np.random.default_rng(47)
    alphabet = list("abcd")
    words = {}
    for _ in range(30):
        w = "".join(rng.choice(alphabet, rng.integers(2, 7)))
        words[w] = int(rng.integers(1, 5))
    run_case(words, 10)


def test_bpe_encode_counts_matches_reference(spark):
    """X16 encode half: replaying a merge list equals the classic
    greedy left-to-right non-overlapping application per word,
    including the overlap cases ('aaaa' with (a,a) -> two 'aa'
    tokens, chained merges consuming earlier outputs), word
    normalization, and 0/0 for wordless docs."""
    import pandas as pd

    from tgist_features_spark.functions.text import bpe_encode_counts

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "aaaa aab the theme",
            "Theme THEME th-eme!!",
            "x !!",          # 'x' too short, '!!' strips empty -> wordless
            "abab ababab aa",
        ],
    })
    merges = [("a", "a"), ("t", "h"), ("th", "e"), ("a", "b")]

    def encode(word: str) -> int:
        syms = list(word)
        for left, right in merges:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            syms = out
        return len(syms)

    import re
    want = {}
    for _, r in docs.iterrows():
        words = [
            re.sub(r"[^a-z0-9]", "", t) for t in r["text"].lower().split(" ")
        ]
        words = [w for w in words if len(w) >= 2]
        want[r["doc_id"]] = (len(words), sum(encode(w) for w in words))

    got = bpe_encode_counts(
        spark.createDataFrame(docs), merges, "doc_id", "text"
    ).toPandas().set_index("doc_id").sort_index()
    for did, (nw, nt) in want.items():
        assert (got.loc[did, "n_words"], got.loc[did, "n_tokens"]) == (nw, nt)
    assert want[3] == (0, 0)  # pinned: wordless docs report zeros
